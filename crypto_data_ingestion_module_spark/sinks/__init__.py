from crypto_data_ingestion_module_spark.sinks.shards import (  # noqa: F401
    read_manifest,
    read_shard,
    write_training_shards,
)
from crypto_data_ingestion_module_spark.sinks.snapshot import (  # noqa: F401
    compact_snapshot,
    current_version,
    init_snapshot_lake,
    optimize_snapshot_zorder,
    read_snapshot,
    snapshot_append,
    snapshot_changes,
    snapshot_delete,
    snapshot_merge_partitions,
    snapshot_restore,
    snapshot_upsert,
    vacuum,
)
from crypto_data_ingestion_module_spark.sinks.zorder import (  # noqa: F401
    read_pruned,
    write_zordered,
)
