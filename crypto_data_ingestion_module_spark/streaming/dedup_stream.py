"""Streaming incremental dedup: documents arrive as a stream, each
micro-batch is near-dup-checked against the accumulated fingerprint
index and its band rows are appended — the dedup-axis analogue of the
reference's watermark-incremental candle collection
(crypto_collector.py:481-520).

Per micro-batch cost is O(batch + collisions): shingle+sign the batch,
one equi-join against the accumulated band-row index, append.  State
lives entirely in two batch-partitioned parquet tables (fingerprint
index + pair log), NOT in streaming state stores — so it survives
checkpoint wipes, is readable by batch jobs mid-stream, and has no
watermark-bounded window: a duplicate of a document ingested a year ago
is still caught, which dropDuplicatesWithinWatermark cannot do.
``foreachBatch`` delivers at least once; each batch overwrites only its
own ``batch_id`` partition, so a replay replaces its own output and
appends nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

INDEX_MD5_SUBDIR = "fingerprints_md5"
PAIRS_MD5_SUBDIR = "pairs_md5"


def stream_dedup_ingest_md5(
    source: DataFrame,
    lake_root: str,
    checkpoint: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming ingest on the ORACLE-PAIRABLE md5 Kirsch–Mitzenmacher
    MinHash family (``operators/text_dedup.py``
    ``incremental_minhash_md5_pairs``) — a hash family a second engine
    can reproduce, which is what lets the accumulated pair log hold a
    driver receipt (registry row ``stream_dedup_pairs``).

    ``lake_root`` gains ``fingerprints_md5/`` (band rows ``(id, sig,
    bkey)``) and ``pairs_md5/`` — both batch-partitioned with dynamic
    overwrite, so a replayed micro-batch replaces exactly its own
    output (the curate_stream recovery contract).
    """
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        incremental_minhash_md5_pairs,
    )
    from crypto_data_ingestion_module_spark.streaming.curate_stream import (
        _exists,
        _write_batch_partition,
    )

    index_path = os.path.join(lake_root, INDEX_MD5_SUBDIR)
    pairs_path = os.path.join(lake_root, PAIRS_MD5_SUBDIR)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        index = (
            spark.read.parquet(index_path).drop("batch_id")
            if _exists(spark, index_path)
            else None
        )
        pairs, new_bands = incremental_minhash_md5_pairs(
            batch_df, index, num_hashes, bands, shingle_n, text_col, id_col
        )
        # force the pair plan before the index gains the batch's bands
        pairs = pairs.localCheckpoint(eager=True)
        _write_batch_partition(pairs, batch_id, pairs_path)
        _write_batch_partition(new_bands, batch_id, index_path)

    writer = source.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_dedup_pairs_md5(spark: SparkSession, lake_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(lake_root, PAIRS_MD5_SUBDIR)).drop(
        "batch_id"
    )
