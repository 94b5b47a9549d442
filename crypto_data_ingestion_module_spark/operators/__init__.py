"""Relational operators: dedup, resample, merge — the reference's save-path
semantics (crypto_collector.py:523-558) re-expressed as DataFrame algebra."""

from crypto_data_ingestion_module_spark.operators.dedup import (  # noqa: F401
    dedup_keep_last,
    dedup_keep_last_window,
)
from crypto_data_ingestion_module_spark.operators.resample import (  # noqa: F401
    resample_ohlcv,
)
from crypto_data_ingestion_module_spark.operators.merge import (  # noqa: F401
    merge_keep_last,
)

# LLM-data-pipeline curation surface (SURVEY §2.10, rounds 2-3)
from crypto_data_ingestion_module_spark.operators.curation import (  # noqa: F401
    materialize_clusters,
    read_clusters,
)
from crypto_data_ingestion_module_spark.operators.decontam import (  # noqa: F401
    contamination_flags,
    decontaminate,
)
from crypto_data_ingestion_module_spark.operators.graph import (  # noqa: F401
    assign_clusters,
    connected_components,
)
from crypto_data_ingestion_module_spark.operators.incremental import (  # noqa: F401
    incremental_near_dup,
)
from crypto_data_ingestion_module_spark.operators.quantize import (  # noqa: F401
    dequantize,
    quantize_embeddings,
    quantized_cosine_topk,
)
from crypto_data_ingestion_module_spark.operators.sampling import (  # noqa: F401
    mixture_sample,
    stratified_reservoir,
)
