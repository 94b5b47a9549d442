"""Streaming incremental dedup: documents arrive as a stream, each
micro-batch is near-dup-checked against the accumulated fingerprint
index and its band rows are appended — the dedup-axis analogue of the
reference's watermark-incremental candle collection
(crypto_collector.py:481-520).

Per micro-batch cost is O(batch + collisions): shingle+sign the batch,
one equi-join against the accumulated band-row index, append.  State
lives entirely in two snapshot lakes (fingerprint index + pair log),
NOT in streaming state stores — so it survives checkpoint wipes, is
readable by batch jobs mid-stream, and has no watermark-bounded window:
a duplicate of a document ingested a year ago is still caught, which
dropDuplicatesWithinWatermark cannot do.  ``foreachBatch`` delivers at
least once; each batch appends under its stream-scoped id
(``streaming.identity.start_ledgered_sink``), so a replay is skipped by
the manifest ledger and appends nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    read_snapshot,
    snapshot_append,
)
from crypto_data_ingestion_module_spark.streaming.identity import (
    start_ledgered_sink,
)

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

    ``lake_root`` gains two snapshot lakes, ``fingerprints_md5/`` (band
    rows ``(id, sig, bkey)``) and ``pairs_md5/``.  The index commits
    after the pairs, so a replay after a partial commit skips the pairs
    and still probes an index without the batch's own bands (the
    curate_stream recovery contract).
    """
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        incremental_minhash_md5_pairs,
    )

    index_path = os.path.join(lake_root, INDEX_MD5_SUBDIR)
    pairs_path = os.path.join(lake_root, PAIRS_MD5_SUBDIR)

    def _commit(batch_df: DataFrame, bid: str) -> None:
        spark = batch_df.sparkSession
        index = (
            read_snapshot(spark, index_path)
            if current_version(spark, index_path) is not None
            else None
        )
        pairs, new_bands = incremental_minhash_md5_pairs(
            batch_df, index, num_hashes, bands, shingle_n, text_col, id_col
        )
        snapshot_append(spark, pairs_path, pairs, (), applied_id=bid)
        snapshot_append(spark, index_path, new_bands, (), applied_id=bid)

    return start_ledgered_sink(source, checkpoint, _commit, available_now)


def read_dedup_pairs_md5(spark: SparkSession, lake_root: str) -> DataFrame:
    return read_snapshot(spark, os.path.join(lake_root, PAIRS_MD5_SUBDIR))
