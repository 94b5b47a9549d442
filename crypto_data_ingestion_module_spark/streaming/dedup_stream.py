"""Streaming incremental dedup: documents arrive as a stream, each
micro-batch is near-dup-checked against the fingerprint lake and its
fingerprints are appended — the streaming face of
``operators.incremental`` (which in turn is the dedup-axis analogue of
the reference's watermark-incremental candle collection,
crypto_collector.py:481-520).

Per micro-batch cost is O(batch + collisions): shingle+sign the batch,
one equi-join against the accumulated band-row index, append.  State
lives entirely in two snapshot lakes (fingerprint index + pair log),
NOT in streaming state stores — so it survives checkpoint wipes, is
readable by batch jobs mid-stream, and has no watermark-bounded window:
a duplicate of a document ingested a year ago is still caught, which
dropDuplicatesWithinWatermark cannot do.  ``foreachBatch`` delivers at
least once; the snapshot lakes' ``applied_ids`` ledger makes each
batch's two commits exactly-once, so a replay appends no band rows and
recommits no pair partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.operators.incremental import (
    incremental_near_dup,
)
from crypto_data_ingestion_module_spark.sinks.snapshot import (
    read_snapshot,
    snapshot_append,
    snapshot_merge_partitions,
)

PAIRS_SUBDIR = "pairs"
INDEX_SUBDIR = "fingerprints"


def stream_dedup_ingest(
    source: DataFrame,
    lake_root: str,
    checkpoint: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming dedup ingestion.

    ``lake_root`` gains two snapshot lakes: ``fingerprints/`` (banded
    MinHash index, append-only, partitioned by band) and ``pairs/``
    (near-dup pair log, partitioned by (stream, micro-batch) id so a
    replayed batch replaces ONLY its own partition).

    The micro-batch id is the ``applied_id`` of both commits, so a
    checkpoint replay appends NO duplicate band rows and recommits NO
    pair partition; readers get isolation.  Crash between the two
    commits is safe: the pair recomputation against an index already
    holding the batch's bands yields the identical pair set (banding is
    order-independent; ``dropDuplicates`` collapses the double match).
    """
    from crypto_data_ingestion_module_spark.streaming.identity import (
        stream_qid,
    )

    index_path = os.path.join(lake_root, INDEX_SUBDIR)
    pairs_path = os.path.join(lake_root, PAIRS_SUBDIR)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        # stream-scoped ledger ids, resolved at sink time so the
        # checkpoint's creation marker scopes them (identity.py)
        qid = stream_qid(checkpoint)
        try:
            index = read_snapshot(sess, index_path)
        except FileNotFoundError:
            index = None
        pairs, new_bands = incremental_near_dup(
            batch_df, index, num_hashes, bands, shingle_n, text_col, id_col
        )
        # force the pair plan before the index gains the batch's bands —
        # afterwards the lazy join would double-see them
        pairs = pairs.localCheckpoint(eager=True)
        snapshot_append(
            sess,
            index_path,
            new_bands,
            partition_cols=("band",),
            applied_id=f"bands-{qid}-{batch_id}",
            ts_col="_no_ts",
        )
        snapshot_merge_partitions(
            sess,
            pairs_path,
            pairs.withColumn("stream_id", F.lit(qid)).withColumn(
                "batch_id", F.lit(batch_id)
            ),
            lambda cur, inc: inc,  # replace: the batch OWNS its partition
            # ownership key is (stream, batch): a different stream's
            # batch 0 must never replace this stream's batch 0
            partition_cols=("stream_id", "batch_id"),
            applied_id=f"pairs-{qid}-{batch_id}",
            ts_col="_no_ts",
        )

    writer = source.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_pair_log(spark: SparkSession, lake_root: str) -> DataFrame:
    return read_snapshot(spark, os.path.join(lake_root, PAIRS_SUBDIR))


def read_fingerprint_index(spark: SparkSession, lake_root: str) -> DataFrame:
    return read_snapshot(spark, os.path.join(lake_root, INDEX_SUBDIR))


INDEX_MD5_SUBDIR = "fingerprints_md5"
# Dedicated pair-log subdir (mirrors INDEX_MD5_SUBDIR): if the md5 and
# xxhash ingests shared a lake_root AND the 'pairs' subdir, dynamic
# partition overwrite keyed by batch_id would silently replace the
# other stream's pair partitions.
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
    ``incremental_minhash_md5_pairs``) — the same band-index + pair-log
    discipline as :func:`stream_dedup_ingest`, on the hash family a
    second engine can reproduce, which is what lets the accumulated
    pair log hold a driver receipt (registry row ``stream_dedup_pairs``).

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
