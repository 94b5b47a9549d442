"""Streaming curation: decontaminate → quality gate → exact-dedup reps →
near-dup cluster reps, run incrementally.

Documents arrive as a stream and each micro-batch pays only
O(batch + collisions) —

- decontamination and the quality gate are stateless per-document
  filters (the benchmark n-gram set is fixed), so they run inside the
  micro-batch at batch cost;
- near-dup state is the accumulated SimHash band index: the batch's
  fingerprints equi-join the index (plus themselves), and band collision
  is a pure pairwise predicate, so the accumulated pair log equals the
  from-scratch pair set over everything ingested — recall 1 stays
  recall 1 incrementally;
- exact dedup and cluster-representative election are GLOBAL minima
  (min doc id per text / per component) that a later batch can overturn
  — a smaller-id duplicate arriving re-elects its group's rep.  They are
  therefore settled once at :func:`settle_curated` from the
  accumulated lakes: one hash-aggregate + a connected-components run
  over the PAIR LOG (edges only, never the corpus) — exactly the
  compact-on-read step a 100 TB incremental pipeline runs before each
  training-set cut, with the expensive pairwise work already amortized
  into the stream.

Replay discipline: every per-batch output (docs, band rows, pairs) is
partitioned by ``batch_id`` and written with dynamic partition
overwrite, so a replayed micro-batch replaces exactly its own output —
idempotent by partition, the same recovery contract as the pair log in
``streaming.dedup_stream``.

The equality contract — :func:`settle_curated` over a streamed corpus
== the same stages over the same docs in one batch — is the
``stream_curated_corpus`` registry row's oracle and is pinned by
``tests/test_curate_stream.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.functions import text as TX
from crypto_data_ingestion_module_spark.operators.decontam import decontaminate
from crypto_data_ingestion_module_spark.operators.graph import assign_clusters
from crypto_data_ingestion_module_spark.operators.text_dedup import (
    incremental_simhash_pairs,
)

DOCS_SUBDIR = "docs"
INDEX_SUBDIR = "simhash_index"
PAIRS_SUBDIR = "pairs"


def _exists(spark: SparkSession, path: str) -> bool:
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def stream_curate_ingest(
    source: DataFrame,
    benchmark: DataFrame | None,
    lake_root: str,
    checkpoint: str,
    quality_min: float = 0.5,
    decontam_n: int = 4,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming curation ingestion.

    ``lake_root`` accumulates three tables, all batch-partitioned:
    ``docs/`` (decontaminated, quality-gated documents), ``simhash_index/``
    (band rows of those documents), ``pairs/`` (near-dup pair log).
    ``benchmark`` is the static contamination reference (None → skip).
    """
    docs_path = os.path.join(lake_root, DOCS_SUBDIR)
    index_path = os.path.join(lake_root, INDEX_SUBDIR)
    pairs_path = os.path.join(lake_root, PAIRS_SUBDIR)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        clean = (
            batch_df
            if benchmark is None
            else decontaminate(batch_df, benchmark, n=decontam_n)
        )
        qdocs = clean.filter(
            TX.quality_score(text_col) >= quality_min
        ).localCheckpoint(eager=True)
        if qdocs.isEmpty():
            return
        # Existence checked explicitly; any other index-read failure
        # propagates and fails the batch (never "first batch ever":
        # that would check the batch only against itself and admit
        # duplicates of the whole existing corpus).
        index = (
            spark.read.parquet(index_path).drop("batch_id")
            if _exists(spark, index_path)
            else None
        )
        pairs, new_bands = incremental_simhash_pairs(
            qdocs, index, max_hamming, text_col, id_col
        )
        pairs = pairs.localCheckpoint(eager=True)
        _write_batch_partition(qdocs, batch_id, docs_path)
        _write_batch_partition(pairs, batch_id, pairs_path)
        _write_batch_partition(new_bands, batch_id, index_path)

    writer = source.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_curate_docs(spark: SparkSession, lake_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(lake_root, DOCS_SUBDIR)).drop(
        "batch_id"
    )


def read_curate_pairs(spark: SparkSession, lake_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(lake_root, PAIRS_SUBDIR)).drop(
        "batch_id"
    )


def settle_curated(
    spark: SparkSession,
    lake_root: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Settle the global-minimum stages over the accumulated lakes and
    return the curated document set (quality survivors that are exact
    AND near-dup cluster representatives).

    Matches the batch composition on the same docs exactly: exact reps
    are the global min id per text; near-dup pairs are a pure pairwise
    predicate, so filtering the accumulated pair log to exact-survivor
    endpoints reproduces ``simhash_hamming_pairs(survivors)`` (a pair of
    exact survivors collides in the log iff it collides from scratch);
    cluster election is a deterministic function of the surviving set.
    """
    docs = read_curate_docs(spark, lake_root)
    exact_reps = docs.groupBy("text").agg(F.min(id_col).alias(id_col))
    survivors = docs.join(exact_reps.select(id_col), id_col, "semi")

    ids = survivors.select(id_col)
    pairs = (
        read_curate_pairs(spark, lake_root)
        .join(ids.withColumnRenamed(id_col, "id_a"), "id_a", "semi")
        .join(ids.withColumnRenamed(id_col, "id_b"), "id_b", "semi")
    )
    reps = (
        assign_clusters(survivors, pairs, id_col=id_col)
        .filter("is_rep")
        .select(id_col)
    )
    return survivors.join(reps, id_col, "semi")

