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

Replay discipline: every per-batch output (docs, pairs, band rows) is
a ``sinks.snapshot`` append under the batch's stream-scoped id
(``streaming.identity.start_ledgered_sink``), one lake per table, so a
replayed micro-batch is skipped by each manifest ledger — the same
recovery contract as the pair log in ``streaming.dedup_stream``.  The
band index commits LAST: a replay after a partial commit skips the
tables already applied and still probes an index without the batch's
own bands.

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
from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    read_snapshot,
    snapshot_append,
)
from crypto_data_ingestion_module_spark.streaming.identity import (
    start_ledgered_sink,
)

DOCS_SUBDIR = "docs"
INDEX_SUBDIR = "simhash_index"
PAIRS_SUBDIR = "pairs"


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

    ``lake_root`` accumulates three snapshot lakes: ``docs/``
    (decontaminated, quality-gated documents), ``simhash_index/`` (band
    rows of those documents), ``pairs/`` (near-dup pair log).
    ``benchmark`` is the static contamination reference (None → skip).
    """
    docs_path = os.path.join(lake_root, DOCS_SUBDIR)
    index_path = os.path.join(lake_root, INDEX_SUBDIR)
    pairs_path = os.path.join(lake_root, PAIRS_SUBDIR)

    def _commit(batch_df: DataFrame, bid: str) -> None:
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
        # Only a lake with no version is "first batch ever"; any other
        # index-read failure propagates and fails the batch (checking
        # the batch only against itself would admit duplicates of the
        # whole existing corpus).
        index = (
            read_snapshot(spark, index_path)
            if current_version(spark, index_path) is not None
            else None
        )
        pairs, new_bands = incremental_simhash_pairs(
            qdocs, index, max_hamming, text_col, id_col
        )
        snapshot_append(spark, docs_path, qdocs, (), applied_id=bid)
        snapshot_append(spark, pairs_path, pairs, (), applied_id=bid)
        snapshot_append(spark, index_path, new_bands, (), applied_id=bid)

    return start_ledgered_sink(source, checkpoint, _commit, available_now)


def read_curate_docs(spark: SparkSession, lake_root: str) -> DataFrame:
    return read_snapshot(spark, os.path.join(lake_root, DOCS_SUBDIR))


def read_curate_pairs(spark: SparkSession, lake_root: str) -> DataFrame:
    return read_snapshot(spark, os.path.join(lake_root, PAIRS_SUBDIR))


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

