"""Materialized cluster assignments: the 100 TB shape of corpus curation.

The registered ``curated_corpus`` query recomputes the near-dup
transitive closure inline so its DuckDB oracle can check the whole
composition on raw tables.  At 100 TB nobody does that per query: the
cluster assignment is a **materialized intermediate**, refreshed by the
ingestion pipeline and joined by every consumer.  This module is that
path:

- :func:`materialize_clusters` runs connected components ONCE over a
  pair list and persists ``(doc_id, cluster_id, is_rep)`` — a table of
  three thin columns, trivially small next to the corpus.
- :func:`curated_corpus` composes quality + exact-rep + cluster-rep
  against the stored table: no CC rounds, no pair join — per run it is
  one corpus scan plus two semi-joins, one of them against the thin
  cluster table.

Refresh discipline: pair edges only ever ACCUMULATE (a batch's pairs
come out of ``streaming.dedup_stream`` against the fingerprint lake),
and connected components is monotone in its edge set
— so the refresh is CC over the accumulated pair lake, whose input is
pairs (tiny), not documents.  Merging clusters on new evidence happens
at refresh, exactly like the reference re-deriving progress state from
its saved lake rather than trusting in-memory state
(crypto_collector.py:481-520).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions import text as TX
from crypto_data_ingestion_module_spark.operators.graph import assign_clusters


def materialize_clusters(
    corpus: DataFrame,
    pairs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> None:
    """Persist per-document cluster assignment to ``path`` (parquet)."""
    assign_clusters(corpus, pairs, id_col=id_col, src=src, dst=dst).write.mode(
        "overwrite"
    ).parquet(path)


def read_clusters(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def curated_corpus(
    docs: DataFrame,
    clusters: DataFrame,
    quality_min: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality ∧ exact-rep ∧ cluster-rep, with clusters PRECOMPUTED.

    Matches the registered ``curated_corpus`` query row-for-row when
    ``clusters`` was materialized from the same pair generator (pinned
    by test); the difference is purely physical — the transitive
    closure is a table scan here, not an iterative job.
    """
    exact_reps = docs.groupBy("text").agg(F.min(id_col).alias(id_col))
    cluster_reps = clusters.filter("is_rep").select(id_col)
    return (
        docs.join(exact_reps.select(id_col), id_col, "semi")
        .join(cluster_reps, id_col, "semi")
        .select(
            id_col,
            "lang",
            TX.word_count("text").alias("n_tokens"),
            TX.quality_score("text").alias("quality"),
        )
        .filter(F.col("quality") >= quality_min)
    )
