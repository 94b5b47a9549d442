"""Incremental near-dup detection against a persisted fingerprint index.

A production training-data pipeline never re-deduplicates 100 TB when a
1 TB crawl batch arrives.  It keeps a **fingerprint lake** — the banded
MinHash rows of every document already accepted — and checks each new
batch with one equi-join against that table:

    batch N cost = shingle+sign the BATCH (scales with batch size)
                 + equi-join of the batch's band rows against the index
                   (shuffles only (id, band-hash) rows, and only buckets
                   the batch actually touches if the index is partitioned
                   by band)

so per-batch work is O(batch + collisions), never O(corpus).  The same
incremental invariant the reference's collector maintains for candle
progress (fetch only past the stored watermark,
crypto_collector.py:481-520) applied to the dedup axis.

Exactness: LSH banding is order-independent — a pair collides iff some
band hash matches, regardless of which batch each side arrived in — so
batch-by-batch ingestion finds EXACTLY the pairs a from-scratch run
over the union finds (pinned by test).  No recall is lost by going
incremental.

``streaming.dedup_stream`` persists the index as a snapshot lake
(``sinks.snapshot.snapshot_append``): band rows are immutable facts (a
doc's signature never changes), so append — not upsert — is the right
discipline, and the manifest's ``applied_ids`` ledger makes a re-run
batch append nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.text_dedup import (
    minhash_band_rows,
)


def _estimate(num_hashes: int) -> F.Column:
    return (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.lit(float(num_hashes))
    )


def incremental_near_dup(
    new_docs: DataFrame,
    index: DataFrame | None,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Check a new batch against the fingerprint index (and itself).

    Returns ``(pairs, new_band_rows)``: every candidate pair with at
    least one side in ``new_docs`` — new-vs-index and new-vs-new alike,
    canonicalized ``id_a < id_b`` with the MinHash Jaccard estimate —
    and the batch's band rows for the caller to append to the index
    (``index ∪ new_band_rows`` is the index for the next batch).

    ``index`` is the accumulated ``minhash_band_rows`` table (or None
    for the first batch); it must have been built with the same
    ``num_hashes``/``bands``/``shingle_n`` or band hashes are
    incomparable garbage — persist those parameters next to the lake.
    """
    new_bands = minhash_band_rows(
        new_docs, num_hashes, bands, shingle_n, text_col, id_col
    )
    full = new_bands if index is None else new_bands.unionByName(index)
    a, b = new_bands.alias("a"), full.alias("b")
    # New side joins the WHOLE index; a.id != b.id (not <) because an
    # index doc with a smaller id must still pair with a larger new id.
    # Canonicalization below collapses the new-new double matches.
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("a.signature"))
            .otherwise(F.col("b.signature"))
            .alias("sig_a"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("b.signature"))
            .otherwise(F.col("a.signature"))
            .alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", _estimate(num_hashes).alias("est_jaccard"))
    )
    return pairs, new_bands
