"""Incremental JOIN-view maintenance over the snapshot lake.

Completes the repo's incremental-materialization triad: aggregates
re-merge algebraic partials (operators/rollup.py), dedup/fingerprint
joins new batches against an immutable index
(``text_dedup.incremental_minhash_md5_pairs``) — and JOIN views use
the classic bag-algebra delta rule here: for an inner equi-join view
``J = A ⋈ B`` under append-only batches,

    ΔJ = ΔA ⋈ B  ∪all  A ⋈ ΔB  ∪all  ΔA ⋈ ΔB

where A/B are the PRE-batch accumulated sides, so per-batch cost is
O(Δ ⋈ state), never a recompute of A ⋈ B.  This is the standard IVM
delta form (Blakeley et al.'s counting algorithm restricted to inserts
— append-only sides need no counts because inner-join inserts can never
retract view rows).

Reference parity: the reference collector maintains nothing
incrementally beyond its fetch watermark (crypto_collector.py:481-520);
this is a §2.8/K2 capability extension in the same class as the rollup
and fingerprint lakes.

Exactly-once without a transaction across three lakes: the VIEW commit
carries the batch's ``applied_id`` and happens FIRST.  Replay after any
crash is then safe by case analysis:

* crash before the view commit — nothing applied anywhere; the replay
  recomputes the same ΔJ from unchanged sides (the delta is a
  deterministic function of sides + batch) and runs the protocol fresh.
* crash after the view commit, before a side commit — the replayed ΔJ
  would now be WRONG (a side may already contain Δ), but the view
  lake's applied-id ledger makes the view append a NO-OP, discarding
  it; the side appends are themselves ledger-guarded no-ops or
  first-times.  Final state identical to the crash-free run.

All three lakes hash-bucket their rows by join key (``pmod(xxhash64
(key), n_buckets)`` partition column), so at scale each delta join
reads only the buckets the batch touches and the storage layout is
co-partitioned on the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LEFT, RIGHT, VIEW = "left", "right", "view"
N_BUCKETS = 16


def _bucketed(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(N_BUCKETS)).cast("int")
    )


def _read_side(spark: SparkSession, root: str) -> DataFrame | None:
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        current_version,
        read_snapshot,
    )

    if current_version(spark, root) is None:
        return None
    return read_snapshot(spark, root).drop("bucket", "_ingest_seq")


def _append(
    spark: SparkSession, root: str, df: DataFrame, key: str, applied_id: str
) -> int:
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_append,
    )

    return snapshot_append(
        spark,
        root,
        _bucketed(df, key),
        partition_cols=("bucket",),
        applied_id=applied_id,
    )


def maintain_join_view(
    spark: SparkSession,
    lake_root: str,
    left_batch: DataFrame | None,
    right_batch: DataFrame | None,
    on: str,
    batch_id: str | int,
) -> None:
    """Apply one append-only batch (either side may be None/empty) to
    the materialized inner-join view under ``lake_root``.

    ``left_batch``/``right_batch`` column sets are fixed by the first
    batch (additive evolution follows the snapshot lake's contract);
    both must contain the join key ``on``, and their non-key columns
    must not collide (the view carries both sides' payloads).
    """
    left_root = f"{lake_root}/{LEFT}"
    right_root = f"{lake_root}/{RIGHT}"
    view_root = f"{lake_root}/{VIEW}"

    a_old = _read_side(spark, left_root)
    b_old = _read_side(spark, right_root)

    deltas: list[DataFrame] = []
    if left_batch is not None and b_old is not None:
        deltas.append(left_batch.join(b_old, on))
    if right_batch is not None and a_old is not None:
        deltas.append(a_old.join(right_batch, on))
    if left_batch is not None and right_batch is not None:
        deltas.append(left_batch.join(right_batch, on))

    delta_view = None
    for d in deltas:
        delta_view = d if delta_view is None else delta_view.unionByName(d)

    # View FIRST (see module docstring: its ledger entry is what makes a
    # replay that races a half-applied side commit discard its ΔJ).
    if delta_view is not None:
        _append(spark, view_root, delta_view, on, f"ivm-view-{batch_id}")
    if left_batch is not None:
        _append(spark, left_root, left_batch, on, f"ivm-left-{batch_id}")
    if right_batch is not None:
        _append(spark, right_root, right_batch, on, f"ivm-right-{batch_id}")


def read_join_view(spark: SparkSession, lake_root: str) -> DataFrame:
    """The materialized view (empty-schema-safe only after a first
    batch that produced join rows; raises like read_snapshot before
    any commit)."""
    df = _read_side(spark, f"{lake_root}/{VIEW}")
    if df is None:
        raise FileNotFoundError(f"no view commits under {lake_root}")
    return df


def recompute_join(spark: SparkSession, lake_root: str, on: str) -> DataFrame:
    """From-scratch A ⋈ B over the accumulated sides — the equality
    oracle the tests pin the incremental view against."""
    a = _read_side(spark, f"{lake_root}/{LEFT}")
    b = _read_side(spark, f"{lake_root}/{RIGHT}")
    if a is None or b is None:
        raise FileNotFoundError(f"missing side lake under {lake_root}")
    return a.join(b, on)
