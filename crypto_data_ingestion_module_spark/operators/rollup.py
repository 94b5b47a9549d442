"""Incremental OHLCV rollup maintenance (continuous aggregate).

The reference re-fetches pre-aggregated candles per interval; a native
engine maintains coarse candles FROM fine data incrementally — the
"continuous aggregate" / materialized-view-maintenance pattern: when a
batch of ticks arrives, only the buckets it touches are re-merged, never
the whole history.

The lake stores the ALGEBRAIC PARTIAL form of each candle, not the
finalized row:

    open_s  = min(struct(ts, tiebreak, price))   -- associative
    close_s = max(struct(ts, tiebreak, price))   -- associative
    high/low, n_rows                             -- associative
    volume_u6 = sum(round(volume * 1e6)) LONG    -- associative AND exact

min/max of the ordered structs pick first/last tick no matter how ticks
were split across batches, and the micro-unit integer volume makes the
merge bit-exact regardless of merge order (a double sum would drift by
batch split — the same policy as ``plans.queries.dsum``).  Merging two
partials is the SAME aggregate as building one, so maintenance is:
partial-agg the batch → union with the stored partials of the touched
date partitions only (manifest pruning does the "only" part) → re-agg →
replace those partitions in one commit.  ``finalize`` projects the partial
form to the user-facing OHLCV row.

Replay safety: merging is additive, so at-least-once delivery would
double-count.  :func:`maintain_rollup_snapshot` commits each batch to
the snapshot lake (``sinks.snapshot``) as ONE manifest swap carrying the
batch id in the manifest's ``applied_ids`` ledger: a re-delivered batch
is a no-op, and a crash before the commit applies nothing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions.timeutil import bucket_start

PARTIAL_COLS = (
    "open_s",
    "high",
    "low",
    "close_s",
    "volume_u6",
    "turnover_u6",
    "n_rows",
)


def candle_partials(
    df: DataFrame,
    interval_ms: int,
    keys: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    price_col: str = "value",
    volume_col: str | None = None,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Tick batch → mergeable per-bucket candle partials."""
    order_price = F.struct(
        F.col(ts_col).alias("ts"),
        F.col(tiebreak_col).alias("tb"),
        F.col(price_col).alias("v"),
    )
    vol = F.col(volume_col) if volume_col else F.col(price_col)
    bucket = bucket_start(F.col(ts_col), interval_ms).alias("bucket_ts")
    return df.groupBy(bucket, *[F.col(k) for k in keys]).agg(
        F.min(order_price).alias("open_s"),
        F.max(F.col(price_col)).alias("high"),
        F.min(F.col(price_col)).alias("low"),
        F.max(order_price).alias("close_s"),
        F.sum(F.round(vol * 1_000_000.0).cast("long")).alias("volume_u6"),
        # price x size in micro-units: the VWAP numerator is associative
        # and exact, so the continuous aggregate maintains VWAP for free.
        # (When no volume column exists vol == price and turnover/volume
        # degenerates to the price-weighted mean — unused but harmless.)
        F.sum(F.round(F.col(price_col) * vol * 1_000_000.0).cast("long")).alias(
            "turnover_u6"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_partials(partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Re-aggregate a union of partials — the identical associative ops."""
    return partials.groupBy("bucket_ts", *[F.col(k) for k in keys]).agg(
        F.min("open_s").alias("open_s"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max("close_s").alias("close_s"),
        F.sum("volume_u6").alias("volume_u6"),
        F.sum("turnover_u6").alias("turnover_u6"),
        F.sum("n_rows").alias("n_rows"),
    )


def finalize(partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Partial form → user-facing OHLCV."""
    return partials.select(
        "bucket_ts",
        *keys,
        F.col("open_s.v").alias("open"),
        "high",
        "low",
        F.col("close_s.v").alias("close"),
        (F.col("volume_u6").cast("double") / 1_000_000.0).alias("volume"),
        F.when(
            F.col("volume_u6") > 0,
            F.col("turnover_u6").cast("double")
            / F.col("volume_u6").cast("double"),
        ).alias("vwap"),
        "n_rows",
    )


def cascade_partials(
    partials: DataFrame,
    finer_ms: int,
    coarser_ms: int,
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Derive COARSER candle partials from finer ones — the materialized-
    view hierarchy (1m lake feeds 1h feeds 1d) without touching raw ticks.

    Exact by construction: open_s/close_s carry the full (ts, tiebreak,
    price) order key, so min/max at the coarser bucket still pick the
    true first/last tick; volume/turnover/n_rows are associative integer
    sums.  The coarser grid MUST be a multiple of the finer one — a fine
    bucket straddling two coarse buckets would be silently floored whole
    into the earlier one — so divisibility is a hard precondition, not a
    convention.
    """
    if coarser_ms % finer_ms != 0:
        raise ValueError(
            f"coarser interval {coarser_ms} is not a multiple of the "
            f"stored interval {finer_ms}: fine buckets would straddle "
            "coarse boundaries"
        )
    rebucketed = partials.withColumn(
        "bucket_ts", bucket_start(F.col("bucket_ts"), coarser_ms)
    )
    return merge_partials(rebucketed, keys)


def maintain_rollup_snapshot(
    spark: SparkSession,
    batch: DataFrame,
    lake_root: str,
    interval_ms: int,
    batch_id: str | int,
    keys: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    price_col: str = "value",
    volume_col: str | None = None,
    tiebreak_col: str = "event_id",
) -> int:
    """Merge one tick batch into the candle rollup lake (a snapshot
    lake partitioned by ``date``).

    Partial-agg the batch, re-merge only the touched date partitions:

    * the touched dates' stored partials are read through the manifest
      (file-pruned, never a full-lake scan),
    * the commit is ONE atomic manifest swap — a crash before commit
      applies nothing and replay redoes everything,
    * replay idempotence is the manifest's ``applied_ids`` ledger: a
      re-delivered ``batch_id`` is a no-op without reading any data,
    * an empty batch over an existing lake commits nothing,
    * concurrent maintainers get optimistic retry + snapshot-isolated
      readers for free.

    Returns the committed snapshot version (the current one when nothing
    was committed).
    """
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_merge_partitions,
    )

    new = candle_partials(
        batch, interval_ms, keys, ts_col, price_col, volume_col, tiebreak_col
    ).withColumn("date", F.date_format("bucket_ts", "yyyyMMdd"))

    def _merge(current: DataFrame | None, incoming: DataFrame) -> DataFrame:
        if current is None:
            return incoming
        return merge_partials(
            current.drop("date").unionByName(incoming.drop("date")),
            keys,
        ).withColumn("date", F.date_format("bucket_ts", "yyyyMMdd"))

    return snapshot_merge_partitions(
        spark,
        lake_root,
        new,
        _merge,
        partition_cols=("date",),
        applied_id=f"rollup-{batch_id}",
        ts_col="bucket_ts",
    )


def read_rollup_snapshot(
    spark: SparkSession, lake_root: str, version: int | None = None
) -> DataFrame:
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        read_snapshot,
    )

    return read_snapshot(spark, lake_root, version, ts_col="bucket_ts")
