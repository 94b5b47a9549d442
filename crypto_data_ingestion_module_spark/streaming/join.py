"""Watermarked stream-stream join: live cross-venue spread monitoring.

The reference's live loop (crypto_collector.py:659-717) collects each
venue independently; comparing venues is a post-hoc batch query
(`cross_stream_compare`, plans/queries.py).  A real deployment monitoring
cross-venue spreads needs the comparison ON the live streams — this
module joins two candle streams on (symbol, interval, bucket) with
watermarks on BOTH sides so join state is bounded.

Spark semantics used (the documented state-cleanup pattern for
stream-stream inner joins): both inputs carry ``withWatermark`` on their
event-time column, and the join condition includes equality on
``window(timestamp, interval)`` — an event-time window derived from the
watermarked column.  Catalyst then derives a state watermark per side and
evicts buffered rows whose bucket can no longer match (numRowsRemoved in
the state-operator progress metrics; asserted in tests).

At 100 TB / unbounded runtime: state per side is
(symbols × venues × buckets-within-lateness) candle rows — independent
of stream length.  No foreachBatch self-join, no unbounded buffer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions.timeutil import (
    parse_interval_ms,
)


def _bucketed(side: DataFrame, bucket_secs: int, lateness: str, tag: str) -> DataFrame:
    """Watermark one venue stream and project it onto the join bucket."""
    return side.withWatermark("timestamp", lateness).select(
        F.col("symbol"),
        F.col("interval"),
        F.window("timestamp", f"{bucket_secs} seconds").alias("bucket"),
        F.col("exchange").alias(f"exchange_{tag}"),
        F.col("close").alias(f"close_{tag}"),
        F.col("volume").alias(f"volume_{tag}"),
    )


def cross_venue_spread(
    left: DataFrame,
    right: DataFrame,
    interval: str = "15m",
    lateness: str = "30 minutes",
) -> DataFrame:
    """Join two live candle streams per (symbol, interval, bucket) and
    emit the per-bucket cross-venue spread.

    Both sides are watermarked with ``lateness``; the equi-join on the
    event-time window lets Spark clean buffered state once the watermark
    passes a bucket.  Candle timestamps are bucket-aligned by
    construction (the venues emit grid points), so the window equality is
    exact bucket identity, not an approximation.

    Returns one row per joined bucket with both venues' closes and the
    signed spread in basis points of the right venue's close.
    """
    bucket_secs = parse_interval_ms(interval) // 1000
    lhs = _bucketed(left, bucket_secs, lateness, "a")
    rhs = _bucketed(right, bucket_secs, lateness, "b")
    joined = lhs.join(rhs, ["symbol", "interval", "bucket"], "inner")
    return joined.select(
        "symbol",
        "interval",
        F.col("bucket.start").alias("bucket_ts"),
        "exchange_a",
        "exchange_b",
        "close_a",
        "close_b",
        (F.col("close_a") - F.col("close_b")).alias("spread"),
        (
            (F.col("close_a") - F.col("close_b")) / F.col("close_b") * 10_000.0
        ).alias("spread_bps"),
    )

