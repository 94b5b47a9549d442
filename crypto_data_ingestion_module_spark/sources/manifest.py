"""Backfill chunk manifest (T1) — the reference's sequential per-(symbol,
interval) chunk loop (crypto_collector.py:626-657) re-expressed as a
DataFrame the cluster can fan out.

The reference walks ``[start, end)`` in ``days_per_chunk`` steps where
``days_per_chunk = max(1, min(300 // candles_per_day[interval], 300))``
(638-640), fetching one ≤300-candle page per exchange per chunk.  Here the
same arithmetic produces a manifest of fetch tasks via ``sequence`` +
``explode`` — driver plans, executors fetch; parallelism is the manifest's
row count instead of one in-flight chunk.

Unsupported (exchange, interval) pairs are dropped by the inner join with
the venue dim — the manifest analog of the reference's "warn + return []"
(77-79 etc.); the BinanceUS/BTC-USDT availability clamp (566-572) shifts
or drops chunks entirely before the availability date.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.sources.venues import (
    availability_df,
    venue_config_df,
)

DAY_MS = 86_400_000


def backfill_manifest(
    spark: SparkSession,
    symbols_df: DataFrame,  # (symbol, start_ms) per-symbol start times
    intervals_df: DataFrame,  # (interval, candles_per_day)
    end_ms: int,
) -> DataFrame:
    """Fetch-task manifest: one row per (symbol, interval, exchange, chunk).

    Output: symbol, interval, exchange, native_interval, page_limit,
    chunk_start_ms, chunk_end_ms — sorted consumers can repartition this
    across executors; each row is one rate-limited HTTP page fetch.
    """
    venue = venue_config_df(spark)
    avail = availability_df(spark)

    # broadcast the intervals: a plain crossJoin of two parallelized
    # local lists plans a CartesianProduct, one task per pair of input
    # partitions, each re-running the Python RDDs it reads
    grid = (
        symbols_df.crossJoin(F.broadcast(intervals_df))
        .withColumn(
            "days_per_chunk",
            F.greatest(
                F.least(
                    F.floor(F.lit(300) / F.col("candles_per_day")), F.lit(300)
                ),
                F.lit(1),
            ),
        )
        .withColumn("chunk_ms", F.col("days_per_chunk") * F.lit(DAY_MS))
    )

    chunks = (
        grid.withColumn(
            "chunk_start_ms",
            F.explode(
                F.sequence(
                    F.col("start_ms"), F.lit(end_ms) - 1, F.col("chunk_ms")
                )
            ),
        )
        .withColumn(
            "chunk_end_ms",
            F.least(F.col("chunk_start_ms") + F.col("chunk_ms"), F.lit(end_ms)),
        )
        .select("symbol", "interval", "chunk_start_ms", "chunk_end_ms")
    )

    # venue dim join drops unsupported (exchange, interval) pairs;
    # broadcast — the dim is a few dozen rows.
    tasks = chunks.join(F.broadcast(venue), "interval", "inner")

    # availability clamp (reference 566-572): shift the chunk start up to
    # the availability date; drop chunks that end before it.
    tasks = (
        tasks.join(F.broadcast(avail), ["exchange", "symbol"], "left")
        .filter(
            F.col("available_from_ms").isNull()
            | (F.col("chunk_end_ms") > F.col("available_from_ms"))
        )
        .withColumn(
            "chunk_start_ms",
            F.greatest(
                F.col("chunk_start_ms"), F.coalesce("available_from_ms", "chunk_start_ms")
            ),
        )
        .select(
            "symbol",
            "interval",
            "exchange",
            "native_interval",
            "page_limit",
            "chunk_start_ms",
            "chunk_end_ms",
        )
    )
    return tasks


def incremental_manifest(
    manifest: DataFrame,
    lake: DataFrame,
) -> DataFrame:
    """Clamp a backfill manifest to the lake's watermarks — the
    reference's incremental discipline (fetch only past the stored
    ``last_collected_ts``, crypto_collector.py:481-520,652) as one join.

    Per (symbol, interval, exchange): the watermark is the last stored
    bucket start; chunks ending at or before ``watermark + interval``
    are already collected and drop out entirely; a chunk straddling the
    watermark starts at the first uncollected bucket.  Series absent
    from the lake keep their full range.  A re-run over an up-to-date
    lake therefore fetches NOTHING — the backfill is a fixpoint.
    """
    from crypto_data_ingestion_module_spark.functions.timeutil import (
        interval_ms_col,
    )

    keys = ["symbol", "interval", "exchange"]
    wm = lake.groupBy(*keys).agg(
        F.max((F.unix_micros("timestamp") / 1000).cast("long")).alias("_wm_ms")
    )
    ivl = interval_ms_col(F.col("interval"))
    nxt = F.col("_wm_ms") + ivl
    return (
        manifest.join(F.broadcast(wm), keys, "left")
        .filter(F.col("_wm_ms").isNull() | (F.col("chunk_end_ms") > nxt))
        .withColumn(
            "chunk_start_ms",
            F.greatest(
                F.col("chunk_start_ms"),
                F.coalesce(nxt, F.col("chunk_start_ms")),
            ),
        )
        .drop("_wm_ms")
    )
