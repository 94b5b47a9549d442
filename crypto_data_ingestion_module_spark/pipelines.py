"""End-to-end pipelines: the reference's two drive modes as single calls.

- :func:`backfill` = CryptoCollector.backfill_historical (626-657): plan a
  chunk manifest, fan the fetches across executors, normalize, MERGE into
  the lake, return the watermark/progress table.
- live collection lives in ``streaming.live`` (micro-batch loop, 659-717).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    evaluated_once,
    read_manifest,
    read_snapshot,
    snapshot_group_stats,
    snapshot_upsert,
)
from crypto_data_ingestion_module_spark.sources.fetch import (
    Adapter,
    fetch_pages,
    normalize_mock_pages,
    quarantined,
)
from crypto_data_ingestion_module_spark.sources.manifest import (
    backfill_manifest,
    incremental_manifest,
)
from crypto_data_ingestion_module_spark.sources.venues import values_sql
from crypto_data_ingestion_module_spark.streaming.metrics import log_event


#: The key of a backfill's progress rows, each a partition column of
#: the candle lake.
SERIES = ("symbol", "interval", "exchange")


def _local_progress(spark: SparkSession, stats: dict) -> DataFrame:
    """``snapshot_group_stats`` output as the progress table: a ``VALUES``
    relation built on the driver, read without a job.  Its columns have
    the scan's nullability: the NULL row, filtered out again, makes the
    key and timestamp columns nullable, and ``n_candles``, a count, is
    not."""
    rows = [(*key, hi, n) for key, (hi, n) in stats.items()]
    local = values_sql([*rows, (None,) * 5], "symbol, `interval`, exchange, us, n")
    return spark.sql(
        "SELECT CAST(symbol AS STRING) AS symbol,"
        " CAST(`interval` AS STRING) AS `interval`,"
        " CAST(exchange AS STRING) AS exchange,"
        " timestamp_micros(CAST(us AS BIGINT)) AS last_collected_ts,"
        " CAST(coalesce(n, 0) AS BIGINT) AS n_candles"
        f" FROM ({local}) WHERE n IS NOT NULL"
    )


def _progress(
    spark: SparkSession, lake_root: str, version: int
) -> tuple[DataFrame, str]:
    """Per-series ``last_collected_ts`` and ``n_candles`` of a committed
    version, and their source: ``"manifest"`` when the manifest answers
    (``snapshot_group_stats``), else ``"scan"`` (the same aggregate over
    the lake)."""
    stats = snapshot_group_stats(read_manifest(spark, lake_root, version), SERIES)
    if stats is not None:
        return _local_progress(spark, stats), "manifest"
    progress = read_snapshot(spark, lake_root, version).groupBy(*SERIES).agg(
        F.max("timestamp").alias("last_collected_ts"),
        F.count(F.lit(1)).alias("n_candles"),
    )
    return progress, "scan"


def backfill(
    spark: SparkSession,
    symbols_df: DataFrame,
    intervals_df: DataFrame,
    end_ms: int,
    adapter: Adapter,
    lake_root: str,
    pacing: dict[str, float] | None = None,
    normalizer=normalize_mock_pages,
    incremental: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Historical backfill: manifest → distributed fetch → canonical
    candles → keep-last MERGE into the lake.

    Returns (progress, quarantine): the per-(symbol, interval, exchange)
    max collected timestamp and candle count (the reference's
    ``last_collected_ts`` state, 500-512/652) and the failed-task side
    channel.

    One evaluation per batch: the fetched pages are evaluated once
    (``sinks.snapshot.evaluated_once``), so each manifest page is
    requested once, and the committed candles, the touched partitions
    and the quarantine all come from that one answer.  The quarantine
    (at most one row per failed page) is collected and returned as a
    local DataFrame; reading it makes no request.  An empty batch (a
    re-run over an up-to-date lake) writes nothing and commits no
    version.

    The merge lands as one snapshot-isolated commit
    (``sinks.snapshot``): concurrent readers never see a half-applied
    backfill.

    ``incremental=True`` (default): when the lake already exists, the
    manifest is clamped to its per-series watermarks
    (``sources.manifest.incremental_manifest``) — only uncollected
    buckets are fetched, and a re-run over an up-to-date lake fetches
    nothing, exactly the reference's ``last_collected_ts`` discipline
    (crypto_collector.py:481-520).  ``incremental=False`` re-fetches the
    full range (corrections sweep: keep-last MERGE makes it safe).

    Watermarks and progress are bookkeeping, which the reference keeps
    as in-memory state and this engine reads from metadata: both come
    from the committed version's manifest (per-file max timestamp and
    row count, ``sinks.snapshot.snapshot_group_stats``), so the work
    before the fetch and after the commit is metadata reads plus one
    broadcast join, and ``progress`` is a local relation.  A lake with a
    NULL or empty series value is scanned instead.  Each call logs one
    ``backfill`` record (``streaming.metrics.log_event``) naming the
    watermark and progress sources (``"manifest"``, or ``"scan"`` when
    the lake was scanned), the committed version and the quarantined
    page count.

    ``normalizer`` must match the adapter's page layout: the mock layout
    for :class:`MockExchangeAdapter`, ``normalize_real_pages`` for real
    venue payloads — a mismatch scrambles OHLC column order silently.
    """
    manifest = backfill_manifest(spark, symbols_df, intervals_df, end_ms)
    before = current_version(spark, lake_root)
    watermark_source = "manifest"
    if incremental and before is not None:
        watermarks, watermark_source = _progress(spark, lake_root, before)
        manifest = incremental_manifest(
            manifest, watermarks.withColumnRenamed("last_collected_ts", "timestamp")
        )
    raw = fetch_pages(spark, manifest, adapter, pacing=pacing)

    # one evaluation of the fetched pages feeds both the committed
    # candles and the returned quarantine: each page is requested once
    with evaluated_once(raw) as pages:
        # drop the chunk-provenance seq: the lake stamps a monotone
        # (max existing + 1) arrival order, so a re-fetch of the same range
        # strictly supersedes prior data and corrections always win
        candles = normalizer(pages).drop("_ingest_seq")
        version = snapshot_upsert(spark, candles, lake_root)
        failed = quarantined(pages)
        failed_rows = failed.collect()
        quarantine = spark.createDataFrame(failed_rows, failed.schema)

    if version is None:  # nothing fetched into a new lake: no version
        progress, progress_source = _local_progress(spark, {}), "manifest"
    else:
        progress, progress_source = _progress(spark, lake_root, version)
    log_event(
        "backfill",
        watermark_source=watermark_source,
        progress_source=progress_source,
        version=version if version != before else "empty batch",
        quarantined=len(failed_rows),
    )
    return progress, quarantine
