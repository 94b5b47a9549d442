"""Structured Streaming: the reference's live collection loop (T2-T5,
crypto_collector.py:659-717) as checkpointed micro-batch queries.

Mapping:
- the reference's sleep-to-boundary loop (664-667, 712-717) → a
  processing-time trigger; each micro-batch freezes its cycle boundary
  from the tick timestamps (672-673 analog)
- per-interval gating (719-739) → ``should_collect`` on the boundary
- fetch + normalize + keep-last save (693 → 523-558) → ``foreachBatch``
  running the same fetch kernel and MERGE upsert as the batch path —
  one code path for both drive modes.  Where the reference reads and
  overwrites the whole day-file every cycle (542-556), a cycle whose
  candles all lie past the stored ones is an append: it writes one new
  file per touched partition and reads none
  (``sinks.snapshot.snapshot_upsert``)
- late/re-delivered data (T4): the MERGE accepts unbounded lateness;
  the ``stream_dedup_within_watermark`` registry row is the
  bounded-state in-stream alternative (``dropDuplicatesWithinWatermark``)
- progress state (T3): the streaming checkpoint owns offsets; the lake's
  watermark table (max ts and row count per series) is read from the
  snapshot manifest's file stats, without a scan
  (``sinks.snapshot.snapshot_group_stats``)

The exact wall-clock boundary alignment of the reference (ceil to the
next 15-minute mark) is stricter than Spark's phase-free processing-time
trigger; each batch therefore computes the boundary from event time, so
results are alignment-correct even if the trigger fires off-phase.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.functions.timeutil import (
    parse_interval_ms,
    should_collect_ms,
)
from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    snapshot_upsert,
)
from crypto_data_ingestion_module_spark.sources.fetch import (
    Adapter,
    fetch_pages,
    normalize_mock_pages,
)
from crypto_data_ingestion_module_spark.sources.venues import VENUE_INTERVALS
from crypto_data_ingestion_module_spark.streaming.metrics import log_event

#: (exchange, interval) -> the venue's native interval form, which the
#: adapter puts in its request (``sources.http.build_request``).
_NATIVE = {(ex, ivl): native for ex, ivl, native, *_ in VENUE_INTERVALS}


def live_collection_stream(
    spark: SparkSession,
    adapter: Adapter,
    symbols: Sequence[str],
    intervals: Sequence[str],
    lake_root: str,
    checkpoint: str,
    tick_seconds: int = 900,
    rows_per_second: int = 1,
    available_now: bool = False,
    pacing: dict[str, float] | None = None,
    exchanges: Sequence[str] = ("coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus"),
    ticks: DataFrame | None = None,
    normalizer=normalize_mock_pages,
) -> StreamingQuery:
    """Live collection: rate-source ticks → per-cycle fetch + MERGE.

    Each micro-batch: freeze the cycle boundary (max tick floored to
    ``tick_seconds``), gate each interval on that boundary (719-739),
    synthesize the fetch manifest for ``[boundary - interval, boundary)``
    (686-690) with each venue's native interval form, run the same
    fetch/normalize/upsert path as backfill.

    Each micro-batch with a tick logs one ``live_cycle`` record
    (``streaming.metrics.log_event``, no Spark job): the boundary in
    epoch ms, the gated intervals, the fetch manifest's row count and
    the committed version, or ``"no commit"`` for a cycle that gated no
    interval, fetched nothing or replayed a committed boundary.

    ``ticks`` may inject any streaming DataFrame with a ``timestamp``
    column (tests use ``rate-micro-batch`` with a pinned start time for
    deterministic cycles); defaults to the wall-clock rate source.
    """
    if ticks is None:
        ticks = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
            .load()
        )

    def _cycle(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # the newest tick, as one TakeOrderedAndProject job (a global
        # max() plans an aggregate over an exchange: two jobs)
        top = batch_df.select("timestamp").orderBy(
            F.desc_nulls_last("timestamp")
        ).first()
        max_ts = top[0] if top is not None else None
        if max_ts is None:  # no ticks in this micro-batch
            return
        boundary_ms = (
            int(max_ts.timestamp() * 1000) // (tick_seconds * 1000)
        ) * (tick_seconds * 1000)

        # pure driver-side arithmetic — launching a Spark job per
        # interval just to evaluate a literal gate wastes a scheduler
        # round-trip every cycle
        gated = [i for i in intervals if should_collect_ms(boundary_ms, i)]
        # a pair the venue dim does not list keeps the canonical form
        tasks = [
            (symbol, interval, exchange, _NATIVE.get((exchange, interval), interval),
             300, boundary_ms - parse_interval_ms(interval), boundary_ms)
            for interval in gated
            for symbol in symbols
            for exchange in exchanges
        ]
        version: int | str = "no commit"
        if tasks:
            manifest = sess.createDataFrame(
                tasks,
                "symbol string, interval string, exchange string, "
                "native_interval string, page_limit int, "
                "chunk_start_ms long, chunk_end_ms long",
            )
            raw = fetch_pages(sess, manifest, adapter, pacing=pacing)
            candles = normalizer(raw).drop("_ingest_seq")
            # the cycle boundary, not the micro-batch id, is the logical
            # batch identity: a restarted stream re-fetching the same
            # boundary must not double-commit it.  The sink evaluates
            # the fetch once and commits nothing when it comes back
            # empty.
            before = current_version(sess, lake_root)
            after = snapshot_upsert(
                sess, candles, lake_root,
                applied_id=f"cycle-{boundary_ms}",
            )
            if after != before:
                version = after
        log_event(
            "live_cycle",
            boundary_ms=boundary_ms,
            intervals=gated,
            manifest_rows=len(tasks),
            version=version,
        )

    writer = ticks.writeStream.foreachBatch(_cycle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{tick_seconds} seconds")
    return writer.start()
