"""Structured Streaming: the reference's live collection loop (T2-T5,
crypto_collector.py:659-717) as checkpointed micro-batch queries.

Mapping:
- the reference's sleep-to-boundary loop (664-667, 712-717) → a
  processing-time trigger; each micro-batch freezes its cycle boundary
  from the tick timestamps (672-673 analog)
- per-interval gating (719-739) → ``should_collect`` on the boundary
- fetch + normalize + keep-last save (693 → 523-558) → ``foreachBatch``
  running the same fetch kernel and MERGE upsert as the batch path —
  one code path for both drive modes
- late/re-delivered data (T4): the MERGE accepts unbounded lateness;
  :func:`watermark_dedup` is the bounded-state in-stream alternative
  (``dropDuplicatesWithinWatermark``)
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
from crypto_data_ingestion_module_spark.sinks.snapshot import snapshot_upsert
from crypto_data_ingestion_module_spark.sources.fetch import (
    Adapter,
    fetch_pages,
    normalize_mock_pages,
)


def stream_upsert_to_lake(
    spark: SparkSession,
    source: DataFrame,
    lake_root: str,
    checkpoint: str,
    available_now: bool = True,
    key_cols: Sequence[str] = ("symbol", "interval", "data_type", "exchange", "timestamp"),
) -> StreamingQuery:
    """Stream canonical candles into the lake via foreachBatch MERGE.

    Each micro-batch is one snapshot-isolated commit; the checkpoint's
    micro-batch id is the manifest ``applied_id``, so a replay after
    checkpoint recovery commits NOTHING instead of leaning on keep-last
    coincidence — true exactly-once from at-least-once delivery.  An
    empty micro-batch commits nothing either.  Readers use
    ``sinks.snapshot.read_snapshot`` and never see a half-applied batch.
    """
    from crypto_data_ingestion_module_spark.streaming.identity import (
        stream_qid,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # the ledger id is (stream, batch) — Delta's txnAppId
        # discipline; resolved inside the sink so the checkpoint's
        # creation marker is folded in (see streaming/identity.py)
        qid = stream_qid(checkpoint)
        # batch_seq defaults to lake-max+1: monotone regardless of what
        # seq domain earlier writers used (a raw batch_id like 0,1,2
        # could never supersede epoch-scale seqs already in the lake)
        clean = (
            batch_df.drop("_ingest_seq")
            if "_ingest_seq" in batch_df.columns
            else batch_df
        )
        snapshot_upsert(
            batch_df.sparkSession,
            clean,
            lake_root,
            key_cols=key_cols,
            applied_id=f"stream-{qid}-batch-{batch_id}",
        )

    writer = source.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="15 minutes")
    return writer.start()


def watermark_dedup(
    stream: DataFrame,
    ts_col: str = "timestamp",
    keys: Sequence[str] = ("symbol", "interval", "exchange", "timestamp"),
    lateness: str = "1 hour",
) -> DataFrame:
    """Bounded-state in-stream dedup (T4): accept each logical key once
    within the watermark horizon.  State size is bounded by ``lateness``
    — the 100 TB-safe alternative to unbounded MERGE corrections."""
    return stream.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
        list(keys)
    )


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
    (686-690), run the same fetch/normalize/upsert path as backfill.

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
        max_ts = batch_df.agg(F.max("timestamp")).first()[0]
        if max_ts is None:  # no ticks in this micro-batch
            return
        boundary_ms = (
            int(max_ts.timestamp() * 1000) // (tick_seconds * 1000)
        ) * (tick_seconds * 1000)

        tasks = []
        for interval in intervals:
            # pure driver-side arithmetic — launching a Spark job per
            # interval just to evaluate a literal gate wastes a
            # scheduler round-trip every cycle
            if not should_collect_ms(boundary_ms, interval):
                continue
            ivl_ms = parse_interval_ms(interval)
            for symbol in symbols:
                for exchange in exchanges:
                    tasks.append(
                        (symbol, interval, exchange, interval,
                         300, boundary_ms - ivl_ms, boundary_ms)
                    )
        if not tasks:
            return
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
        # boundary must not double-commit it.  The sink evaluates the
        # fetch once and commits nothing when it comes back empty.
        snapshot_upsert(
            sess, candles, lake_root,
            applied_id=f"cycle-{boundary_ms}",
        )

    writer = ticks.writeStream.foreachBatch(_cycle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{tick_seconds} seconds")
    return writer.start()
