"""End-to-end pipeline + streaming tests (SURVEY §5.4): backfill with mock
exchange, quarantine, live-cycle gating, stateful candles, the
stream-stream spread join and streaming sessions."""

import datetime as dt
import glob
import os

from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.pipelines import backfill
from crypto_data_ingestion_module_spark.sinks.snapshot import read_snapshot
from crypto_data_ingestion_module_spark.sources.fetch import MockExchangeAdapter
from crypto_data_ingestion_module_spark.streaming.live import (
    live_collection_stream,
)

DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01 UTC


def _symbols(spark):
    return spark.createDataFrame(
        [("BTC-USDT", START_MS)], "symbol string, start_ms long"
    )


def _intervals(spark):
    return spark.createDataFrame(
        [("6h", 4), ("1d", 1)], "interval string, candles_per_day long"
    )


def test_backfill_end_to_end(spark, tmp_path):
    lake = str(tmp_path / "lake")
    progress, quarantine = backfill(
        spark,
        _symbols(spark),
        _intervals(spark),
        end_ms=START_MS + 3 * DAY_MS,
        adapter=MockExchangeAdapter(),
        lake_root=lake,
    )
    prog = {(r.symbol, r.interval, r.exchange): r.n_candles for r in progress.collect()}
    assert quarantine.count() == 0
    # 6h: coinbase/bitstamp/bitfinex/kucoin/binanceus all support it? coinbase
    # has no 4h but has 6h; every venue × {6h, 1d} is in the dim
    assert ("BTC-USDT", "6h", "coinbase") in prog
    # 3 days of 6h = 12 candles... minus the candle at start boundary
    # (mock emits grid points in [start, end)): exactly 12
    assert prog[("BTC-USDT", "6h", "kucoin")] == 12
    assert prog[("BTC-USDT", "1d", "kucoin")] == 3
    # idempotence: running the same backfill again must not change counts
    progress2, _ = backfill(
        spark,
        _symbols(spark),
        _intervals(spark),
        end_ms=START_MS + 3 * DAY_MS,
        adapter=MockExchangeAdapter(),
        lake_root=lake,
    )
    prog2 = {(r.symbol, r.interval, r.exchange): r.n_candles for r in progress2.collect()}
    assert prog2 == prog


def _flaky_adapter(marker: str):
    """The mock venue, except that the very first request (across all
    executors: creating ``marker`` exclusively claims it) fails as a
    transient 503."""
    inner = MockExchangeAdapter()

    def adapter(exchange, symbol, interval, start_ms, end_ms, limit):
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            return inner(exchange, symbol, interval, start_ms, end_ms, limit)
        raise RuntimeError(f"{exchange} API error 503")

    return adapter


def test_flaky_venue_upsert_leaves_no_duplicate_keys(spark, tmp_path):
    """A venue that fails once and then answers must not change what one
    backfill commits between its touched-partition scan and its write:
    with the batch evaluated once, the failed page is quarantined, its
    existing partition is left alone, and no logical key is stored
    twice."""
    lake = str(tmp_path / "lake")
    intervals = spark.createDataFrame(
        [("1h", 24)], "interval string, candles_per_day long"
    )
    end_ms = START_MS + DAY_MS
    backfill(spark, _symbols(spark), intervals, end_ms, MockExchangeAdapter(), lake)
    before = read_snapshot(spark, lake).count()
    assert before == 5 * 24  # one 1h day per venue

    _, quarantine = backfill(
        spark, _symbols(spark), intervals, end_ms,
        _flaky_adapter(str(tmp_path / "failed-once")), lake,
        incremental=False,
    )
    rows = read_snapshot(spark, lake)
    keys = ["symbol", "interval", "data_type", "exchange", "timestamp"]
    duplicated = rows.groupBy(*keys).count().filter("count > 1").count()
    assert (duplicated, rows.count()) == (0, before)
    failed = quarantine.collect()
    assert len(failed) == 1 and failed[0].error.endswith("API error 503")


def test_backfill_quarantine(spark, tmp_path):
    lake = str(tmp_path / "lake")
    progress, quarantine = backfill(
        spark,
        _symbols(spark),
        _intervals(spark),
        end_ms=START_MS + 2 * DAY_MS,
        adapter=MockExchangeAdapter(fail_on=frozenset({"kucoin"})),
        lake_root=lake,
    )
    q = quarantine.collect()
    assert q and all(r.exchange == "kucoin" for r in q)
    assert all("injected failure" in r.error for r in q)
    # other venues unaffected (log-and-continue, reference 586-587)
    assert progress.filter(F.col("exchange") == "coinbase").count() > 0
    assert progress.filter(F.col("exchange") == "kucoin").count() == 0


def _candle_rows(ts_list, price, seq_base=0):
    return [
        (price, price + 1, price - 1, price + 0.5, 1.0, ts,
         "BTC-USDT", "coinbase", "15m", "spot")
        for ts in ts_list
    ]


_CANDLE_SCHEMA_DDL = (
    "open double, high double, low double, close double, volume double, "
    "timestamp timestamp, symbol string, exchange string, interval string, "
    "data_type string"
)


def test_live_collection_cycle(spark, tmp_path):
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    # pinned tick stream: starts exactly at a 1h boundary so the 15m and
    # 1h gates open; rate-micro-batch is deterministic under availableNow
    boundary_ms = 1_704_070_800_000  # 2024-01-01 01:00:00 UTC
    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 3)
        .option("startTimestamp", boundary_ms)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    q = live_collection_stream(
        spark,
        adapter=MockExchangeAdapter(),
        symbols=["BTC-USDT"],
        intervals=["15m", "1h", "1d"],  # 1d gate must stay closed at 01:00
        lake_root=lake,
        checkpoint=ckpt,
        tick_seconds=3600,
        available_now=True,
        exchanges=("coinbase", "kucoin"),
        ticks=ticks,
    )
    q.awaitTermination(180)
    lakefiles = glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True)
    assert lakefiles, "live cycle wrote nothing"
    got = read_snapshot(spark, lake)
    ivls = {r.interval for r in got.select("interval").distinct().collect()}
    assert ivls == {"15m", "1h"}  # 1d gated off away from midnight
    # each (interval, exchange): exactly the one cycle's candle(s)
    c15 = got.filter((F.col("interval") == "15m") & (F.col("exchange") == "kucoin"))
    assert c15.count() == 1  # [boundary-15m, boundary) holds one 15m candle


def test_live_cycle_logs_one_record_per_cycle(spark, tmp_path, caplog):
    """Each cycle logs its boundary, gated intervals, fetch-manifest row
    count and committed version; a cycle replaying a committed boundary
    logs ``"no commit"``."""
    import json
    import logging

    caplog.set_level(logging.INFO, logger="crypto_data_ingestion_module_spark")
    boundary_ms = 1_704_070_800_000  # 2024-01-01 01:00:00 UTC
    ticks = tmp_path / "ticks"
    ticks.mkdir()
    # one file per micro-batch: 01:00, 01:05 (the same 15m boundary) and
    # 01:15, processed in modification-time order
    for i, minutes in enumerate((0, 5, 15)):
        stamp = dt.datetime.fromtimestamp(
            boundary_ms / 1000 + 60 * minutes, dt.timezone.utc
        )
        tick = ticks / f"tick{i}.json"
        tick.write_text(
            json.dumps({"timestamp": stamp.strftime("%Y-%m-%dT%H:%M:%S.000Z")}) + "\n"
        )
        os.utime(tick, (1_000_000 + i, 1_000_000 + i))
    q = live_collection_stream(
        spark, MockExchangeAdapter(), ["BTC-USDT"], ["15m", "1h", "1d"],
        str(tmp_path / "lake"), str(tmp_path / "ckpt"), tick_seconds=900,
        available_now=True, exchanges=("coinbase", "kucoin"),
        ticks=spark.readStream.schema("timestamp timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(ticks)),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    records = [
        json.loads(r.getMessage()[len("live_cycle "):])
        for r in caplog.records
        if r.getMessage().startswith("live_cycle {")
    ]
    assert records == [
        {"boundary_ms": boundary_ms, "intervals": ["15m", "1h"],
         "manifest_rows": 4, "version": 1},
        {"boundary_ms": boundary_ms, "intervals": ["15m", "1h"],
         "manifest_rows": 4, "version": "no commit"},
        {"boundary_ms": boundary_ms + 900_000, "intervals": ["15m"],
         "manifest_rows": 2, "version": 2},
    ]


def test_normalize_real_pages_dialects(spark):
    """Raw venue pages (positional string arrays) through the per-dialect
    normalizers: every venue must yield identical canonical candles."""
    from crypto_data_ingestion_module_spark.sources import fixtures as FX
    from crypto_data_ingestion_module_spark.sources.fetch import (
        RAW_SCHEMA,
        normalize_real_pages,
    )

    rows = []
    # bitstamp arrives positionally at the fetch layer: [ts,o,h,l,c,v]
    bs_positional = [
        [r["timestamp"], r["open"], r["high"], r["low"], r["close"], r["volume"]]
        for r in FX.BITSTAMP_OHLC
    ]
    for exchange, klines in [
        ("coinbase", FX.COINBASE_KLINES),
        ("bitstamp", bs_positional),
        ("bitfinex", FX.BITFINEX_KLINES),
        ("kucoin", FX.KUCOIN_KLINES),
        ("binanceus", FX.BINANCEUS_KLINES),
    ]:
        for k in klines:
            rows.append((exchange, "BTC-USDT", "15m", k, None, 1))
    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    out = normalize_real_pages(raw)
    got = out.collect()
    assert len(got) == 10
    by_ex = {}
    for r in got:
        by_ex.setdefault(r.exchange, {})[r.timestamp] = (
            r.open, r.high, r.low, r.close, r.volume, r.interval, r.data_type,
        )
    ref = by_ex["kucoin"]
    assert len(by_ex) == 5
    for ex, vals in by_ex.items():
        assert vals == ref, ex  # all dialects agree on canonical values
    assert all(v[6] == "spot" for v in ref.values())


def test_stateful_candle_builder(spark, tmp_path):
    """applyInPandasWithState tick→candle: bucket finalizes exactly once
    when the watermark passes, late-but-in-watermark ticks fold in."""
    import time as _time

    from crypto_data_ingestion_module_spark.streaming.stateful import (
        candles_from_ticks,
    )

    src = str(tmp_path / "ticks")
    os.makedirs(src)
    ddl = "symbol string, ts timestamp, price double, qty double, tick_id long"
    m0 = dt.datetime(2024, 1, 1, 0, 0)

    def write_file(rows, name):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(src)

    # minute-0 ticks (bucket 00:00): open=10 @ :05, high=14, low=9, close=12
    write_file(
        [
            ("BTC", m0 + dt.timedelta(seconds=5), 10.0, 1.0, 1),
            ("BTC", m0 + dt.timedelta(seconds=20), 14.0, 2.0, 2),
            ("BTC", m0 + dt.timedelta(seconds=40), 9.0, 1.0, 3),
            ("BTC", m0 + dt.timedelta(seconds=55), 12.0, 1.0, 4),
        ],
        "f1",
    )
    # a tick far in the future: advances the watermark past bucket 00:00
    write_file([("BTC", m0 + dt.timedelta(minutes=10), 99.0, 1.0, 5)], "f2")

    ticks = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    )
    candles = candles_from_ticks(ticks, interval_ms=60_000, lateness="10 seconds")
    q = (
        candles.writeStream.format("memory")
        .queryName("stateful_candles")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM stateful_candles").first().c >= 1:
            break
        _time.sleep(1)
    q.stop()
    rows = spark.sql("SELECT * FROM stateful_candles").collect()
    assert len(rows) >= 1, "no candle finalized"
    r = {x.bucket_ts: x for x in rows}[m0]
    assert (r.open, r.high, r.low, r.close) == (10.0, 14.0, 9.0, 12.0)
    assert r.volume == 5.0 and r.n_ticks == 4


def test_stateful_candle_straddle_and_tie_parity(spark, tmp_path):
    """Batch-split independence (what makes the operator oracle-
    pairable, registry row stream_candles_stateful): a bucket whose
    ticks STRADDLE two micro-batches — including equal-timestamp ties
    delivered in 'wrong' arrival order (the smaller tick_id arrives in
    the LATER batch) — must finalize to the same candle as a one-shot
    fold: open/close tiebreak on (ts, tick_id), volume micro-exact."""
    import time as _time

    from crypto_data_ingestion_module_spark.streaming.stateful import (
        candles_from_ticks,
    )

    src = str(tmp_path / "ticks")
    os.makedirs(src)
    ddl = "symbol string, ts timestamp, price double, qty double, tick_id long"
    m0 = dt.datetime(2024, 1, 1, 0, 0)

    def write(rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t0 = m0 + dt.timedelta(seconds=10)   # tied open timestamp
    t1 = m0 + dt.timedelta(seconds=50)   # tied close timestamp
    # batch 1: tick_id 5 at t0, tick_id 2 at t1
    write([("BTC", t0, 20.0, 0.1, 5), ("BTC", t1, 30.0, 0.2, 2)])
    # batch 2 (same bucket): the TRUE open (t0, tick_id=1) and the TRUE
    # close (t1, tick_id=9) arrive later
    write([("BTC", t0, 10.0, 0.3, 1), ("BTC", t1, 40.0, 0.4, 9)])
    # watermark advancer
    write([("BTC", m0 + dt.timedelta(minutes=10), 1.0, 1.0, 99)])

    ticks = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        candles_from_ticks(ticks, interval_ms=60_000, lateness="10 seconds")
        .writeStream.format("memory").queryName("straddle_candles")
        .outputMode("append").trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM straddle_candles").first().c >= 1:
            break
        _time.sleep(1)
    q.stop()
    r = {x.bucket_ts: x for x in spark.table("straddle_candles").collect()}[m0]
    assert (r.open, r.close) == (10.0, 40.0)  # (ts, tick_id) order, not arrival
    assert (r.high, r.low, r.n_ticks) == (40.0, 10.0, 4)
    assert r.volume == 1.0  # 0.1+0.2+0.3+0.4 exact in micro-units


def test_stateful_candle_late_tick_does_not_overwrite_close(spark, tmp_path):
    """Regression: a late tick arriving in a LATER micro-batch must not
    become the close — close is by event time, not arrival order."""
    import time as _time

    from crypto_data_ingestion_module_spark.streaming.stateful import (
        candles_from_ticks,
    )

    src = str(tmp_path / "ticks")
    os.makedirs(src)
    ddl = "symbol string, ts timestamp, price double, qty double, tick_id long"
    m0 = dt.datetime(2024, 1, 1, 0, 0)

    def write(rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(src)

    write([("BTC", m0 + dt.timedelta(seconds=1), 100.0, 1.0, 1),
           ("BTC", m0 + dt.timedelta(seconds=50), 110.0, 1.0, 2)])
    write([("BTC", m0 + dt.timedelta(seconds=20), 90.0, 1.0, 3)])  # late arrival
    write([("BTC", m0 + dt.timedelta(minutes=5), 1.0, 1.0, 4)])  # wm jump

    ticks = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        candles_from_ticks(ticks, interval_ms=60_000, lateness="10 seconds")
        .writeStream.format("memory").queryName("late_close")
        .outputMode("append").trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM late_close").first().c >= 1:
            break
        _time.sleep(1)
    q.stop()
    r = {x.bucket_ts: x for x in spark.sql("SELECT * FROM late_close").collect()}[m0]
    assert r.close == 110.0, f"late tick overwrote close: {r.close}"
    assert (r.low, r.open, r.n_ticks) == (90.0, 100.0, 3)


def test_stream_stream_spread_join(spark, tmp_path):
    """Watermarked stream-stream join (cross-venue spread): candles that
    arrive in DIFFERENT micro-batches still join per bucket, and the join
    state is evicted once the watermark passes (bounded state)."""
    import json as _json
    import time as _time

    from crypto_data_ingestion_module_spark.streaming.join import (
        cross_venue_spread,
    )

    left_src = str(tmp_path / "cb")
    right_src = str(tmp_path / "ku")
    os.makedirs(left_src)
    os.makedirs(right_src)
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 0, 15)
    tf = dt.datetime(2024, 1, 1, 3, 0)  # pushes watermark to 02:30 > t1

    def cand(ts, close, exch):
        return [
            (close - 0.5, close + 1, close - 1, close, 1.0, ts,
             "BTC-USDT", exch, "15m", "spot")
        ]

    def write(src, rows):
        spark.createDataFrame(rows, _CANDLE_SCHEMA_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)  # distinct mod-times -> deterministic file order

    # interleaved arrival: bucket t0 shows up on the left FIRST and on the
    # right only two micro-batches later (t1 the other way around), so the
    # t0/t1 join outputs can only come from cross-batch buffered state
    write(left_src, cand(t0, 42000.0, "coinbase"))
    write(right_src, cand(t1, 42110.0, "kucoin"))
    write(left_src, cand(t1, 42100.0, "coinbase"))
    write(right_src, cand(t0, 42050.0, "kucoin"))
    write(left_src, cand(tf, 43000.0, "coinbase"))
    write(right_src, cand(tf, 43005.0, "kucoin"))

    left = (
        spark.readStream.schema(_CANDLE_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 1).parquet(left_src)
    )
    right = (
        spark.readStream.schema(_CANDLE_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 1).parquet(right_src)
    )
    spreads = cross_venue_spread(left, right, interval="15m", lateness="30 minutes")
    q = (
        spreads.writeStream.format("memory").queryName("spread_out")
        .outputMode("append").trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM spread_out").first().c >= 3:
            break
        _time.sleep(1)
    _time.sleep(5)  # let the no-data batch fire -> watermark eviction
    progresses = [_json.loads(p.json) for p in q.recentProgress]
    q.stop()

    rows = {r.bucket_ts: r for r in spark.sql("SELECT * FROM spread_out").collect()}
    assert set(rows) == {t0, t1, tf}
    r0 = rows[t0]
    assert (r0.exchange_a, r0.exchange_b) == ("coinbase", "kucoin")
    assert (r0.close_a, r0.close_b) == (42000.0, 42050.0)
    assert abs(r0.spread + 50.0) < 1e-9
    assert abs(r0.spread_bps + 50.0 / 42050.0 * 10_000.0) < 1e-9

    removed = sum(
        int(op.get("numRowsRemoved", 0) or 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert removed > 0, "watermark never evicted join state"


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Native session_window streaming sessionization: finalized sessions
    must equal the registered batch query's rows for every session the
    watermark closed — bit-identical including the fixed-point sum."""
    import time as _time

    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS
    from crypto_data_ingestion_module_spark.session import load_table
    from crypto_data_ingestion_module_spark.streaming.analytics import (
        user_sessions_stream,
    )
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "in")
    os.makedirs(src)
    # two arrival files split by event id — sessions straddle batches
    for n, i in enumerate([0, 1]):
        tmp = str(tmp_path / f"t{i}")
        ev.filter(F.col("event_id") % 2 == i).coalesce(1).write.parquet(tmp)
        os.rename(
            glob.glob(tmp + "/*.parquet")[0], os.path.join(src, f"b{n}.parquet")
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        user_sessions_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert got, "no session finalized"

    # batch twin, restricted to sessions the stream's final watermark
    # (max ts - 1h lateness) had closed (end + 30min gap < watermark)
    max_ts = ev.agg(F.max("ts")).first()[0]
    import datetime as _dt

    wm = max_ts - _dt.timedelta(hours=1)
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in QUERY_SPECS["user_sessions_30m"].spark(spark, SF_SMALL).collect()
        if r.session_end + _dt.timedelta(minutes=30) < wm
    }
    # every watermark-closed batch session must appear, bit-identical
    for k, v in want.items():
        assert got.get(k) == v, (k, got.get(k), v)
    # and nothing the stream emitted disagrees with the batch plan
    full = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in QUERY_SPECS["user_sessions_30m"].spark(spark, SF_SMALL).collect()
    }
    for k, v in got.items():
        assert full.get(k) == v, (k, v, full.get(k))


def test_backfill_is_watermark_incremental(spark, tmp_path):
    """Re-running backfill fetches only past the lake watermark: an
    up-to-date lake clamps the manifest to EMPTY (the reference's
    last_collected_ts discipline), and a range extension fetches only
    the delta."""
    from crypto_data_ingestion_module_spark.sources.manifest import (
        backfill_manifest,
        incremental_manifest,
    )

    lake = str(tmp_path / "lake")
    backfill(
        spark,
        _symbols(spark),
        _intervals(spark),
        end_ms=START_MS + 3 * DAY_MS,
        adapter=MockExchangeAdapter(),
        lake_root=lake,
    )
    stored = read_snapshot(spark, lake)

    # same range again: nothing left to fetch
    full = backfill_manifest(
        spark, _symbols(spark), _intervals(spark), START_MS + 3 * DAY_MS
    )
    assert incremental_manifest(full, stored).count() == 0

    # one more day: every chunk starts exactly at the watermark + 1 ivl
    ext = backfill_manifest(
        spark, _symbols(spark), _intervals(spark), START_MS + 4 * DAY_MS
    )
    delta = incremental_manifest(ext, stored)
    rows = delta.collect()
    assert rows
    for r in rows:
        assert r.chunk_start_ms >= START_MS + 3 * DAY_MS - DAY_MS, r
        assert r.chunk_end_ms == START_MS + 4 * DAY_MS, r

    # and the end-to-end incremental run lands the exact full-range state
    backfill(
        spark,
        _symbols(spark),
        _intervals(spark),
        end_ms=START_MS + 4 * DAY_MS,
        adapter=MockExchangeAdapter(),
        lake_root=lake,
    )
    got = {
        (r.symbol, r.interval, r.exchange, r.timestamp)
        for r in read_snapshot(spark, lake).collect()
    }
    fresh_lake = str(tmp_path / "fresh")
    backfill(
        spark,
        _symbols(spark),
        _intervals(spark),
        end_ms=START_MS + 4 * DAY_MS,
        adapter=MockExchangeAdapter(),
        lake_root=fresh_lake,
    )
    want = {
        (r.symbol, r.interval, r.exchange, r.timestamp)
        for r in read_snapshot(spark, fresh_lake).collect()
    }
    assert got == want


def _backfill_records(caplog) -> list[dict]:
    import json

    return [
        json.loads(r.getMessage()[len("backfill "):])
        for r in caplog.records
        if r.getMessage().startswith("backfill {")
    ]


def test_backfill_reads_no_lake_file_around_the_fetch(spark, tmp_path, monkeypatch):
    """On a lake whose files all carry stats, a cold and a no-op backfill
    take their watermarks and progress from the manifest: with the lake
    reader disabled both still succeed, and the progress they return is
    a local relation, not a file scan."""
    from crypto_data_ingestion_module_spark import pipelines
    from tests.conftest import physical_plan

    def no_scan(*args, **kwargs):
        raise AssertionError("backfill scanned the lake")

    monkeypatch.setattr(pipelines, "read_snapshot", no_scan)
    lake = str(tmp_path / "lake")
    end_ms = START_MS + 3 * DAY_MS
    for _ in ("cold", "no-op"):
        progress, _ = backfill(
            spark, _symbols(spark), _intervals(spark), end_ms,
            MockExchangeAdapter(), lake,
        )
        plan = physical_plan(progress)
        assert "FileScan" not in plan and "LocalTableScan" in plan, plan
        got = {(r.symbol, r.interval, r.exchange): r.n_candles for r in progress.collect()}
        assert got[("BTC-USDT", "6h", "kucoin")] == 12
        assert got[("BTC-USDT", "1d", "kucoin")] == 3
    monkeypatch.undo()
    want = (
        read_snapshot(spark, lake)
        .groupBy("symbol", "interval", "exchange")
        .agg(
            F.max("timestamp").alias("last_collected_ts"),
            F.count(F.lit(1)).alias("n_candles"),
        )
    )
    assert sorted(progress.collect()) == sorted(want.collect())
    assert progress.schema == want.schema


def test_backfill_logs_one_record_per_call(spark, tmp_path, caplog):
    """Each backfill call logs where its watermarks and progress came
    from, the version it committed and its quarantined page count."""
    import logging

    caplog.set_level(logging.INFO, logger="crypto_data_ingestion_module_spark")
    lake = str(tmp_path / "lake")
    end_ms = START_MS + 2 * DAY_MS
    for _ in range(2):
        backfill(
            spark, _symbols(spark), _intervals(spark), end_ms,
            MockExchangeAdapter(fail_on=frozenset({"kucoin"})), lake,
        )
    cold, noop = _backfill_records(caplog)
    for record in (cold, noop):
        assert record["watermark_source"] == record["progress_source"] == "manifest"
    assert (cold["version"], cold["quarantined"]) == (1, 2)
    # the re-run fetches only the failed venue's pages, which fail again
    assert (noop["version"], noop["quarantined"]) == ("empty batch", 2)


def test_backfill_progress_keeps_empty_and_null_series_apart(
    spark, tmp_path, caplog
):
    """Hive writes an empty-string and a NULL partition value to the same
    default-partition directory name, so the manifest cannot tell the two
    apart; the scan reads the values each file stores.  Progress over a
    lake holding an empty-string series and a NULL series must equal the
    scan row for row, and the call logs that it scanned."""
    import logging

    from crypto_data_ingestion_module_spark.sinks.snapshot import snapshot_upsert

    caplog.set_level(logging.INFO, logger="crypto_data_ingestion_module_spark")
    lake = str(tmp_path / "lake")
    args = (
        _symbols(spark), _intervals(spark), START_MS + DAY_MS,
        MockExchangeAdapter(), lake,
    )
    backfill(spark, *args)
    stored = read_snapshot(spark, lake).drop("_ingest_seq")
    # different venues, so the two series never share a directory
    odd = (
        stored.filter(F.col("exchange") == "coinbase")
        .withColumn("symbol", F.lit(""))
        .unionByName(
            stored.filter(F.col("exchange") == "bitstamp")
            .withColumn("symbol", F.lit(None).cast("string"))
        )
    )
    snapshot_upsert(spark, odd, lake)

    progress, _ = backfill(spark, *args)
    want = (
        read_snapshot(spark, lake)
        .groupBy("symbol", "interval", "exchange")
        .agg(
            F.max("timestamp").alias("last_collected_ts"),
            F.count(F.lit(1)).alias("n_candles"),
        )
    )
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    got = sorted(progress.collect(), key=key)
    assert got == sorted(want.collect(), key=key)
    assert {r.symbol for r in got} >= {"", None}
    record = _backfill_records(caplog)[-1]
    assert record["watermark_source"] == record["progress_source"] == "scan"


def test_backfill_manifest_broadcasts_the_grid(spark):
    """The symbol x interval grid of two parallelized local lists is a
    broadcast nested-loop join, not a CartesianProduct whose every task
    re-runs both inputs' Python RDDs."""
    from crypto_data_ingestion_module_spark.sources.manifest import (
        backfill_manifest,
    )
    from tests.conftest import physical_plan

    manifest = backfill_manifest(
        spark, _symbols(spark), _intervals(spark), START_MS + 3 * DAY_MS
    )
    assert manifest.count() > 0
    plan = physical_plan(manifest)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_live_cycle_runs_at_most_six_jobs(spark, tmp_path):
    """One live cycle over a backfilled lake whose candles lie past every
    stored one is an append: the tick max, the fetch cut, the touched
    aggregate and the clustered write, at most 6 jobs in the query's job
    group (11 when each cycle re-read and rewrote its day partitions and
    read the new files back for their stats)."""
    import json

    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        current_version,
        read_manifest,
    )

    lake = str(tmp_path / "lake")
    intervals = spark.createDataFrame(
        [("15m", 96), ("1h", 24)], "interval string, candles_per_day long"
    )
    backfill(spark, _symbols(spark), intervals, START_MS + DAY_MS, MockExchangeAdapter(), lake)
    boundary_ms = START_MS + DAY_MS + 3_600_000  # 01:00 next day: 15m and 1h open
    ticks = tmp_path / "ticks"
    ticks.mkdir()
    stamp = dt.datetime.fromtimestamp(boundary_ms / 1000, dt.timezone.utc)
    (ticks / "tick.json").write_text(
        json.dumps({"timestamp": stamp.strftime("%Y-%m-%dT%H:%M:%S.000Z")}) + "\n"
    )
    q = live_collection_stream(
        spark, MockExchangeAdapter(), ["BTC-USDT"], ["15m", "1h"], lake,
        str(tmp_path / "ckpt"), tick_seconds=900, available_now=True,
        ticks=spark.readStream.schema("timestamp timestamp").json(str(ticks)),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    man = read_manifest(spark, lake, current_version(spark, lake))
    assert f"cycle-{boundary_ms}" in man["applied_ids"]
    assert read_snapshot(spark, lake).count() == 5 * (96 + 24) + 5 * 2
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 6, len(jobs)
