"""Unit tests per operator (SURVEY §5.2): tiny literal inputs, adversarial
cases the oracle queries don't isolate."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions.timeutil import (
    INTERVAL_MS,
    parse_interval_ms,
    should_collect,
)
from crypto_data_ingestion_module_spark.operators.dedup import (
    dedup_keep_last,
    dedup_keep_last_window,
)
from crypto_data_ingestion_module_spark.operators.merge import merge_keep_last
from crypto_data_ingestion_module_spark.operators.resample import resample_ohlcv


def test_parse_interval_ms_known():
    assert parse_interval_ms("15m") == 900_000
    assert parse_interval_ms("1h") == 3_600_000
    assert parse_interval_ms("1d") == 86_400_000
    assert parse_interval_ms("30s") == 30_000
    # unknown → 15m default (reference get_interval_ms, 752)
    assert parse_interval_ms("bogus") == 900_000
    assert parse_interval_ms("") == 900_000
    for k, v in INTERVAL_MS.items():
        assert parse_interval_ms(k) == v


def test_dedup_keep_last_adversarial(spark):
    # duplicate ts with DIFFERENT values: highest _ingest_seq must win
    df = spark.createDataFrame(
        [
            ("BTC", 1000, 1, 99.0),
            ("BTC", 1000, 2, 42.0),  # winner
            ("BTC", 2000, 1, 7.0),
            ("ETH", 1000, 5, 1.0),
        ],
        "symbol string, ts long, _ingest_seq long, value double",
    )
    for impl in (dedup_keep_last, dedup_keep_last_window):
        out = {
            (r.symbol, r.ts): (r.value, r._ingest_seq)
            for r in impl(df, ["symbol", "ts"], "_ingest_seq").collect()
        }
        assert out[("BTC", 1000)] == (42.0, 2), impl.__name__
        assert out[("BTC", 2000)] == (7.0, 1)
        assert out[("ETH", 1000)] == (1.0, 5)


def test_merge_keep_last_idempotent(spark):
    existing = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, v double"
    )
    incoming = spark.createDataFrame(
        [(2, 99.0), (3, 30.0)], "k long, v double"
    )
    merged = merge_keep_last(existing, incoming, ["k"])
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    # re-delivering the same incoming batch must not change the table
    again = merge_keep_last(merged.drop("_ingest_seq"), incoming, ["k"])
    assert {r.k: r.v for r in again.collect()} == got


def test_resample_ohlcv_semantics(spark):
    base = 1_700_000_400_000  # NOT hour-aligned: 2023-11-14 22:20:00 UTC
    hour = 3_600_000
    rows = [
        # one symbol, candles crossing an hour boundary
        ("BTC", base, 10.0, 12.0, 9.0, 11.0, 1.0),
        ("BTC", base + 600_000, 11.0, 15.0, 10.5, 14.0, 2.0),
        ("BTC", base + 3_000_000, 14.0, 14.5, 13.0, 13.5, 4.0),  # next hour
    ]
    df = spark.createDataFrame(
        [
            (s, dt.datetime.utcfromtimestamp(ts / 1000), o, h, lo, c, v)
            for s, ts, o, h, lo, c, v in rows
        ],
        "symbol string, timestamp timestamp, open double, high double, low double, close double, volume double",
    )
    out = resample_ohlcv(df, hour, keys=["symbol"]).collect()
    by_bucket = {r.bucket_ts: r for r in out}
    assert len(by_bucket) == 2
    first = by_bucket[dt.datetime(2023, 11, 14, 22, 0)]
    assert (first.open, first.high, first.low, first.close) == (10.0, 15.0, 9.0, 14.0)
    assert first.volume == 3.0 and first.n_rows == 2
    second = by_bucket[dt.datetime(2023, 11, 14, 23, 0)]
    assert (second.open, second.close, second.n_rows) == (14.0, 13.5, 1)


@pytest.mark.parametrize(
    "minute,hour,expect",
    [
        (0, 0, {"15m": True, "1h": True, "4h": True, "6h": True, "1d": True}),
        (0, 4, {"15m": True, "1h": True, "4h": True, "6h": False, "1d": False}),
        (0, 6, {"15m": True, "1h": True, "4h": False, "6h": True, "1d": False}),
        (0, 12, {"15m": True, "1h": True, "4h": True, "6h": True, "1d": False}),
        (0, 13, {"15m": True, "1h": True, "4h": False, "6h": False, "1d": False}),
        (45, 12, {"15m": True, "1h": False, "4h": False, "6h": False, "1d": False}),
        (7, 0, {"15m": False, "1h": False, "4h": False, "6h": False, "1d": False}),
    ],
)
def test_should_collect_gates(spark, minute, hour, expect):
    ts = dt.datetime(2024, 3, 5, hour, minute)
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    row = df.select(
        *[should_collect("ts", ivl).alias(f"g_{ivl}") for ivl in expect]
    ).first()
    got = {ivl: row[f"g_{ivl}"] for ivl in expect}
    assert got == expect


def test_normalize_golden(spark):
    """Golden-output check: every dialect yields the identical canonical rows."""
    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS

    df = QUERY_SPECS["normalize_candles"].spark(spark, "")
    rows = df.collect()
    assert len(rows) == 10  # 2 candles × 5 exchanges
    by_ex = {}
    for r in rows:
        by_ex.setdefault(r.exchange, []).append(r)
    assert set(by_ex) == {"coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus"}
    # all exchanges must agree on the canonical values per timestamp
    for ex, rs in by_ex.items():
        got = {
            r.timestamp: (r.open, r.high, r.low, r.close, r.volume, r.symbol)
            for r in rs
        }
        assert got == {
            dt.datetime(2024, 1, 1, 0, 0): (42050.25, 42100.0, 42000.5, 42080.75, 12.5, "BTC-USDT"),
            dt.datetime(2024, 1, 1, 0, 15): (42085.5, 42200.0, 42080.0, 42150.0, 8.25, "BTC-USDT"),
        }, ex


def test_manifest_chunk_math(spark):
    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS

    df = QUERY_SPECS["backfill_chunk_manifest"].spark(spark, "")
    rows = df.collect()
    assert rows
    by = {}
    for r in rows:
        by.setdefault((r.symbol, r.interval, r.exchange), []).append(r)
    # coinbase has no 4h (reference 68-75) — must be absent
    assert ("BTC-USDT", "4h", "coinbase") not in by
    # binanceus BTC chunks never start before 2020-01-01 (reference 566-572)
    for r in by[("BTC-USDT", "15m", "binanceus")]:
        assert r.chunk_start_ms >= 1577836800000
    # 1d chunks are 300 days (reference 638-640: min(300//1, 300))
    one_d = sorted(by[("BTC-USDT", "1d", "kucoin")], key=lambda r: r.chunk_start_ms)
    assert one_d[0].chunk_end_ms - one_d[0].chunk_start_ms == 300 * 86_400_000
    # chunks tile the range without gaps
    for a, b in zip(one_d, one_d[1:]):
        assert a.chunk_end_ms == b.chunk_start_ms


def test_asof_join_semantics(spark):
    from crypto_data_ingestion_module_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("x", 10, "L1"), ("x", 20, "L2"), ("x", 5, "L0"), ("y", 100, "L3")],
        "k string, ts long, tag string",
    )
    right = spark.createDataFrame(
        [("x", 5, 50.0), ("x", 15, 60.0), ("x", 20, 70.0), ("z", 1, 99.0)],
        "k string, ts long, p double",
    )
    out = {
        (r.k, r.ts): (r.ts_right, r.p_right)
        for r in asof_join(left, right, on="ts", by=["k"], right_cols=["p"]).collect()
    }
    assert out[("x", 5)] == (5, 50.0)      # exact-ts tie matches (<=)
    assert out[("x", 10)] == (5, 50.0)     # latest at-or-before
    assert out[("x", 20)] == (20, 70.0)    # equal ts wins over 15
    assert out[("y", 100)] == (None, None)  # no right rows for key → NULLs


def test_asof_join_right_tiebreak(spark):
    """Duplicate (by, on) right keys: right_tiebreak makes the greatest
    tiebreak value the deterministic winner."""
    from crypto_data_ingestion_module_spark.operators.asof import asof_join

    left = spark.createDataFrame([("x", 10, "L")], "k string, ts long, tag string")
    right = spark.createDataFrame(
        [("x", 10, 1.0, 7), ("x", 10, 2.0, 9), ("x", 10, 3.0, 8)],
        "k string, ts long, p double, seq long",
    )
    row = asof_join(
        left, right, on="ts", by=["k"], right_cols=["p"], right_tiebreak="seq"
    ).first()
    assert row.p_right == 2.0  # seq 9 wins, not arrival order


def test_derivatives_stub_surface(spark):
    from crypto_data_ingestion_module_spark.sources.derivatives import (
        derivatives_scan,
        options_scan,
    )

    d, o = derivatives_scan(spark), options_scan(spark)
    assert d.count() == 0 and o.count() == 0
    assert "open_interest" in d.columns and "funding_rate" in d.columns
    assert {"strike", "expiry", "option_type"} <= set(o.columns)
    # unions cleanly with real candles (the reference concatenates
    # spot+deriv+options, 622)
    from crypto_data_ingestion_module_spark.schema import CANDLE_SCHEMA

    candles = spark.createDataFrame([], CANDLE_SCHEMA)
    merged = candles.unionByName(d.drop("open_interest", "funding_rate"))
    assert merged.count() == 0


def test_metrics_listener(spark):
    from crypto_data_ingestion_module_spark.streaming.metrics import (
        log_event,
        register_listener,
    )

    listener = register_listener(spark)
    log_event("test_stage", rows=3, table="lake")
    spark.streams.removeListener(listener)


def test_merge_keep_last_successive_corrections(spark):
    """Regression: a second merge's corrections must beat survivors of the
    first merge (seq must be stamped above the existing max, not a
    constant that ties and lets the larger stale payload win)."""
    from crypto_data_ingestion_module_spark.operators.merge import merge_keep_last

    first = merge_keep_last(
        None, spark.createDataFrame([(1, 100.0)], "k long, v double"), ["k"]
    )
    # correction with a SMALLER value — a payload tie-break would keep 100
    corrected = merge_keep_last(
        first, spark.createDataFrame([(1, 50.0)], "k long, v double"), ["k"]
    )
    assert {r.k: r.v for r in corrected.collect()} == {1: 50.0}
    # and a third round still supersedes
    third = merge_keep_last(
        corrected, spark.createDataFrame([(1, 75.0)], "k long, v double"), ["k"]
    )
    assert {r.k: r.v for r in third.collect()} == {1: 75.0}
