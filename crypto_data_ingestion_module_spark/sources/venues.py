"""Venue configuration dimension — replaces the reference's per-exchange
subclass constants with a small broadcastable dim table.

Values transcribed from crypto_collector.py:
- interval maps: Coinbase 68-75 (seconds), Bitstamp 160-166 (seconds),
  Bitfinex 238-243 (timeframe strings), Kucoin 315-321 (type strings),
  Binance.US 408-416 (native strings)
- page limits: 63, 155, 233, 310, 402 (all 300)
- pacing: 1.0 s default (38), 0.5 s Binance.US (403)
- availability: BinanceUS × BTC-USDT only from 2020-01-01 (566-572)

On a cluster this dim is broadcast to every join (a few dozen rows), so
interval/dialect resolution never shuffles the fact stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: (exchange, interval, native_interval, granularity_s, page_limit, pacing_s)
VENUE_INTERVALS: list[tuple[str, str, str, int, int, float]] = [
    # Coinbase: granularity in seconds (68-75); NO 4h support.
    ("coinbase", "1m", "60", 60, 300, 1.0),
    ("coinbase", "5m", "300", 300, 300, 1.0),
    ("coinbase", "15m", "900", 900, 300, 1.0),
    ("coinbase", "1h", "3600", 3600, 300, 1.0),
    ("coinbase", "6h", "21600", 21600, 300, 1.0),
    ("coinbase", "1d", "86400", 86400, 300, 1.0),
    # Bitstamp: step in seconds (160-166); no 1m/5m.
    ("bitstamp", "15m", "900", 900, 300, 1.0),
    ("bitstamp", "1h", "3600", 3600, 300, 1.0),
    ("bitstamp", "4h", "14400", 14400, 300, 1.0),
    ("bitstamp", "6h", "21600", 21600, 300, 1.0),
    ("bitstamp", "1d", "86400", 86400, 300, 1.0),
    # Bitfinex: timeframe strings (238-243); no 4h, 1D capitalized.
    ("bitfinex", "15m", "15m", 900, 300, 1.0),
    ("bitfinex", "1h", "1h", 3600, 300, 1.0),
    ("bitfinex", "6h", "6h", 21600, 300, 1.0),
    ("bitfinex", "1d", "1D", 86400, 300, 1.0),
    # Kucoin: type strings (315-321).
    ("kucoin", "15m", "15min", 900, 300, 1.0),
    ("kucoin", "1h", "1hour", 3600, 300, 1.0),
    ("kucoin", "4h", "4hour", 14400, 300, 1.0),
    ("kucoin", "6h", "6hour", 21600, 300, 1.0),
    ("kucoin", "1d", "1day", 86400, 300, 1.0),
    # Binance.US: native strings (408-416), faster pacing (403).
    ("binanceus", "1m", "1m", 60, 300, 0.5),
    ("binanceus", "5m", "5m", 300, 300, 0.5),
    ("binanceus", "15m", "15m", 900, 300, 0.5),
    ("binanceus", "1h", "1h", 3600, 300, 0.5),
    ("binanceus", "4h", "4h", 14400, 300, 0.5),
    ("binanceus", "6h", "6h", 21600, 300, 0.5),
    ("binanceus", "1d", "1d", 86400, 300, 0.5),
]

#: candles per day by interval (reference 484-490).
CANDLES_PER_DAY = {"15m": 96, "1h": 24, "4h": 6, "6h": 4, "1d": 1}

#: (exchange, symbol, available_from epoch-ms) — reference 566-572.
AVAILABILITY: list[tuple[str, str, int]] = [
    ("binanceus", "BTC-USDT", 1577836800000),  # 2020-01-01 UTC
]


def values_sql(rows: list[tuple], cols: str) -> str:
    """A ``VALUES`` literal table: Spark plans it as a JVM-local relation."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, float):
            return f"CAST({v!r} AS DOUBLE)"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return f"SELECT * FROM (VALUES {body}) AS t({cols})"


VENUE_COLS = (
    "exchange, `interval`, native_interval, granularity_s, page_limit, pacing_s"
)
AVAIL_COLS = "exchange, symbol, available_from_ms"


def venue_config_df(spark: SparkSession) -> DataFrame:
    """The venue×interval config dim (JVM-side literal relation)."""
    return spark.sql(values_sql(VENUE_INTERVALS, VENUE_COLS))


def availability_df(spark: SparkSession) -> DataFrame:
    return spark.sql(values_sql(AVAILABILITY, AVAIL_COLS))


def oracle_values(rows: list[tuple], cols: str) -> str:
    """Same literal table as ANSI SQL for the DuckDB oracle (the venue
    constants hold no quote or backslash, which Spark escapes
    differently)."""
    return values_sql(rows, cols).replace("`interval`", '"interval"')
