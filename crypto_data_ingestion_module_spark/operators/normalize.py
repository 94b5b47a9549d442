"""Per-exchange raw-kline normalization (P1/P2/P3/P5/P7) → canonical candles.

The reference normalizes each venue's kline layout into the canonical dict
shape row-by-row in Python (crypto_collector.py:121-131 Coinbase, 202-213
Bitstamp, 279-290 Bitfinex, 359-369 Kucoin, 444-459 Binance.US).  Here each
dialect is a pure column projection over an ``array<string>`` (or struct)
raw column — select + cast only, fully inside whole-stage codegen, so
normalization is free relative to the scan at any scale.

Each venue's layout (FIXTURES.md §2) is defined once, in
:data:`LAYOUTS`; Kucoin's trailing turnover and Binance.US's six trailing
fields are dropped.

Values may arrive as JSON numbers or strings (Binance returns strings) —
everything casts through string→double.  ``strict=False`` switches to
``try_cast`` so malformed rows become NULLs for quarantine instead of
failing the task (reference logs & drops the whole batch, 136-138; we
keep the good rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: Each venue's raw kline layout, defined once: the epoch unit of its
#: timestamp and the canonical field at each position (fields past the
#: sixth are dropped).  Bitstamp's named-field payload uses the field
#: names directly; the fetch layer hands it over positionally in this
#: order.  Read by the per-venue normalizers below and by the fused
#: :func:`normalize_venue_pages` projection.
LAYOUTS: dict[str, tuple[str, tuple[str, ...]]] = {
    "coinbase": ("s", ("timestamp", "low", "high", "open", "close", "volume")),
    "bitstamp": ("s", ("timestamp", "open", "high", "low", "close", "volume")),
    "bitfinex": ("ms", ("timestamp", "open", "close", "high", "low", "volume")),
    "kucoin": ("s", ("timestamp", "open", "close", "high", "low", "volume")),
    "binanceus": ("ms", ("timestamp", "open", "high", "low", "close", "volume")),
}

_VALUES = ("open", "high", "low", "close", "volume")


def _cast(c: Column, strict: bool) -> Column:
    return c.cast("double") if strict else c.try_cast("double")


def _long(c: Column, strict: bool) -> Column:
    return c.cast("long") if strict else c.try_cast("long")


def _canonical(
    value,
    ts: Column,
    symbol: Column,
    exchange: Column,
    strict: bool,
    extra: tuple[str, ...],
) -> list[Column]:
    """The canonical candle columns; ``value(name)`` is the raw value of
    one OHLCV field and ``ts`` the converted timestamp."""
    return [
        *[_cast(value(v), strict).alias(v) for v in _VALUES],
        ts.alias("timestamp"),
        symbol.alias("symbol"),
        exchange.alias("exchange"),
        *[F.col(c) for c in extra],
    ]


def _normalize_one(
    exchange: str, df: DataFrame, field, symbol_col: str, strict: bool, extra: tuple[str, ...]
) -> DataFrame:
    """One venue's rows; ``field(position, name)`` reads a raw field."""
    unit, layout = LAYOUTS[exchange]

    def value(name: str) -> Column:
        return field(layout.index(name), name)

    raw_ts = _long(value("timestamp"), strict)
    ts = F.timestamp_seconds(raw_ts) if unit == "s" else F.timestamp_millis(raw_ts)
    return df.select(
        *_canonical(value, ts, F.col(symbol_col), F.lit(exchange), strict, extra)
    )


def _positional(raw_col: str):
    return lambda pos, _name: F.col(raw_col)[pos]


def normalize_coinbase(
    df: DataFrame, raw_col: str = "kline", symbol_col: str = "symbol", strict: bool = True, extra: tuple[str, ...] = ()
) -> DataFrame:
    return _normalize_one("coinbase", df, _positional(raw_col), symbol_col, strict, extra)


def normalize_bitstamp(
    df: DataFrame, raw_col: str = "ohlc", symbol_col: str = "symbol", strict: bool = True, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Bitstamp returns named string fields (202-213)."""
    return _normalize_one(
        "bitstamp", df, lambda _pos, name: F.col(raw_col)[name], symbol_col, strict, extra
    )


def normalize_bitfinex(
    df: DataFrame, raw_col: str = "kline", symbol_col: str = "symbol", strict: bool = True, extra: tuple[str, ...] = ()
) -> DataFrame:
    return _normalize_one("bitfinex", df, _positional(raw_col), symbol_col, strict, extra)


def normalize_kucoin(
    df: DataFrame, raw_col: str = "kline", symbol_col: str = "symbol", strict: bool = True, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Kucoin: string values; trailing turnover field dropped (359-369)."""
    return _normalize_one("kucoin", df, _positional(raw_col), symbol_col, strict, extra)


def normalize_binanceus(
    df: DataFrame, raw_col: str = "kline", symbol_col: str = "symbol", strict: bool = True, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Binance.US 12-field kline; 6 trailing fields dropped (444-459)."""
    return _normalize_one("binanceus", df, _positional(raw_col), symbol_col, strict, extra)


def normalize_venue_pages(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Positional ``kline`` pages of any mix of venues → canonical
    candles in ONE projection.

    Each row's ``exchange`` selects its layout from :data:`LAYOUTS` (a
    ``CASE`` over the venues gives the array position of each field), so
    one select over one scan normalizes every venue: no per-venue filter
    + union, which would evaluate the input once per venue.  Rows of
    venues without a layout are dropped.
    """
    ex, k = F.col("exchange"), F.col("kline")
    venues = list(LAYOUTS)

    def value(name: str) -> Column:
        pos = F.when(ex == venues[0], LAYOUTS[venues[0]][1].index(name))
        for v in venues[1:]:
            pos = pos.when(ex == v, LAYOUTS[v][1].index(name))
        return k[pos]

    raw_ts = value("timestamp").cast("long")
    ts = F.when(
        ex.isin(*[v for v, (unit, _) in LAYOUTS.items() if unit == "s"]),
        F.timestamp_seconds(raw_ts),
    ).otherwise(F.timestamp_millis(raw_ts))
    return df.filter(ex.isin(*venues)).select(
        *_canonical(value, ts, F.col("symbol"), ex, True, extra)
    )
