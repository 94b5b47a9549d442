"""Time/interval expressions.

Reference semantics covered here (crypto_collector.py citations):
- timestamp → epoch ms (480, 502, 567)
- interval string parse ``'15m'`` → ms, default 15m (741-752)
- interval → native-unit lookups (68-75, 160-166, 238-243, 315-321, 408-416)
- boundary gating: collect 1h at minute 0, 4h at hour%4==0, 6h at hour%6==0,
  1d at 00:00 UTC (719-739)

All pure Column expressions: integer math on epoch millis, so results are
bit-identical across Spark and any ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: interval string → milliseconds (reference get_interval_ms, 741-752).
INTERVAL_MS = {
    "1m": 60_000,
    "5m": 300_000,
    "15m": 900_000,
    "30m": 1_800_000,
    "1h": 3_600_000,
    "4h": 14_400_000,
    "6h": 21_600_000,
    "12h": 43_200_000,
    "1d": 86_400_000,
}

#: unit char → ms multiplier (reference 744-751: s/m/h/d, default 15m).
_UNIT_MS = {"s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
DEFAULT_INTERVAL_MS = 900_000  # 15m fallback (reference 752)


def parse_interval_ms(interval: str) -> int:
    """Driver-side parse of ``'15m'``-style strings → milliseconds.

    Mirrors reference ``get_interval_ms`` (741-752): unit suffix char,
    integer prefix, unknown → 15-minute default.
    """
    if not interval:
        return DEFAULT_INTERVAL_MS
    unit, value = interval[-1], interval[:-1]
    if unit in _UNIT_MS and value.isdigit():
        return int(value) * _UNIT_MS[unit]
    return DEFAULT_INTERVAL_MS


def parse_native_interval_ms(native: str) -> int:
    """Parse any venue's native interval form to milliseconds:
    ``'900'``/``'21600'`` (seconds — Coinbase/Bitstamp), ``'15m'``/``'1D'``
    (Bitfinex/Binance), ``'15min'``/``'6hour'``/``'1day'`` (Kucoin)."""
    if native.isdigit():
        return int(native) * 1_000
    low = native.lower()
    for suffix, unit in (("min", "m"), ("hour", "h"), ("day", "d")):
        if low.endswith(suffix):
            return parse_interval_ms(low[: -len(suffix)] + unit)
    return parse_interval_ms(low)


def interval_ms_col(interval: Column | str) -> Column:
    """Column-level interval parse (P10): regexp + CASE on the unit char."""
    c = F.col(interval) if isinstance(interval, str) else interval
    value = F.regexp_extract(c, r"^(\d+)", 1)
    unit = F.regexp_extract(c, r"([smhd])$", 1)
    num = F.when(value == "", F.lit(None)).otherwise(value.cast("long"))
    mult = (
        F.when(unit == "s", F.lit(1_000))
        .when(unit == "m", F.lit(60_000))
        .when(unit == "h", F.lit(3_600_000))
        .when(unit == "d", F.lit(86_400_000))
        .otherwise(F.lit(None))
    )
    return F.coalesce(num * mult, F.lit(DEFAULT_INTERVAL_MS)).cast("long")


def epoch_ms(ts: Column | str) -> Column:
    """timestamp → epoch milliseconds (P4; reference 480, 502, 567)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_millis(c)


def bucket_start(ts: Column | str, interval_ms: int | Column) -> Column:
    """Tumbling-window start: floor the epoch-ms to the interval grid.

    Pure integer math (``floor(ms / ivl) * ivl``) so any SQL engine
    reproduces it exactly; epoch-origin-aligned like Spark's ``window()``.
    """
    ivl = F.lit(interval_ms) if isinstance(interval_ms, int) else interval_ms
    ms = epoch_ms(ts)
    return F.timestamp_millis((F.floor(ms / ivl) * ivl).cast("long"))


def should_collect_ms(boundary_ms: int, interval: str) -> bool:
    """Driver-side twin of :func:`should_collect` for literal boundaries
    (reference 719-739) — no Spark job needed to gate a known timestamp."""
    minute = (boundary_ms // 60_000) % 60
    hour = (boundary_ms // 3_600_000) % 24
    gates = {
        "15m": minute % 15 == 0,
        "1h": minute == 0,
        "4h": minute == 0 and hour % 4 == 0,
        "6h": minute == 0 and hour % 6 == 0,
        "1d": minute == 0 and hour == 0,
    }
    return gates.get(interval, False)


def should_collect(ts: Column | str, interval: str) -> Column:
    """Interval-boundary gate (F3; reference should_collect_interval 719-739).

    15m: every quarter-hour boundary; 1h: minute==0; 4h: minute==0 and
    hour%4==0; 6h: minute==0 and hour%6==0; 1d: 00:00 UTC.  Unknown
    interval → false (reference warns + skips, 737-739).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    minute, hour = F.minute(c), F.hour(c)
    gates = {
        "15m": minute % 15 == 0,
        "1h": minute == 0,
        "4h": (minute == 0) & (hour % 4 == 0),
        "6h": (minute == 0) & (hour % 6 == 0),
        "1d": (minute == 0) & (hour == 0),
    }
    return gates.get(interval, F.lit(False))
