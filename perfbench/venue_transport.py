"""Offline venue transport for ``HttpExchangeAdapter``.

Serves pre-generated kline payloads in each venue's real wire dialect
(FIXTURES.md section 2), so a backfill runs the package's
``sources.http.build_request``, ``parse_response`` and
``normalize_real_pages`` exactly as against the live APIs, with no
network:

- coinbase:  ``[ts_s, low, high, open, close, volume]``, newest first
- bitstamp:  ``{"data": {"ohlc": [{timestamp, open, ...}]}}``, strings
- bitfinex:  ``[ts_ms, open, close, high, low, volume]``, oldest first
- kucoin:    ``{"code": "200000", "data": [[ts_s, o, c, h, l, v, turnover]]}``,
  strings, newest first
- binanceus: 12-field klines, prices as strings, oldest first

A request is resolved by its URL plus its non-time params (the series
key); its time params pick the window ``[start, end)`` of that series.
A fixed set of series answers with an error instead (a Kucoin body
whose ``code`` is not ``"200000"``, and an HTTP 503), so the fetch
layer's quarantine path runs on every backfill.

The transport is pickled into the fetch kernel's closure, so executor
Python workers must be able to import this module: ``ship(spark)`` adds
it to the session with ``addPyFile``.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

from crypto_data_ingestion_module_spark.sources.http import build_request
from crypto_data_ingestion_module_spark.sources.venues import VENUE_INTERVALS

#: Time-window and paging params; every other param names the series.
_WINDOW_PARAMS = frozenset(
    {"start", "end", "startAt", "endAt", "startTime", "endTime", "limit", "sort"}
)

#: (exchange, symbol index, interval, error kind).  Both are single-chunk
#: series (1d: 300-day chunks, 6h: 75-day chunks), so every backfill
#: phase sends exactly one request to each and quarantines exactly two.
INJECTED_ERRORS: tuple[tuple[str, int, str, str], ...] = (
    ("kucoin", 0, "1d", "envelope"),
    ("coinbase", 0, "6h", "status"),
)


def series_key(url: str, params: dict) -> tuple:
    return url, tuple(
        sorted((k, str(v)) for k, v in params.items() if k not in _WINDOW_PARAMS)
    )


def candle_values(exchange: str, symbol: str, ts_ms: int, ivl_ms: int) -> tuple:
    """Deterministic (open, high, low, close, volume) for one bucket."""
    seed = zlib.crc32(f"{exchange}|{symbol}".encode())
    step = ts_ms // ivl_ms
    base = 100.0 + (seed % 50_000) / 10.0
    o = round(base + (step % 89) * 0.25, 2)
    c = round(o + ((step % 7) - 3) * 0.125, 3)
    hi = round(max(o, c) + 1.5, 3)
    lo = round(min(o, c) - 1.5, 3)
    vol = round(5.0 + (step % 17) * 0.5 + (seed % 13), 2)
    return o, hi, lo, c, vol


def _dialect_row(exchange: str, ts_ms: int, ivl_ms: int, vals: tuple) -> object:
    o, hi, lo, c, v = vals
    if exchange == "coinbase":
        return [ts_ms // 1000, lo, hi, o, c, v]
    if exchange == "bitstamp":
        return {
            "timestamp": str(ts_ms // 1000), "open": str(o), "high": str(hi),
            "low": str(lo), "close": str(c), "volume": str(v),
        }
    if exchange == "bitfinex":
        return [ts_ms, o, c, hi, lo, v]
    if exchange == "kucoin":
        return [str(ts_ms // 1000), str(o), str(c), str(hi), str(lo), str(v),
                str(round(v * c, 4))]
    # binanceus
    return [ts_ms, str(o), str(hi), str(lo), str(c), str(v), ts_ms + ivl_ms - 1,
            str(round(v * c, 4)), 100 + ts_ms // ivl_ms % 50, str(v / 2),
            str(round(v * c / 2, 4)), "0"]


def _window(exchange: str, params: dict) -> tuple[int, int]:
    if exchange == "coinbase":
        def ms(s: str) -> int:
            return int(dt.datetime.fromisoformat(s).timestamp() * 1000)
        return ms(params["start"]), ms(params["end"])
    if exchange == "bitstamp":
        return int(params["start"]) * 1000, int(params["end"]) * 1000
    if exchange == "kucoin":
        return int(params["startAt"]) * 1000, int(params["endAt"]) * 1000
    if exchange == "bitfinex":
        return int(params["start"]), int(params["end"])
    return int(params["startTime"]), int(params["endTime"])


class VenueTransport:
    """``transport(url, params) -> (status, body)`` over pre-generated
    series covering ``[start_ms, end_ms)`` for every supported
    (exchange, symbol, interval) of the grid."""

    def __init__(
        self,
        symbols: list[str],
        intervals: list[str],
        start_ms: int,
        end_ms: int,
        errors: tuple[tuple[str, int, str, str], ...] = INJECTED_ERRORS,
    ):
        self.start_ms = start_ms
        self.series: dict[tuple, tuple[str, int, list]] = {}
        self.errors: dict[tuple, str] = {}
        failing = {(ex, symbols[i], ivl): kind for ex, i, ivl, kind in errors}
        for exchange, interval, native, gran_s, _limit, _pace in VENUE_INTERVALS:
            if interval not in intervals:
                continue
            ivl_ms = gran_s * 1000
            for symbol in symbols:
                req = build_request(exchange, symbol, native, start_ms, end_ms)
                key = series_key(req.url, req.params)
                kind = failing.get((exchange, symbol, interval))
                if kind is not None:
                    self.errors[key] = kind
                    continue
                rows = [
                    _dialect_row(
                        exchange, ts, ivl_ms,
                        candle_values(exchange, symbol, ts, ivl_ms),
                    )
                    for ts in range(start_ms, end_ms, ivl_ms)
                ]
                self.series[key] = (exchange, ivl_ms, rows)

    def __call__(self, url: str, params: dict) -> tuple[int, object]:
        key = series_key(url, params)
        kind = self.errors.get(key)
        if kind == "status":
            return 503, {"message": "service unavailable"}
        if kind == "envelope":
            return 200, {"code": "429000", "msg": "too many requests"}
        if key not in self.series:
            return 404, None
        exchange, ivl_ms, rows = self.series[key]
        lo_ms, hi_ms = _window(exchange, params)
        lo = max(0, -(-(lo_ms - self.start_ms) // ivl_ms))
        hi = max(lo, -(-(hi_ms - self.start_ms) // ivl_ms))
        page = rows[lo:min(hi, lo + int(params.get("limit", 300)))]
        if exchange in ("coinbase", "kucoin"):
            page = page[::-1]
        if exchange == "bitstamp":
            return 200, {"data": {"pair": "", "ohlc": page}}
        if exchange == "kucoin":
            return 200, {"code": "200000", "data": page}
        return 200, page


def ship(spark) -> None:
    """Make this module importable on executor Python workers."""
    spark.sparkContext.addPyFile(os.path.abspath(__file__))
