"""Per-venue HTTP request construction + response parsing (S1-S5) with an
injectable transport — the live binding of the fetch seam, fully testable
offline against recorded payloads.

The reference builds each venue's request inline in its subclass
(crypto_collector.py: Coinbase 65-138, Bitstamp 157-220, Bitfinex
235-297, Kucoin 312-378, Binance.US 405-466).  Here request shaping is a
pure function (venue dialect in, URL+params out) so tests can assert the
exact wire surface with no network; parsing extracts the venue's raw
kline arrays unchanged — normalization stays in Spark
(operators.normalize), one code path shared with the recorded-fixture
and mock adapters.

Dialect notes (each pinned by a unit test):
- Coinbase: ``granularity`` in seconds, ISO-8601 ``start``/``end``,
  symbol ``BTC-USD`` (92-100, 103-111); body = JSON list of
  ``[ts_s, low, high, open, close, volume]``.
- Bitstamp: ``step`` seconds, epoch-SECOND ``start``/``end``, symbol
  ``btcusd`` (187-194); body nested ``data.ohlc`` named-field rows.
- Bitfinex: timeframe in the PATH (``trade:15m:tBTCUSD``), ``sort=1``
  for chronological order, epoch-MS ``start``/``end`` (263-272).
- Kucoin: ``type`` strings, epoch-SECOND ``startAt``/``endAt``, and a
  body-level envelope whose ``code`` must equal ``"200000"`` even when
  HTTP status is 200 (355-357).
- Binance.US: native interval strings, epoch-MS ``startTime``/
  ``endTime``, symbol ``BTCUSDT`` (426-436).

The adapter receives the venue's NATIVE interval (the manifest joins the
venue dim, sources/venues.py) — the reference's per-method interval maps
live in that broadcastable dim, not here.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

#: transport(url, params) -> (http_status, parsed_json_body)
Transport = Callable[[str, dict], tuple[int, object]]

BASE_URLS = {
    "coinbase": "https://api.exchange.coinbase.com",
    "bitstamp": "https://www.bitstamp.net/api/v2",
    "bitfinex": "https://api-pub.bitfinex.com/v2",
    "kucoin": "https://api.kucoin.com",
    "binanceus": "https://api.binance.us",
}

PAGE_LIMIT_MAX = 300  # every venue caps at 300 (63, 155, 233, 310, 402)


@dataclass(frozen=True)
class VenueRequest:
    url: str
    params: dict = field(hash=False)


# -- plain-Python symbol dialects ------------------------------------------
# Parity with the Column expressions in functions/symbols.py (P8) is
# pinned by a test; the fetch kernel runs plain Python on executors, so
# the adapter cannot use Column expressions.


def _split_usd(symbol: str) -> tuple[str, str] | None:
    parts = symbol.split("-")
    if len(parts) != 2:
        return None
    base, quote = parts
    return base, ("USD" if quote == "USDT" else quote)


def coinbase_symbol(symbol: str) -> str:
    bq = _split_usd(symbol)
    return f"{bq[0]}-{bq[1]}" if bq else symbol.replace("USDT", "USD")


def bitstamp_symbol(symbol: str) -> str:
    bq = _split_usd(symbol)
    if bq:
        return f"{bq[0]}{bq[1]}".lower()
    return symbol.lower().replace("usdt", "usd")


def bitfinex_symbol(symbol: str) -> str:
    bq = _split_usd(symbol)
    if bq:
        return f"t{bq[0]}{bq[1]}"
    return ("t" + symbol.replace("-", "")).replace("USDT", "USD")


def binanceus_symbol(symbol: str) -> str:
    return symbol.replace("-", "")


# -- request builders (pure: dialect in, wire surface out) ------------------


def build_request(
    exchange: str,
    symbol: str,
    native_interval: str,
    start_ms: int | None,
    end_ms: int | None,
    limit: int = PAGE_LIMIT_MAX,
) -> VenueRequest:
    limit = min(limit, PAGE_LIMIT_MAX) if limit else PAGE_LIMIT_MAX
    base = BASE_URLS[exchange]
    if exchange == "coinbase":
        params: dict = {"granularity": int(native_interval), "limit": limit}
        if start_ms is not None:
            params["start"] = _iso8601(start_ms)
        if end_ms is not None:
            params["end"] = _iso8601(end_ms)
        return VenueRequest(
            f"{base}/products/{coinbase_symbol(symbol)}/candles", params
        )
    if exchange == "bitstamp":
        params = {"step": int(native_interval), "limit": limit}
        if start_ms is not None:
            params["start"] = start_ms // 1000
        if end_ms is not None:
            params["end"] = end_ms // 1000
        return VenueRequest(
            f"{base}/ohlc/{bitstamp_symbol(symbol)}/", params
        )
    if exchange == "bitfinex":
        params = {"limit": limit, "sort": 1}
        if start_ms is not None:
            params["start"] = start_ms
        if end_ms is not None:
            params["end"] = end_ms
        return VenueRequest(
            f"{base}/candles/trade:{native_interval}:{bitfinex_symbol(symbol)}/hist",
            params,
        )
    if exchange == "kucoin":
        # Kucoin requires BOTH bounds (334-341); the manifest always
        # provides a closed chunk, so no wall-clock default is needed here
        if start_ms is None or end_ms is None:
            raise ValueError("kucoin requires both start_ms and end_ms")
        return VenueRequest(
            f"{base}/api/v1/market/candles",
            {
                "symbol": symbol,
                "type": native_interval,
                "startAt": start_ms // 1000,
                "endAt": end_ms // 1000,
            },
        )
    if exchange == "binanceus":
        params = {
            "symbol": binanceus_symbol(symbol),
            "interval": native_interval,
            "limit": limit,
        }
        if start_ms is not None:
            params["startTime"] = start_ms
        if end_ms is not None:
            params["endTime"] = end_ms
        return VenueRequest(f"{base}/api/v3/klines", params)
    raise ValueError(f"unknown exchange {exchange!r}")


def _iso8601(epoch_ms: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(
        epoch_ms / 1000, tz=dt.timezone.utc
    ).isoformat()


# -- response parsing (raw kline arrays out; Spark normalizes) --------------


def parse_response(exchange: str, status: int, body: object) -> list[list[str]]:
    """Venue JSON body → raw kline rows (stringified, venue-native layout
    and order), matching what the recorded fixtures / mock adapter emit
    so ``normalize_real_pages`` is one shared path.

    Non-200 status — and Kucoin's body-level error envelope — raise, so
    the fetch kernel quarantines the task (T7) instead of failing it.
    """
    if status != 200:
        raise RuntimeError(f"{exchange} API error {status}")
    if exchange == "kucoin":
        if not isinstance(body, dict) or body.get("code") != "200000":
            msg = body.get("msg", "?") if isinstance(body, dict) else "bad body"
            raise RuntimeError(f"kucoin API error: {msg}")
        rows = body["data"]
    elif exchange == "bitstamp":
        # named-field rows → the positional order of bitstamp's entry in
        # operators.normalize.LAYOUTS, which normalize_real_pages reads.  A 200
        # without the data/ohlc envelope is an error page, not an empty
        # window — raise so the kernel quarantines it.
        if not isinstance(body, dict) or not isinstance(body.get("data"), dict) \
                or "ohlc" not in body["data"]:
            raise RuntimeError("bitstamp: missing data.ohlc envelope")
        rows = [
            [r["timestamp"], r["open"], r["high"], r["low"], r["close"], r["volume"]]
            for r in body["data"]["ohlc"]
        ]
    else:
        rows = body  # coinbase / bitfinex / binanceus: JSON array of arrays
    # Shape gate: anything but a list of list-rows raises → quarantined.
    # Without this, a dict body iterates its KEYS and a string row
    # iterates its CHARS — silently emitting garbage "klines" downstream
    # (found by the adversarial-payload fuzz test).
    if not isinstance(rows, list) or not all(
        isinstance(r, (list, tuple)) for r in rows
    ):
        raise RuntimeError(f"{exchange}: malformed kline payload")
    return [[str(v) for v in row] for row in rows]


class VenueHttpAdapter:
    """The live fetch seam: request build → transport → parse.

    Satisfies the ``Adapter`` protocol of ``sources.fetch``; the transport
    is injectable, so tests drive it with recorded payloads and a real
    deployment passes :func:`requests_transport`.  Raises on venue errors
    — the fetch kernel's quarantine catch (fetch.py) turns that into a
    badRecords row, never a failed task.
    """

    def __init__(self, transport: Transport):
        self.transport = transport

    def __call__(
        self,
        exchange: str,
        symbol: str,
        interval: str,
        start_ms: int,
        end_ms: int,
        limit: int,
    ) -> list[list[str]]:
        req = build_request(exchange, symbol, interval, start_ms, end_ms, limit)
        status, body = self.transport(req.url, req.params)
        return parse_response(exchange, status, body)


def requests_transport(url: str, params: dict) -> tuple[int, object]:
    """Live-network transport (unused in this offline build; gated behind
    an import so environments without ``requests`` still import this
    module)."""
    import requests  # noqa: PLC0415

    resp = requests.get(url, params=params, timeout=30)
    try:
        body = resp.json()
    except ValueError:
        body = None
    return resp.status_code, body


class RecordedTransport:
    """Replay canned JSON payloads keyed by (url, frozen params) or by
    URL alone; records every request for wire-surface assertions."""

    def __init__(self, payloads: dict[str, tuple[int, object]]):
        self.payloads = payloads
        self.requests: list[VenueRequest] = []

    def __call__(self, url: str, params: dict) -> tuple[int, object]:
        self.requests.append(VenueRequest(url, dict(params)))
        if url not in self.payloads:
            return 404, None
        return self.payloads[url]
