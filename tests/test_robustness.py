"""Adversarial-input robustness: venue parsers and text functions.

The engine's failure contract is (a) parsers either return well-typed
rows or raise — and the fetch kernel turns any raise into a quarantine
row, never a failed task; (b) text Column functions total-function over
arbitrary strings (empty, unicode, control chars) without raising and
with their documented ranges intact.
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.sources.http import parse_response

_EXCHANGES = ["coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus"]

_jsonish = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**40), max_value=2**40),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.text(max_size=12),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(max_size=8), children, max_size=4),
    ),
    max_leaves=12,
)


@settings(deadline=None, max_examples=200)
@given(
    exchange=st.sampled_from(_EXCHANGES),
    status=st.integers(min_value=100, max_value=599),
    body=_jsonish,
)
def test_parse_response_returns_typed_rows_or_raises(exchange, status, body):
    """Whatever the wire sends, the parser never hands malformed data
    downstream: any non-exception result is a list of lists of str (and
    json-serializable, like the recorded fixtures)."""
    try:
        rows = parse_response(exchange, status, body)
    except Exception:
        return  # the fetch kernel quarantines this — contract satisfied
    assert isinstance(rows, list)
    for row in rows:
        assert isinstance(row, list)
        assert all(isinstance(v, str) for v in row)
    json.dumps(rows)


def test_garbage_body_quarantines_not_fails(spark):
    """A venue returning 200 with a garbage body must become quarantine
    rows through the real fetch kernel, not a failed job."""
    from crypto_data_ingestion_module_spark.sources.fetch import (
        fetch_pages,
        quarantined,
    )
    from crypto_data_ingestion_module_spark.sources.http import VenueHttpAdapter
    from crypto_data_ingestion_module_spark.sources.manifest import (
        backfill_manifest,
    )

    symbols = spark.createDataFrame(
        [("BTC-USDT", 1704067200000)], "symbol string, start_ms long"
    )
    intervals = spark.createDataFrame(
        [("1d", 1)], "interval string, candles_per_day long"
    )
    manifest = backfill_manifest(
        spark, symbols, intervals, 1704067200000 + 2 * 86_400_000
    )
    adapter = VenueHttpAdapter(lambda url, params: (200, {"oops": [1, 2]}))
    raw = fetch_pages(spark, manifest, adapter)
    q = quarantined(raw)
    assert q.count() == manifest.count()  # every chunk quarantined
    assert raw.filter(F.col("error").isNull()).count() == 0  # zero "klines"


_ADVERSARIAL = [
    "",
    " ",
    "\t\n\r",
    "a",
    "ä ö ü ß",
    "日本語のテキストです。中文文本。",
    "🙂🚀🔥" * 5,
    "\x00\x01\x02",
    "word " * 2000,
    "ALLCAPS SHOUTING!!!",
    "mixed 数字 123 and ünïcödé",
    "a.b.c.d.e.f",
    "........",
    "https://example.com/path?q=1&r=2",
    "tab\tseparated\tfields",
]


def test_text_functions_total_on_adversarial_strings(spark):
    from crypto_data_ingestion_module_spark.functions import text as TX

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_ADVERSARIAL)], "doc_id long, text string"
    )
    out = df.select(
        "doc_id",
        TX.word_count("text").alias("wc"),
        TX.token_count("text").alias("tc"),
        TX.quality_score("text").alias("q"),
        TX.fingerprint("text").alias("fp"),
        TX.punct_count("text").alias("pc"),
        TX.stopword_count("text").alias("sw"),
    ).collect()
    assert len(out) == len(_ADVERSARIAL)
    for r in out:
        assert r.wc >= 0 and r.tc >= 0 and r.pc >= 0 and r.sw >= 0
        assert 0.0 <= r.q <= 1.0, (r.doc_id, r.q)
        assert len(r.fp) == 32  # md5 hex


def test_curation_ops_total_on_adversarial_strings(spark):
    """Dedup/decontam operators must process the adversarial corpus
    end-to-end (no raise, full coverage)."""
    from crypto_data_ingestion_module_spark.operators.decontam import (
        contamination_flags,
    )
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        minhash_lsh_pairs,
        simhash_hamming_pairs,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_ADVERSARIAL)], "doc_id long, text string"
    )
    flags = contamination_flags(df, df.limit(3), n=4)
    assert flags.count() == len(_ADVERSARIAL)
    # pair generators run without raising; pair ids stay in-corpus
    ids = set(range(len(_ADVERSARIAL)))
    for pairs in (minhash_lsh_pairs(df), simhash_hamming_pairs(df)):
        for r in pairs.collect():
            assert r.id_a in ids and r.id_b in ids and r.id_a < r.id_b


def test_session_attribution_hot_user_skew(spark):
    """A single user owning a large, week-long session (the hot-key case
    for the hour-grid interval join) must neither misattribute nor blow
    up the explode: span rows are bounded by hours spanned, and every
    purchase lands in exactly one session."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # hot user 1: 2000 events 5 minutes apart (one ~7-day session)
    for i in range(2000):
        rows.append(
            (
                i,
                t0 + dt.timedelta(minutes=5 * i),
                1,
                "purchase" if i % 10 == 0 else "view",
                1.0,
                "{}",
            )
        )
    # cold user 2: two separated sessions with one purchase each
    for n, off in enumerate((0, 600)):
        rows.append(
            (10_000 + n, t0 + dt.timedelta(minutes=off), 2, "purchase", 2.0, "{}")
        )
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        # the testdata layout: one parquet FILE with TIMESTAMP(NANOS)
        pq.write_table(table, f"{d}/events.parquet")
        out = QUERY_SPECS["session_purchase_attribution"].spark(spark, d)
        got = {(r.user_id, r.s_start): r.n_purchases for r in out.collect()}
    # user 1: ONE session holding all 200 purchases
    u1 = {k: v for k, v in got.items() if k[0] == 1}
    assert len(u1) == 1 and list(u1.values()) == [200], u1
    # user 2: two sessions, one purchase each
    u2 = {k: v for k, v in got.items() if k[0] == 2}
    assert len(u2) == 2 and set(u2.values()) == {1}, u2


# --------------------------------------------------------------------------
# Media decoder totality (r13): the quarantine contract claims corrupt
# payloads NEVER crash a kernel and NEVER mis-decode silently into
# fabricated features — they quarantine in kernels and raise loudly
# from the direct decoders.  These fuzz that claim three ways: random
# bytes, bit-flipped valid containers, and truncated valid containers,
# across every real decoder (WAV/P6/PNG), and check that the magics of
# formats without a decoder (GIF/JPEG/AVI/WebP/Y4M) always quarantine.
# --------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=512), st.data())
def test_decoders_total_on_fuzzed_payloads(blob, data):
    """Random bytes, and random-prefix grafts of real container magics,
    either decode (if they happen to be valid) or raise ValueError-ish
    — never hang, never return fabricated features; _decode_any never
    raises at all, and a magic with no decoder always quarantines."""
    from crypto_data_ingestion_module_spark.operators.multimodal import (
        _decode_any,
        decode_png_bytes,
        decode_ppm_bytes,
        decode_wav_bytes,
    )

    decoded_magics = [b"", b"P6 ", b"\x89PNG\r\n\x1a\n", b"RIFF"]
    quarantined_magics = [
        b"GIF89a", b"\xff\xd8\xff", b"RIFF\x00\x00\x00\x00AVI ",
        b"RIFF\x00\x00\x00\x00WEBPVP8L", b"YUV4MPEG2 ",
    ]
    magic = data.draw(st.sampled_from(decoded_magics + quarantined_magics))
    payload = magic + blob
    ok, w, h, feats = _decode_any(payload)
    if ok:
        assert magic not in quarantined_magics
        assert feats is not None
    else:
        assert w is None and h is None and feats is None
    for dec in (decode_ppm_bytes, decode_png_bytes, decode_wav_bytes):
        try:
            dec(payload)
        except Exception:
            pass  # loud is fine; hanging/segfault would fail the run


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_mutated_valid_containers_quarantine_or_decode(data):
    """Bit-flip or truncate a VALID container: the kernel-facing
    dispatch must still be total (either a clean decode of a still-
    valid stream, or a quarantine — never an exception)."""
    from crypto_data_ingestion_module_spark.operators.multimodal import (
        _decode_any,
    )
    from tests.test_multimodal_png import _encode_png

    base = data.draw(
        st.sampled_from(
            [
                _encode_png(
                    [[(1, 2, 3)] * 8 for _ in range(8)], 2, [0] * 8
                ),
                _encode_png(
                    [[(x * 11 % 256, y * 7 % 256, 7) for x in range(9)]
                     for y in range(9)],
                    2,
                    [y % 5 for y in range(9)],
                ),
                b"P6\n4 4\n255\n" + bytes(48),
            ]
        )
    )
    mode = data.draw(st.sampled_from(["flip", "truncate", "extend"]))
    b = bytearray(base)
    if mode == "flip":
        i = data.draw(st.integers(0, len(b) - 1))
        b[i] ^= 1 << data.draw(st.integers(0, 7))
    elif mode == "truncate":
        b = b[: data.draw(st.integers(0, len(b) - 1))]
    else:
        b += bytes(data.draw(st.integers(1, 64)))
    ok, w, h, feats = _decode_any(bytes(b))
    if ok:
        assert w >= 1 and h >= 1
        assert len(feats) > 0
    else:
        assert w is None and h is None and feats is None
