"""Property-based tests (hypothesis) for the pure time/interval math, a
randomized column-level check of bucket alignment, and the Python
DataSource binding."""

import datetime as dt

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions.timeutil import (
    bucket_start,
    parse_interval_ms,
    parse_native_interval_ms,
)

_UNIT_MS = {"s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}


@given(v=st.integers(min_value=1, max_value=999), u=st.sampled_from("smhd"))
def test_parse_interval_roundtrip(v, u):
    assert parse_interval_ms(f"{v}{u}") == v * _UNIT_MS[u]


@given(v=st.integers(min_value=1, max_value=999), u=st.sampled_from("smhd"))
def test_native_forms_agree(v, u):
    canonical = parse_interval_ms(f"{v}{u}")
    # seconds form (coinbase/bitstamp dialect)
    assert parse_native_interval_ms(str(canonical // 1000)) == canonical
    # long-suffix form (kucoin dialect)
    suffix = {"m": "min", "h": "hour", "d": "day"}.get(u)
    if suffix:
        assert parse_native_interval_ms(f"{v}{suffix}") == canonical
    # capitalized form (bitfinex 1D)
    assert parse_native_interval_ms(f"{v}{u.upper()}") == canonical


@given(s=st.text(max_size=8))
def test_parse_interval_never_raises(s):
    out = parse_interval_ms(s)
    assert out > 0  # unknown → 15m default, never an exception


@settings(deadline=None, max_examples=5)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_mock_adapter_deterministic_across_calls(seed):
    from crypto_data_ingestion_module_spark.sources.fetch import MockExchangeAdapter

    a, b = MockExchangeAdapter(), MockExchangeAdapter()
    lo = (seed % 1_000_000) * 900_000
    page1 = a("kucoin", "BTC-USDT", "15min", lo, lo + 3_600_000, 300)
    page2 = b("kucoin", "BTC-USDT", "15min", lo, lo + 3_600_000, 300)
    assert page1 == page2
    assert all(int(k[0]) % 900_000 == 0 for k in page1)  # on the grid


def test_bucket_start_alignment_random(spark):
    """Column-level property over 10k random timestamps: bucket ≤ ts <
    bucket+ivl and bucket on the epoch grid, for every interval."""
    rng = np.random.RandomState(7)
    ms = rng.randint(1_500_000_000_000, 1_800_000_000_000, size=10_000)
    df = spark.createDataFrame(
        [(int(m),) for m in ms], "ms long"
    ).withColumn("ts", F.timestamp_millis("ms"))
    for ivl in (900_000, 3_600_000, 86_400_000):
        checked = df.select(
            "ms", F.unix_millis(bucket_start(F.col("ts"), ivl)).alias("b")
        ).filter(
            ~((F.col("b") % ivl == 0) & (F.col("b") <= F.col("ms")) & (F.col("ms") < F.col("b") + ivl))
        )
        assert checked.count() == 0, f"alignment violated for {ivl}"


def test_python_datasource(spark):
    from crypto_data_ingestion_module_spark.sources.datasource import register

    register(spark)
    df = (
        spark.read.format("crypto_candles")
        .option("symbols", "BTC-USDT")
        .option("intervals", "1d")
        .option("start_ms", "1704067200000")
        .option("end_ms", "1704326400000")  # 3 days
        .load()
    )
    rows = df.collect()
    # 3 daily candles × 5 venues
    assert len(rows) == 15
    assert {r.exchange for r in rows} == {
        "coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus"
    }
    assert all(r.interval == "1d" for r in rows)
    assert min(r.timestamp for r in rows) == dt.datetime(2024, 1, 1)
    # composes with DataFrame ops downstream (it's a real relation)
    agg = df.groupBy("symbol").agg(F.sum("volume").alias("v")).collect()
    assert len(agg) == 1


def test_streaming_datasource(spark, tmp_path):
    import time

    from crypto_data_ingestion_module_spark.sources.datasource import register

    register(spark)
    stream = (
        spark.readStream.format("crypto_candles")
        .option("symbols", "BTC-USDT")
        .option("intervals", "1d")
        .option("start_ms", "1704067200000")
        .option("end_ms", "1704240000000")  # 2 days
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sds_test")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    deadline = time.time() + 90
    while time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM sds_test").first().c >= 10:
            break
        time.sleep(1)
    q.stop()
    rows = spark.sql("SELECT * FROM sds_test").collect()
    assert len(rows) == 10  # 2 days x 5 venues
    assert {r.exchange for r in rows} == {
        "coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus"
    }


def test_contamination_matches_brute_force_random(spark):
    """Random-corpus property: the distributed decontamination audit must
    equal a pure-Python 4-gram set intersection, doc for doc."""
    from crypto_data_ingestion_module_spark.operators.decontam import (
        contamination_flags,
    )

    rng = np.random.RandomState(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.randint(1, 25))))
        for i in range(80)
    ]
    train = [d for d in docs if d[0] % 5 != 0]
    bench = [d for d in docs if d[0] % 5 == 0]

    def grams(text):
        w = text.split()
        if len(w) < 4:
            return {" ".join(w)}
        return {" ".join(w[i : i + 4]) for i in range(len(w) - 3)}

    bench_grams = set().union(*(grams(t) for _, t in bench))
    want = {
        i: (len(grams(t)), len(grams(t) & bench_grams)) for i, t in train
    }

    out = contamination_flags(
        spark.createDataFrame(train, "doc_id long, text string"),
        spark.createDataFrame(bench, "doc_id long, text string"),
        n=4,
    ).collect()
    got = {r.doc_id: (r.n_shingles, r.n_hits) for r in out}
    assert got == want
    for r in out:
        assert r.contaminated == (r.n_hits >= 1)


def test_quantize_random_vectors(spark):
    """Random-vector property: codes in [-127,127], reconstruction within
    scale/2, zero vectors quantize to zero codes with zero scale."""
    from crypto_data_ingestion_module_spark.operators.quantize import (
        dequantize,
        quantize_embeddings,
    )

    rng = np.random.RandomState(3)
    vecs = [
        (i, [float(x) for x in rng.uniform(-10, 10, size=16) * (i % 7 != 0)])
        for i in range(200)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = (
        quantize_embeddings(df)
        .join(df, "vec_id")
        .select("vec_id", "embedding", "scale", "qvec",
                dequantize("qvec", "scale").alias("deq"))
        .collect()
    )
    assert len(out) == 200
    for r in out:
        if r.vec_id % 7 == 0:
            assert r.scale == 0.0 and all(q == 0 for q in r.qvec)
            continue
        assert all(-127 <= q <= 127 for q in r.qvec)
        err = np.abs(np.array(r.embedding, dtype=np.float64) - np.array(r.deq))
        assert err.max() <= r.scale / 2 + 1e-12
        # at least one element saturates to ±127 (absmax maps to a pole)
        assert max(abs(q) for q in r.qvec) == 127


def test_salted_agg_equals_plain(spark):
    from pyspark.sql import functions as F2

    from crypto_data_ingestion_module_spark.operators.skew import salted_agg
    from crypto_data_ingestion_module_spark.session import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        r.event_type: (r.total, r.rows)
        for r in ev.groupBy("event_type")
        .agg(F2.sum("value").alias("total"), F2.count(F2.lit(1)).alias("rows"))
        .collect()
    }
    salted = {
        r.event_type: (r.total, r.rows)
        for r in salted_agg(
            ev,
            ["event_type"],
            {"s": F2.sum("value"), "n": F2.count(F2.lit(1))},
            {"total": F2.sum("s"), "rows": F2.sum("n")},
            n_salts=8,
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][1] == salted[k][1]
        assert abs(plain[k][0] - salted[k][0]) < 1e-6


def test_salted_join_equals_plain(spark):
    """salted_join only re-buckets the shuffle: inner and left results
    are bit-identical to the plain join, and the salted plan actually
    partitions by (key, _salt) so a hot key spans n_salts reducers."""
    from pyspark.sql import functions as F2

    from crypto_data_ingestion_module_spark.operators.skew import salted_join
    from crypto_data_ingestion_module_spark.session import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "value"
    )
    dims = (
        ev.groupBy("user_id")
        .agg(F2.count(F2.lit(1)).alias("n_events"))
        # drop some users so the left join has genuine misses
        .filter(F2.col("user_id") % 3 != 0)
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, ev.join(dims, "user_id", how).collect())
        )
        salted = sorted(
            map(
                tuple,
                salted_join(ev, dims, ["user_id"], n_salts=8, how=how)
                .select(*ev.join(dims, "user_id", how).columns)
                .collect(),
            )
        )
        assert salted == plain and plain

    import pytest

    with pytest.raises(ValueError, match="inner/left"):
        salted_join(ev, dims, ["user_id"], how="full")

    plan = salted_join(ev, dims, ["user_id"], n_salts=8)._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # the lane key reached the physical join

    # degenerate-salt contract (ADVICE r11): key-only facts give a
    # constant per-key salt — the mitigation silently does nothing, so
    # the operator must WARN (and still produce the correct answer)
    import warnings

    key_only = ev.select("user_id")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        degen = salted_join(key_only, dims, ["user_id"], n_salts=8)
        assert any("no-op" in str(w.message) for w in caught), [
            str(w.message) for w in caught
        ]
    assert sorted(map(tuple, degen.collect())) == sorted(
        map(tuple, key_only.join(dims, "user_id").collect())
    )


def test_q6_predicates_reach_parquet_scan(spark):
    """forecast_revenue_change is the pushdown benchmark: every scan
    predicate (date window, discount band, quantity cap) must appear in
    the parquet scan's PushedFilters, and only the needed columns in its
    ReadSchema."""
    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS
    from tests.conftest import SF_SMALL

    df = QUERY_SPECS["forecast_revenue_change"].spark(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed[0], (col, pushed[0])
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_returnflag" not in read[0], read  # column pruning


def test_sql_surface_over_registered_views(spark):
    """spark.sql is a first-class surface: a join+aggregate written as
    ANSI SQL over register_views equals the DataFrame twin bit-for-bit,
    including the nano-timestamp events table."""
    from crypto_data_ingestion_module_spark.session import (
        load_table,
        register_views,
    )
    from tests.conftest import SF_SMALL

    register_views(spark, SF_SMALL)
    got = {
        (r.n_name, r.n_custs): round(r.total_bal, 6)
        for r in spark.sql(
            """
            SELECT n_name, count(*) AS n_custs,
                   CAST(SUM(CAST(round(c_acctbal * 100) AS DECIMAL(38,0)))
                        AS DOUBLE) / 100.0 AS total_bal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            """
        ).collect()
    }
    cust = load_table(spark, SF_SMALL, "customer")
    nat = load_table(spark, SF_SMALL, "nation")
    want = {
        (r.n_name, r.n_custs): round(r.total_bal, 6)
        for r in cust.join(
            nat, F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (
                F.sum(
                    F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)")
                ).cast("double")
                / 100.0
            ).alias("total_bal"),
        )
        .collect()
    }
    assert got == want and got
    # the nano-ts table reads as a real timestamp through the view
    row = spark.sql("SELECT min(ts) AS lo FROM events").first()
    import datetime as _dt

    assert isinstance(row.lo, _dt.datetime)


# --------------------------------------------------------------------------
# Round-10 surfaces: container demux round-trips and the refresh gate
# (pure-Python properties — no Spark session needed)
# --------------------------------------------------------------------------


def _mk_p6(w, h, maxval, body):
    return f"P6\n{w} {h}\n{maxval}\n".encode() + bytes(body)


@given(
    st.lists(
        st.tuples(
            st.integers(1, 6),  # w
            st.integers(1, 5),  # h
            st.integers(1, 255),  # maxval
        ),
        min_size=1,
        max_size=6,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=50, deadline=None)
def test_p6_stream_demux_roundtrip(shapes, rnd):
    # concat(frames) -> demux == frames, for ANY frame shapes/maxvals
    from crypto_data_ingestion_module_spark.operators.multimodal import (
        demux_ppm_stream,
    )

    frames = [
        _mk_p6(w, h, mv, [rnd.randrange(256) for _ in range(3 * w * h)])
        for (w, h, mv) in shapes
    ]
    assert demux_ppm_stream(b"".join(frames)) == frames
