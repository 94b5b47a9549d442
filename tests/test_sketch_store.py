"""Persisted sketch partials (operators/sketch_store.py): lake-backed
daily partials whose range merge EQUALS recompute-from-scratch — the
100 TB monitoring discipline (VERDICT r6 item 5)."""

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.sketch import (
    frequent_items_exact,
)
from crypto_data_ingestion_module_spark.operators.sketch_store import (
    cm_estimates_over_range,
    cm_sketch_partials,
    frequent_items_exact_from_partials,
    histogram_partials,
    kmv_distinct_over_range,
    kmv_partials,
    quantiles_from_histogram,
    store_mg_partials,
)
from crypto_data_ingestion_module_spark.session import load_table
from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    read_snapshot,
    snapshot_append,
    snapshot_refresh,
)
from tests.conftest import SF_SMALL

K = 49


def _tokens(spark):
    return (
        load_table(spark, SF_SMALL, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


def _events_with_day(spark):
    return load_table(spark, SF_SMALL, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )


def test_mg_partials_stored_incrementally_merge_equals_single_query(
    spark, tmp_path
):
    """Store each lang-stratum's MG partial as its OWN lake commit (the
    daily-job shape), then serve exact heavy hitters from the stored
    partials: identical rows to the one-shot two-pass operator."""
    toks = _tokens(spark)
    root = str(tmp_path / "mg")
    langs = [r.lang for r in toks.select("lang").distinct().collect()]
    for lang in langs:
        store_mg_partials(
            spark,
            toks.where(F.col("lang") == lang),
            "tok",
            root,
            stratum="lang",
            k=K,
            applied_id=f"mg-{lang}",
        )
    assert current_version(spark, root) == len(langs)

    partials = read_snapshot(spark, root)
    # bounded by construction: <= partitions x strata x k rows
    assert partials.count() <= toks.rdd.getNumPartitions() * len(langs) * K

    got = frequent_items_exact_from_partials(
        toks, partials, "tok", k=K
    ).collect()
    want = frequent_items_exact(toks, "tok", k=K).collect()
    assert [tuple(r) for r in got] == [
        (r["item"], r["cnt"]) for r in want
    ]
    assert got, "threshold produced an empty heavy-hitter set"


def test_mg_partials_replay_is_a_noop(spark, tmp_path):
    toks = _tokens(spark)
    root = str(tmp_path / "mg")
    v1 = store_mg_partials(
        spark, toks, "tok", root, stratum="lang", k=K, applied_id="job-1"
    )
    n1 = read_snapshot(spark, root).count()
    v2 = store_mg_partials(
        spark, toks, "tok", root, stratum="lang", k=K, applied_id="job-1"
    )
    assert v2 == v1  # replayed daily job: no version bump
    assert read_snapshot(spark, root).count() == n1


def test_mg_partials_count_null_stratum_rows(spark, tmp_path):
    """A heavy hitter whose occurrences concentrate in NULL-stratum rows
    must still survive into the stored partials: pandas groupby's default
    dropna=True silently excluded those rows (ADVICE r7), breaking the
    'equals frequent_items_exact(fact)' contract."""
    rows = (
        # 'hot' appears 40x, ONLY under a null stratum
        [(None, "hot")] * 40
        # plus strata-tagged filler making n large enough that only
        # 'hot' and 'warm' clear the n/(k+1) threshold
        + [("d1", "warm")] * 30
        + [("d1", f"rare{i}") for i in range(15)]
        + [("d2", f"rare{i}") for i in range(15, 30)]
    )
    fact = spark.createDataFrame(rows, "day string, tok string").coalesce(4)
    k = 9  # threshold = n/10 = 10 occurrences
    root = str(tmp_path / "mgnull")
    store_mg_partials(
        spark, fact, "tok", root, stratum="day", k=k, applied_id="j1"
    )
    partials = read_snapshot(spark, root)
    got = [
        tuple(r)
        for r in frequent_items_exact_from_partials(
            fact, partials, "tok", k=k
        ).collect()
    ]
    want = [
        (r["item"], r["cnt"])
        for r in frequent_items_exact(fact, "tok", k=k).collect()
    ]
    assert got == want
    assert ("hot", 40) in got


def test_histogram_out_of_range_mass_is_visible(spark, tmp_path):
    """Values outside [lo, hi) land in dedicated sentinel buckets (-1 /
    bins) instead of silently inflating the edge buckets (ADVICE r7)."""
    lo, hi, bins = 0.0, 10.0, 10
    rows = (
        [("d1", -5.0)] * 3          # underflow
        + [("d1", 0.0), ("d1", 9.9)]  # true edge values, in-grid
        + [("d1", 10.0), ("d1", 99.0)]  # overflow (hi is exclusive)
        + [("d1", 5.0)] * 4
    )
    df = spark.createDataFrame(rows, "day string, value double")
    hist = {
        r.bucket: r.cnt
        for r in histogram_partials(df, "value", lo, hi, bins).collect()
    }
    assert hist[-1] == 3          # underflow visible, not folded into 0
    assert hist[bins] == 2        # overflow visible, not folded into 9
    assert hist[0] == 1 and hist[9] == 1  # edge buckets: in-grid rows only
    assert hist[5] == 4
    assert sum(hist.values()) == len(rows)


def test_histogram_quantiles_merge_equals_scratch_and_bounds_error(
    spark, tmp_path
):
    """Per-day bucket counts stored by the overwrite refresh merge into
    the same quantiles as one histogram over all rows, and each estimate
    sits within one bucket width of the exact quantile."""
    ev = _events_with_day(spark)
    lo, hi, bins = 0.0, 1000.0, 200
    root = str(tmp_path / "hist")
    snapshot_refresh(
        spark,
        root,
        "hist-v1",
        lambda: histogram_partials(ev, "value", lo, hi, bins, stratum="day"),
        ("day",),
    )
    stored = read_snapshot(spark, root)
    assert stored.select("day").distinct().count() > 1
    qs = [0.25, 0.5, 0.9, 0.99]
    merged = {
        r.q: r.estimate
        for r in quantiles_from_histogram(stored, qs, lo, hi, bins).collect()
    }
    one_stratum = ev.withColumn("all", F.lit("all"))
    scratch = {
        r.q: r.estimate
        for r in quantiles_from_histogram(
            histogram_partials(one_stratum, "value", lo, hi, bins, "all"),
            qs,
            lo,
            hi,
            bins,
        ).collect()
    }
    assert merged == scratch  # counts sum exactly: lossless merge
    width = (hi - lo) / bins
    truth = ev.approxQuantile("value", qs, 0.0)  # exact at relErr=0
    for q, t in zip(qs, truth):
        assert abs(merged[q] - t) <= width + 1e-9


# ---------------------------------------------------------------------------
# KMV partial lake
# ---------------------------------------------------------------------------


def test_kmv_partials_merge_equals_one_shot(spark, tmp_path):
    # Per-stratum bottom-k partials: the range estimate re-ranks them and
    # must equal the one-shot estimate over the fact rows, both merged
    # across strata and per stratum.
    from crypto_data_ingestion_module_spark.operators.sketch import (
        kmv_distinct_estimate,
    )

    root = str(tmp_path / "kmv")
    full = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("day"),
        (F.col("id") % 997).cast("string").alias("u"),
    )
    snapshot_refresh(
        spark, root, "kmv-v1", lambda: kmv_partials(full, "u", "day", k=64),
        ("day",),
    )
    got = kmv_distinct_over_range(spark, root, k=64).collect()[0]
    want = kmv_distinct_estimate(full, "u", 64).collect()[0]
    assert got["distinct_est"] == want["distinct_est"]
    assert got["n_kept"] == want["n_kept"]

    # per-stratum merge equals per-stratum one-shot
    got_s = {
        r["day"]: r["distinct_est"]
        for r in kmv_distinct_over_range(
            spark, root, k=64, per_stratum=True
        ).collect()
    }
    want_s = {
        r["day"]: r["distinct_est"]
        for r in kmv_distinct_estimate(
            full, "u", 64, ("day",)
        ).collect()
    }
    assert got_s == want_s


# ---------------------------------------------------------------------------
# Count-Min partial lake
# ---------------------------------------------------------------------------


def test_cm_partials_range_estimates_equal_from_scratch(spark, tmp_path):
    from crypto_data_ingestion_module_spark.operators.sketch import (
        cm_counters,
        cm_point_estimates,
    )

    root = str(tmp_path / "cm")
    full = spark.range(4000).select(
        (F.col("id") % 4).cast("string").alias("day"),
        (F.col("id") % 311).cast("string").alias("u"),
    )
    snapshot_refresh(
        spark, root, "cm-v1",
        lambda: cm_sketch_partials(full, "u", "day", 4, 128), ("day",),
    )
    items = full.select("u").distinct()
    got = {
        r["item"]: r["cm_est"]
        for r in cm_estimates_over_range(
            spark, root, items, "u", width=128
        ).collect()
    }
    want = {
        r["item"]: r["cm_est"]
        for r in cm_point_estimates(
            cm_counters(full, "u", width=128), items, "u", width=128
        ).collect()
    }
    assert got == want

    # stratum-restricted range equals from-scratch over that slice
    got_d0 = {
        r["item"]: r["cm_est"]
        for r in cm_estimates_over_range(
            spark, root, items, "u", width=128, strata=["0"]
        ).collect()
    }
    d0 = full.filter(F.col("day") == "0")
    want_d0 = {
        r["item"]: r["cm_est"]
        for r in cm_point_estimates(
            cm_counters(d0, "u", width=128),
            d0.select("u").distinct(),
            "u",
            width=128,
        ).collect()
    }
    assert got_d0 == want_d0


def test_cm_double_append_inflates_and_overwrite_refresh_heals(
    spark, tmp_path
):
    """Count-Min counters are SUMS, so one batch appended twice under two
    different applied_ids inflates every estimate built from the lake —
    unlike KMV's min or MG's exact second pass, nothing absorbs it.  The
    family's fingerprint-keyed OVERWRITE refresh replaces the lake's
    entire content and heals the inflation."""
    from crypto_data_ingestion_module_spark.operators.sketch import (
        cm_counters,
        cm_point_estimates,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("event_type").alias("u"),
    )
    root = str(tmp_path / "cm_double")
    for applied_id in ("cm-oldqid-0", "cm-newqid-0"):
        snapshot_append(
            spark,
            root,
            cm_sketch_partials(ev, "u", "day", 4, 64),
            partition_cols=("day",),
            applied_id=applied_id,
        )
    items = ev.select("u").distinct()
    want = {
        r["item"]: r["cm_est"]
        for r in cm_point_estimates(
            cm_counters(ev, "u", width=64), items, "u", width=64
        ).collect()
    }
    doubled = {
        r["item"]: r["cm_est"]
        for r in cm_estimates_over_range(
            spark, root, items, "u", width=64
        ).collect()
    }
    # the unguarded double-append IS wrong: every count doubles
    assert doubled == {k: 2 * v for k, v in want.items()}
    assert doubled != want

    snapshot_refresh(
        spark,
        root,
        "cm-freshfp",
        lambda: cm_sketch_partials(ev, "u", "day", 4, 64),
        partition_cols=("day",),
    )
    healed = {
        r["item"]: r["cm_est"]
        for r in cm_estimates_over_range(
            spark, root, items, "u", width=64
        ).collect()
    }
    assert healed == want


def test_kmv_overwrite_refresh_replaces_stale_partials(spark, tmp_path):
    # The KMV lake has no exact second pass to absorb staleness, so a
    # corpus regeneration must REPLACE the stored partials (overwrite
    # keyed by data fingerprint), never merge with them.
    from crypto_data_ingestion_module_spark.operators.sketch import (
        kmv_distinct_estimate,
    )
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        kmv_distinct_over_range,
        kmv_partials,
    )
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_overwrite,
    )

    root = str(tmp_path / "kmv_ow")
    old = spark.range(500).select(
        F.lit("d0").alias("day"), F.col("id").cast("string").alias("u")
    )
    new = spark.range(2000, 2300).select(
        F.lit("d0").alias("day"), F.col("id").cast("string").alias("u")
    )
    for fp, df in (("fpA", old), ("fpB", new)):
        snapshot_overwrite(
            spark, root, kmv_partials(df, "u", "day", k=32),
            partition_cols=("day",), applied_id=f"kmv-{fp}", ts_col="_none_",
        )
    got = kmv_distinct_over_range(spark, root, k=32).collect()[0]
    want = kmv_distinct_estimate(new, "u", 32).collect()[0]
    assert got["distinct_est"] == want["distinct_est"]  # old corpus gone
    # replayed refresh (same fingerprint) commits nothing
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        current_version,
    )

    v = current_version(spark, root)
    snapshot_overwrite(
        spark, root, kmv_partials(new, "u", "day", k=32),
        partition_cols=("day",), applied_id="kmv-fpB", ts_col="_none_",
    )
    assert current_version(spark, root) == v


def test_refresh_gate_rebuilds_on_fingerprint_revert(spark, tmp_path):
    # ADVICE r9 (medium): the overwrite refresh used a bare-fingerprint
    # applied_id, so a source REVERT to a previously-seen fingerprint
    # (e.g. backup restore) was a ledger-membership no-op and the lake
    # served partials built from DIFFERENT data forever.  The gated
    # helper salts the applied_id with the version about to be written
    # and gates the skip on the NEWEST ledger entry's fingerprint.
    from crypto_data_ingestion_module_spark.operators.sketch import (
        kmv_distinct_estimate,
    )
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        kmv_distinct_over_range,
        kmv_partials,
    )
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        current_version,
    )

    root = str(tmp_path / "kmv_revert")
    corpus_a = spark.range(500).select(
        F.lit("d0").alias("day"), F.col("id").cast("string").alias("u")
    )
    corpus_b = spark.range(2000, 2300).select(
        F.lit("d0").alias("day"), F.col("id").cast("string").alias("u")
    )

    def build(df):
        return lambda: kmv_partials(df, "u", "day", k=32)

    # fpA -> fpB -> revert to fpA (same fingerprint as the first build)
    snapshot_refresh(spark, root, "kmv-fpA", build(corpus_a), ("day",))
    snapshot_refresh(spark, root, "kmv-fpB", build(corpus_b), ("day",))
    snapshot_refresh(spark, root, "kmv-fpA", build(corpus_a), ("day",))
    got = kmv_distinct_over_range(spark, root, k=32).collect()[0]
    want = kmv_distinct_estimate(corpus_a, "u", 32).collect()[0]
    # the revert REPLACED fpB's partials (bare-fp ids would have no-op'd)
    assert got["distinct_est"] == want["distinct_est"]
    # a replayed refresh of the live fingerprint commits nothing (the
    # newest-entry gate short-circuits before any write)
    v = current_version(spark, root)
    snapshot_refresh(spark, root, "kmv-fpA", build(corpus_a), ("day",))
    assert current_version(spark, root) == v


def test_refresh_gate_concurrent_builders_collapse(spark, tmp_path):
    # Two builders that read the same head compute the SAME salted id:
    # one commit wins, the second run's overwrite no-ops on ledger
    # membership — the lake advances exactly one version.
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        kmv_partials,
    )
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        current_version,
        read_manifest,
        snapshot_overwrite,
    )

    root = str(tmp_path / "kmv_race")
    df = spark.range(100).select(
        F.lit("d0").alias("day"), F.col("id").cast("string").alias("u")
    )
    snapshot_refresh(
        spark, root, "kmv-fp1", lambda: kmv_partials(df, "u", "day", k=16), ("day",)
    )
    v = current_version(spark, root)
    # simulate the loser of the race: same head version read, same
    # computed salted id, commits after the winner
    snapshot_overwrite(
        spark,
        root,
        kmv_partials(df, "u", "day", k=16),
        partition_cols=("day",),
        applied_id=f"kmv-fp1#v{v}",
        ts_col="_none_",
    )
    assert current_version(spark, root) == v
    ids = read_manifest(spark, root, v)["applied_ids"]
    assert ids[-1] == f"kmv-fp1#v{v}"


def test_refresh_gate_random_fingerprint_sequences(spark, tmp_path):
    # Invariant under ANY fingerprint sequence (including immediate
    # replays and reverts to any earlier fingerprint): after each
    # refresh, the lake serves EXACTLY the data of the last fingerprint.
    import random

    from crypto_data_ingestion_module_spark.operators.sketch import (
        kmv_distinct_estimate,
    )
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        kmv_distinct_over_range,
        kmv_partials,
    )

    rnd = random.Random(1234)
    corpora = {
        f"fp{j}": spark.range(j * 1000, j * 1000 + 200 + 50 * j).select(
            F.lit("d0").alias("day"), F.col("id").cast("string").alias("u")
        )
        for j in range(3)
    }
    expected = {
        fp: kmv_distinct_estimate(df, "u", 32).collect()[0]["distinct_est"]
        for fp, df in corpora.items()
    }
    root = str(tmp_path / "kmv_seq")
    seq = [rnd.choice(sorted(corpora)) for _ in range(8)]
    for fp in seq:
        df = corpora[fp]
        snapshot_refresh(
            spark, root, f"kmv-{fp}",
            lambda df=df: kmv_partials(df, "u", "day", k=32), ("day",),
        )
        got = kmv_distinct_over_range(spark, root, k=32).collect()[0]
        assert got["distinct_est"] == expected[fp], (seq, fp)


def test_refresh_gate_refuses_a_reserved_separator(tmp_path):
    # '#' separates fingerprint from version in the committed id, so a
    # fingerprint carrying one is refused before any Spark call.
    with pytest.raises(ValueError, match="reserved"):
        snapshot_refresh(None, str(tmp_path), "a#b", lambda: None, ())
