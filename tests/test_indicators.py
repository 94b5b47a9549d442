"""Semantic invariants for the technical-indicator suite and the k-means
trainer — properties the DuckDB hash parity (test_queries_oracle) cannot
express: bounds, monotonicity, and algebraic identities.
"""

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.clustering import kmeans_lloyd
from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS
from tests.conftest import SF_SMALL, physical_plan


def _run(spark, name):
    return QUERY_SPECS[name].spark(spark, SF_SMALL)


def test_rsi_bounds(spark):
    df = _run(spark, "rsi_14").filter(F.col("rsi14").isNotNull())
    bad = df.filter((F.col("rsi14") < 0) | (F.col("rsi14") > 100)).count()
    assert bad == 0
    # warm-up rows (fewer than 14 prior diffs) must be NULL
    n_null = _run(spark, "rsi_14").filter(F.col("rsi14").isNull()).count()
    assert n_null > 0


def test_drawdown_bounds_and_peak_monotone(spark):
    df = _run(spark, "max_drawdown")
    rows = df.collect()
    assert rows, "every event_type must report"
    for r in rows:
        assert 0.0 <= r.max_drawdown <= 1.0
        assert r.n_new_highs >= 1  # the first row is always a new peak


def test_volatility_nonnegative_and_warmup_null(spark):
    df = _run(spark, "rolling_volatility_24")
    assert df.filter(F.col("volatility") < 0).count() == 0
    # the first row of every type has no return -> n_returns == 0
    assert df.filter(F.col("n_returns") == 0).count() > 0


def test_bollinger_band_flags_exclusive(spark):
    df = _run(spark, "bollinger_breakouts_20")
    both = df.filter(F.col("above_band") & F.col("below_band")).count()
    assert both == 0


def test_vwap_between_bucket_min_max(spark):
    """VWAP is a convex combination of prices in its bucket."""
    from crypto_data_ingestion_module_spark.session import load_table

    ev = load_table(spark, SF_SMALL, "events")
    bounds = ev.groupBy(
        F.window(F.col("ts"), "1 hour")["start"].alias("bucket_start"),
        "event_type",
    ).agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    vw = _run(spark, "vwap_1h").filter(F.col("vwap").isNotNull())
    joined = vw.join(bounds, ["bucket_start", "event_type"])
    assert joined.count() == vw.count()
    out = joined.filter(
        (F.col("vwap") < F.col("lo") - 1e-9)
        | (F.col("vwap") > F.col("hi") + 1e-9)
    ).count()
    assert out == 0


def test_cross_spread_identity(spark):
    df = _run(spark, "cross_stream_spread_1h")
    bad = df.filter(
        F.abs(F.col("spread") - (F.col("mean_view") - F.col("mean_click")))
        > 1e-12
    ).count()
    assert bad == 0


def test_kmeans_lloyd_descends(spark):
    """Lloyd's algorithm never increases total within-cluster distance:
    cost(iters=2) <= cost(iters=1) <= cost(iters=0)."""
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    costs = []
    for it in (0, 1, 2):
        a = kmeans_lloyd(emb, k=8, iters=it)
        costs.append(a.agg(F.sum("dist2")).collect()[0][0])
    assert costs[1] <= costs[0] + 1e-9
    assert costs[2] <= costs[1] + 1e-9


def test_kmeans_covers_corpus_once(spark):
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = kmeans_lloyd(emb, k=8, iters=2)
    assert a.count() == emb.count()
    assert a.select("vec_id").distinct().count() == emb.count()
    n_clusters = a.select("cluster").distinct().count()
    assert 1 <= n_clusters <= 8


def test_kmeans_checkpoint_parity(spark):
    """Lineage truncation must not change a single assignment."""
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = kmeans_lloyd(emb, k=4, iters=2, checkpoint=False)
    b = kmeans_lloyd(emb, k=4, iters=2, checkpoint=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _n_exchanges(plan: str) -> int:
    import re

    # formatted plans print each node twice (tree line + detail header);
    # count only the "(n) Exchange" detail headers
    return len(re.findall(r"\n\(\d+\) Exchange", plan))


def test_indicator_plans_single_exchange(spark):
    """The scale claim of the indicator family: one shuffle on
    event_type shared by the lag and trailing windows — no second
    Exchange sneaks in — and the events scan is column-pruned."""
    for name in ("rolling_volatility_24", "bollinger_breakouts_20", "rsi_14"):
        plan = physical_plan(QUERY_SPECS[name].spark(spark, SF_SMALL))
        assert _n_exchanges(plan) == 1, (name, plan)
        assert "props" not in plan.split("ReadSchema")[-1], name


def test_vwap_plan_is_partial_final_agg(spark):
    """VWAP is one hash aggregate: exactly one Exchange (partial agg
    runs map-side before it)."""
    plan = physical_plan(QUERY_SPECS["vwap_1h"].spark(spark, SF_SMALL))
    assert _n_exchanges(plan) == 1, plan


def test_kmeans_vectorized_bit_parity(spark):
    """The closure-matrix assignment kernel is bit-identical to the
    relational decimal-fold twin (exact integer matmul argument)."""
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = kmeans_lloyd(emb, k=8, iters=2, vectorized=True)
    b = kmeans_lloyd(emb, k=8, iters=2, vectorized=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pq_codes_and_recall(spark):
    """PQ mechanics: every (doc, subspace) gets exactly one code in
    [0, k); ADC top-10 recalls a usable fraction of the exact euclidean
    top-10 (measured floor pinned — sampled 16-codeword books on random
    data are a coarse quantizer, not a rank oracle)."""
    from crypto_data_ingestion_module_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        seeded_codebook,
    )
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    m, k = 8, 16
    cb = seeded_codebook(emb, m, k)
    assert cb.count() == m * k
    codes = pq_encode(emb, cb, m)
    n = emb.count()
    assert codes.count() == n * m
    bad = codes.filter((F.col("code") < 0) | (F.col("code") >= k)).count()
    assert bad == 0

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = pq_adc_topk(emb, queries, m=m, k_codes=k, topk=10)

    # exact euclidean top-10 on the same micro-unit vectors
    from crypto_data_ingestion_module_spark.operators.clustering import (
        _micro,
    )
    from pyspark.sql import Window

    pts = emb.select(F.col("vec_id").alias("nid"), _micro("embedding").alias("xu"))
    qs = pts.filter(F.col("nid") % 100 == 0).select(
        F.col("nid").alias("qid"), F.col("xu").alias("qu")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("xu"), F.col("qu"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("nid"))
    exact = (
        pts.crossJoin(qs)
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    want = {(r.qid, r.nid) for r in exact.collect()}

    def recall(df):
        got = {(r.qid, r.nid) for r in df.collect()}
        return len(got & want) / len(want)

    # uniform random embeddings are PQ's adversarial case (no cluster
    # structure for codewords to exploit) — measured floors, not hopes:
    # m=8,k=16 -> 0.16; m=8,k=64 -> 0.28; m=16,k=64 -> 0.46
    r_coarse = recall(approx)
    assert r_coarse >= 0.10, r_coarse
    # the property that matters: recall RISES with codebook capacity
    r_rich = recall(pq_adc_topk(emb, queries, m=16, k_codes=64, topk=10))
    assert r_rich > r_coarse, (r_coarse, r_rich)
    assert r_rich >= 0.35, r_rich


def test_pq_exactness_limit(spark):
    """Degenerate-limit pin: with one codeword per corpus vector and one
    subspace, every vector quantizes to itself, so ADC distances ARE the
    exact squared distances and the top-10 matches brute force
    bit-for-bit (the PQ analogue of the IVF nprobe=n_lists test)."""
    from pyspark.sql import Window

    from crypto_data_ingestion_module_spark.operators.clustering import (
        _micro,
    )
    from crypto_data_ingestion_module_spark.operators.pq import pq_adc_topk
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").limit(120)
    # force distinct keys: limit() picks arbitrary rows, so re-read ids
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    approx = pq_adc_topk(emb, queries, m=1, k_codes=n, topk=5, dim=64)

    pts = emb.select(
        F.col("vec_id").alias("nid"), _micro("embedding").alias("xu")
    )
    qs = pts.filter(F.col("nid") % 40 == 0).select(
        F.col("nid").alias("qid"), F.col("xu").alias("qu")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("xu"), F.col("qu"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    ) / F.lit(1e12)
    w = Window.partitionBy("qid").orderBy(F.asc("adc_d2"), F.asc("nid"))
    exact = (
        pts.crossJoin(qs)
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("adc_d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", "rank", "adc_d2")
    )
    a = sorted(map(tuple, approx.collect()))
    b = sorted(map(tuple, exact.collect()))
    assert a == b


def test_pq_encode_kernel_parity(spark):
    """The Arrow encode kernel is bit-identical to the relational
    broadcast-argmin twin."""
    from crypto_data_ingestion_module_spark.operators.pq import (
        pq_encode,
        seeded_codebook,
    )
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    cb = seeded_codebook(emb, 8, 16)
    a = pq_encode(emb, cb, 8, vectorized=True)
    b = pq_encode(emb, cb, 8, vectorized=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ann_tier_recall_accounting(spark):
    """The ANN hierarchy's accuracy ledger on one corpus: exact > PQ-ADC
    >= IVF-PQ (list pruning can only lose candidates), with every tier's
    measured recall pinned as a floor."""
    from pyspark.sql import Window

    from crypto_data_ingestion_module_spark.operators.clustering import (
        _micro,
    )
    from crypto_data_ingestion_module_spark.operators.pq import (
        ann_ivfpq_topk,
        pq_adc_topk,
    )
    from crypto_data_ingestion_module_spark.session import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    pts = emb.select(
        F.col("vec_id").alias("nid"), _micro("embedding").alias("xu")
    )
    qs = pts.filter(F.col("nid") % 100 == 0).select(
        F.col("nid").alias("qid"), F.col("xu").alias("qu")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("xu"), F.col("qu"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("nid"))
    exact = (
        pts.crossJoin(qs)
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    want = {(r.qid, r.nid) for r in exact.collect()}

    def recall(df):
        got = {(r.qid, r.nid) for r in df.collect()}
        return len(got & want) / len(want)

    r_pq = recall(pq_adc_topk(emb, queries, m=8, k_codes=16, topk=10))
    r_ivfpq = recall(
        ann_ivfpq_topk(
            emb, queries, n_lists=16, nprobe=4, m=8, k_codes=16, topk=10
        )
    )
    # NOT monotone: measured r_ivfpq=0.22 > r_pq=0.16 here — list
    # pruning also removes candidates ADC falsely ranked high, which can
    # ADMIT true neighbors into the top-10.  Only floors are pinned.
    assert r_pq >= 0.10, r_pq
    assert r_ivfpq >= 0.10, r_ivfpq

    # full probing recovers the PQ-only ranking exactly
    r_full = recall(
        ann_ivfpq_topk(
            emb, queries, n_lists=16, nprobe=16, m=8, k_codes=16, topk=10
        )
    )
    assert abs(r_full - r_pq) < 1e-9, (r_full, r_pq)


def test_bpe_training_trajectory(spark):
    """BPE invariants: the winning pair count never increases across
    rounds (a merge-created pair is bounded by the merged pair's count),
    symbols are nonempty, and checkpointing doesn't change the table."""
    from crypto_data_ingestion_module_spark.operators.bpe import bpe_merges
    from crypto_data_ingestion_module_spark.session import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    t = bpe_merges(docs, n_merges=4)
    rows = sorted(map(tuple, t.collect()))
    assert len(rows) == 4
    counts = [r[3] for r in rows]  # sorted by rank
    assert all(c1 >= c2 for c1, c2 in zip(counts, counts[1:])), counts
    assert all(r[1] and r[2] for r in rows)

    t2 = bpe_merges(docs, n_merges=4, checkpoint=True)
    assert sorted(map(tuple, t2.collect())) == rows


def test_bpe_encode_lake_path_equals_inline_twin(spark, tmp_path):
    """The stored-segment serving path (what the registered query runs)
    is row-identical to the self-contained trainer twin."""
    from crypto_data_ingestion_module_spark.operators.bpe import (
        bpe_encode_docs,
        bpe_encode_with_segments,
        bpe_segment_table,
    )
    from crypto_data_ingestion_module_spark.session import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "segments")
    bpe_segment_table(docs, n_merges=5).write.parquet(path)
    lake = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_encode_with_segments(
            docs, spark.read.parquet(path)
        ).collect()
    }
    inline = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_encode_docs(docs, n_merges=5).collect()
    }
    assert lake == inline and len(lake) > 0
