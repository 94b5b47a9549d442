"""Decontamination + mixture composition (round-3 curation operators).

Oracle parity for the registered queries is covered by
tests/test_queries_oracle.py; these tests pin the operator semantics on
hand-built inputs and the plan shapes that make them scale (broadcast
benchmark side; WindowGroupLimit partial top-N under the mixture rank).
"""

from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.decontam import (
    contamination_flags,
    decontaminate,
)
from crypto_data_ingestion_module_spark.operators.sampling import mixture_sample
from tests.conftest import physical_plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_flags_semantics(spark):
    docs = _docs(
        spark,
        [
            # shares the 4-gram "the quick brown fox" with the benchmark
            (1, "the quick brown fox jumps over the lazy dog"),
            # same words but never 4 consecutive benchmark words
            (2, "quick brown dog fox the lazy jumps"),
            # short doc (<4 words): whole text is the single shingle
            (3, "tiny doc"),
        ],
    )
    bench = _docs(spark, [(100, "watch the quick brown fox run")])
    out = contamination_flags(docs, bench, n=4).collect()
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {1, 2, 3}
    assert by_id[1].contaminated and by_id[1].n_hits == 1
    assert not by_id[2].contaminated and by_id[2].n_hits == 0
    assert not by_id[3].contaminated
    # n_shingles rides along correctly: doc 1 has 9 words -> 6 4-grams
    assert by_id[1].n_shingles == 6
    clean = decontaminate(docs, bench, n=4)
    assert {r.doc_id for r in clean.collect()} == {2, 3}


def test_contamination_null_text_not_dropped(spark):
    """A null-text doc must appear in the audit (uncontaminated unless
    the benchmark also has an empty doc), never silently vanish."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, None)], "doc_id long, text string"
    )
    bench = _docs(spark, [(9, "z y x w v")])
    out = {r.doc_id: r for r in contamination_flags(docs, bench, n=4).collect()}
    assert set(out) == {1, 2}
    assert not out[2].contaminated
    clean = decontaminate(docs, bench, n=4)
    assert {r.doc_id for r in clean.collect()} == {1, 2}


def test_contamination_benchmark_is_broadcast(spark):
    docs = _docs(spark, [(1, "a b c d e")])
    bench = _docs(spark, [(2, "c d e f g")])
    plan = physical_plan(contamination_flags(docs, bench))
    assert "BroadcastHashJoin" in plan, plan


def test_mixture_sample_caps_and_determinism(spark):
    rows = [(i, f"s{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    caps = {"s0": 7, "s1": 30, "s2": 0}
    out = mixture_sample(df, "stratum", caps, id_col="doc_id")
    counts = {
        r.stratum: r.c
        for r in out.groupBy("stratum").agg(F.count("*").alias("c")).collect()
    }
    assert counts == {"s0": 7, "s1": 30}
    # WindowGroupLimit: the literal max-cap conjunct must install the
    # per-partition partial top-N below the shuffle
    assert "WindowGroupLimit" in physical_plan(out)
    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {
        r.doc_id for r in mixture_sample(df, "stratum", caps, id_col="doc_id").collect()
    }
    assert ids1 == ids2
    ids_other_seed = {
        r.doc_id
        for r in mixture_sample(df, "stratum", caps, id_col="doc_id", seed=7).collect()
    }
    assert ids1 != ids_other_seed


def test_quantize_reconstruction_bound_and_recall(spark):
    import numpy as np

    from crypto_data_ingestion_module_spark.operators.quantize import (
        dequantize,
        quantize_embeddings,
    )
    from crypto_data_ingestion_module_spark.session import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = quantize_embeddings(emb)
    joined = emb.join(q, "vec_id").select(
        "vec_id", "embedding", "scale", dequantize("qvec", "scale").alias("deq")
    )
    rows = joined.collect()
    assert len(rows) == emb.count()
    # per-element error <= scale/2 (the quantization bound), codes in range
    for r in rows:
        err = np.abs(np.array(r.embedding, dtype=np.float64) - np.array(r.deq))
        assert err.max() <= r.scale / 2 + 1e-12, (r.vec_id, err.max(), r.scale)

    # dequantized cosine top-10 keeps high recall vs exact float top-10
    def topk(vectors):
        m = np.array(vectors, dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ m.T
        np.fill_diagonal(sims, -2)
        return {i: set(np.argsort(-sims[i])[:10]) for i in range(len(m))}

    ids = [r.vec_id for r in rows]
    exact = topk([r.embedding for r in rows])
    approx = topk([r.deq for r in rows])
    recall = np.mean([len(exact[i] & approx[i]) / 10 for i in range(len(ids))])
    assert recall >= 0.9, recall


def test_ann_lsh_seed_recall(spark):
    """The oracle-checkable seeded-LSH variant must hold the same recall
    bar as the numpy-hyperplane path at the registered config."""
    from crypto_data_ingestion_module_spark.operators.similarity import (
        ann_lsh_seed_topk,
        cosine_topk,
    )
    from crypto_data_ingestion_module_spark.session import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    approx = {
        (r.qid, r.nid)
        for r in ann_lsh_seed_topk(emb, q, n_planes=4, n_tables=16).collect()
    }
    exact = {
        (r.qid, r.nid)
        for r in cosine_topk(emb, q, k=10, exact=True, long_safe=True).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.8


def test_quantized_topk_plan_shape(spark):
    """Kernel path: corpus streams through one Arrow pass with NO join
    anywhere (queries ride in the closure); the only exchange is the
    final per-query window over partial top-k rows.  Lambda twin keeps
    the broadcast-crossJoin + WindowGroupLimit shape the oracle mirrors."""
    from crypto_data_ingestion_module_spark.operators.quantize import (
        quantize_embeddings,
        quantized_cosine_topk,
    )
    from crypto_data_ingestion_module_spark.session import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cq = quantize_embeddings(emb)
    qq = quantize_embeddings(emb.filter(F.col("vec_id") % 100 == 0))
    plan = physical_plan(quantized_cosine_topk(cq, qq))
    assert "MapInPandas" in plan
    assert "Join" not in plan  # candidate generation never joins

    twin = physical_plan(quantized_cosine_topk(cq, qq, vectorized=False))
    assert "WindowGroupLimit" in twin
    assert "BroadcastNestedLoopJoin" in twin  # corpus streams, no shuffle


def test_mixture_sample_small_stratum_underfills(spark):
    df = spark.createDataFrame([(i, "only") for i in range(5)], "doc_id long, stratum string")
    out = mixture_sample(df, "stratum", {"only": 50}, id_col="doc_id")
    assert out.count() == 5
