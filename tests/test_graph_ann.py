"""Graph-based ANN (operators/graph_ann.py): seeded NN-descent + multi-
hop search.  Oracle hash-parity runs in the registry sweeps
(test_queries_oracle / validate.py / the driver); these tests pin what
the oracle can't — RETRIEVAL QUALITY vs brute force and the md5 seed
contract."""

import hashlib

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.graph_ann import (
    _md5_mod,
    ann_graph_topk,
    nn_descent_graph,
)
from crypto_data_ingestion_module_spark.operators.search import retrieval_metrics
from crypto_data_ingestion_module_spark.operators.similarity import cosine_topk
from crypto_data_ingestion_module_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_md5_seed_parity(spark):
    """The Spark seed expression equals Python hashlib — the contract
    that makes the initial graph and entry points engine-independent."""
    got = (
        spark.range(20)
        .select(
            F.col("id").alias("src"),
            _md5_mod(
                F.concat(F.col("id").cast("string"), F.lit(":7")), 500
            ).alias("h"),
        )
        .collect()
    )
    for r in got:
        want = int(hashlib.md5(f"{r.src}:7".encode()).hexdigest()[:15], 16) % 500
        assert r.h == want


def test_recall_vs_brute_force(spark):
    """recall@10 and MRR vs exact cosine truth, measured in-engine via
    retrieval_metrics.  At this corpus (500 vecs) the M=12/2-round
    graph reaches perfect recall; the bound is kept at 0.9 so the pin
    survives benign data regeneration (sf0.1 measures 0.985)."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    approx = ann_graph_topk(emb, q, n_nodes=500)
    truth = cosine_topk(emb, q, k=10)
    m = retrieval_metrics(approx, truth, k=10).agg(
        F.avg("recall_ppm").alias("recall"), F.avg("rr_ppm").alias("mrr")
    ).collect()[0]
    assert m.recall >= 900_000, m.recall
    assert m.mrr >= 900_000, m.mrr


def test_graph_degree_and_partitioning_invariance(spark):
    """Every node has at most M out-edges, at least one, no self-loops;
    and the edge set is identical under a different input partitioning
    (the determinism claim the oracle pairing rests on)."""
    emb = load_table(spark, SF, "embeddings")
    g = nn_descent_graph(emb, n_nodes=500, m=6, iterations=1, r_init=6)
    rows = g.collect()
    assert all(r.src != r.dst for r in rows)
    per = {}
    for r in rows:
        per[r.src] = per.get(r.src, 0) + 1
    assert max(per.values()) <= 6 and min(per.values()) >= 1
    assert len(per) == 500
    g2 = nn_descent_graph(
        emb.repartition(13), n_nodes=500, m=6, iterations=1, r_init=6
    )
    assert sorted((r.src, r.dst) for r in rows) == sorted(
        (r.src, r.dst) for r in g2.collect()
    )


def test_search_self_excluded_and_ranked(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") % 250 == 0)
    out = ann_graph_topk(emb, q, n_nodes=500, k=5).collect()
    by_q = {}
    for r in out:
        assert r.qid != r.nid
        by_q.setdefault(r.qid, []).append((r.rank, r.cosine, r.nid))
    for qid, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        cos = [r[1] for r in rows]
        assert cos == sorted(cos, reverse=True)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))


def test_closure_kernel_bit_parity_with_join_path(spark, monkeypatch):
    """r17: the closure-matrix pair scorer (ids-only shuffle) must be
    bit-identical to the fully-distributed vector-attach join path —
    the gate only changes the physical shape, never a cosine.  The path
    is pinned through the env var, which ``_closure_max`` reads per call
    and which takes precedence over the module default."""
    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    def run():
        return sorted(
            tuple(r)
            for r in ann_graph_topk(emb, queries, n_nodes=n, k=5).collect()
        )

    monkeypatch.setenv("SPARK_GRAFT_GANN_CLOSURE_MAX", str(10**9))  # kernel path
    kernel_rows = run()
    monkeypatch.setenv("SPARK_GRAFT_GANN_CLOSURE_MAX", "-1")  # join path
    join_rows = run()
    assert kernel_rows == join_rows and len(kernel_rows) > 0
