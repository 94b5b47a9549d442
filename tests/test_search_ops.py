"""Positional phrase search + RRF fusion operators (operators/search.py,
round 10): literal-DataFrame semantics pins — the registered queries'
oracle rows check corpus-scale parity; these pin the operator contracts
on adversarial small inputs."""

import os

from pyspark.sql import functions as F

DATA_DIR = os.path.join(os.path.dirname(__file__), "data")

from crypto_data_ingestion_module_spark.operators.search import (
    phrase_topk_docs,
    positional_postings,
    rrf_fuse,
)


def test_positional_postings_positions_are_token_ordinals(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta,gamma  alpha")], ["doc_id", "text"]
    )
    rows = sorted(
        (r["pos"], r["term"])
        for r in positional_postings(docs).collect()
    )
    # punctuation splits tokens; positions are ordinals in the token
    # stream, not byte offsets
    assert rows == [(0, "alpha"), (1, "beta"), (2, "gamma"), (3, "alpha")]


def test_phrase_topk_docs_counts_adjacent_occurrences_only(spark):
    docs = spark.createDataFrame(
        [
            (1, "x y x y x y"),     # 'x y' 3 times (and 'y x' twice)
            (2, "x z y x y"),       # 'x y' once — x..y non-adjacent ignored
            (3, "y x"),             # reverse order is a DIFFERENT phrase
        ],
        ["doc_id", "text"],
    )
    out = phrase_topk_docs(docs, n_phrases=1, topk=10).collect()
    # the single most frequent bigram is ('x','y'): 3 + 1 = 4 total
    assert all((r["w1"], r["w2"]) == ("x", "y") for r in out)
    hits = {r["doc_id"]: r["hits"] for r in out}
    assert hits == {1: 3, 2: 1}
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert ranks == {1: 1, 2: 2}  # by (hits desc, doc_id)


def test_rrf_fuse_integer_scores_and_one_sided_candidates(spark):
    ra = spark.createDataFrame([(10, 1), (20, 2)], ["doc_id", "rank"])
    rb = spark.createDataFrame([(20, 1), (30, 2)], ["doc_id", "rank"])
    out = {r["doc_id"]: r for r in rrf_fuse(ra, rb, k=10, c=60).collect()}
    # doc 20: 1000000//62 + 1000000//61 = 16129 + 16393
    assert out[20]["rrf_ppm"] == 1_000_000 // 62 + 1_000_000 // 61
    # one-sided candidates contribute only their present ranker
    assert out[10]["rrf_ppm"] == 1_000_000 // 61
    assert out[30]["rrf_ppm"] == 1_000_000 // 62
    # fused order: 20 first, then 10 (ties impossible here), then 30
    assert [out[i]["rank"] for i in (20, 10, 30)] == [1, 2, 3]


def test_rrf_fuse_tie_breaks_by_id(spark):
    ra = spark.createDataFrame([(5, 1), (3, 2)], ["doc_id", "rank"])
    rb = spark.createDataFrame([(3, 1), (5, 2)], ["doc_id", "rank"])
    out = rrf_fuse(ra, rb, k=10).collect()
    # symmetric ranks -> equal scores -> doc_id ascending wins
    assert [(r["doc_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])] == [
        (3, 1),
        (5, 2),
    ]


def test_mmr_skips_the_near_duplicate(spark):
    """The point of MMR: with two near-identical top candidates, the
    second pick must be the DIVERSE vector, not the twin."""
    from crypto_data_ingestion_module_spark.operators.similarity import (
        mmr_select,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # query
        (1, [0.99, 0.1, 0.0, 0.0]),  # best match
        (2, [0.98, 0.12, 0.0, 0.0]), # near-duplicate of 1
        (3, [0.6, 0.0, 0.8, 0.0]),   # diverse, decent sim
        (4, [0.0, 1.0, 0.0, 0.0]),   # diverse, weak sim
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["rank"]: r["nid"] for r in mmr_select(emb, 0, m=4, k=3).collect()}
    assert out[1] == 1          # pure relevance first
    assert out[2] == 3          # diversity beats the near-twin
    assert out[3] in (2, 4)     # twin only admissible afterwards

    # contract pins (ADVICE r10): k > m is rejected up front; a corpus
    # with fewer than k candidates yields one row per candidate, not an
    # error and not k rows
    import pytest

    with pytest.raises(AssertionError):
        mmr_select(emb, 0, m=2, k=3)
    tiny = spark.createDataFrame(
        rows[:3], "vec_id long, embedding array<double>"
    )
    short = mmr_select(tiny, 0, m=8, k=5).collect()
    assert sorted(r["nid"] for r in short) == [1, 2]
    assert sorted(r["rank"] for r in short) == [1, 2]


def test_rrf_fuse_per_query_windows_independently(spark):
    from crypto_data_ingestion_module_spark.operators.search import (
        rrf_fuse,
        rrf_fuse_per_query,
    )

    ra = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (2, 30, 1)], ["qid", "doc_id", "rank"]
    )
    rb = spark.createDataFrame(
        [(1, 20, 1), (1, 10, 2), (2, 40, 1)], ["qid", "doc_id", "rank"]
    )
    out = rrf_fuse_per_query(ra, rb, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], {})[r["doc_id"]] = r
    # per-query fusion matches the single-query operator on each slice
    for q in (1, 2):
        single = {
            r["doc_id"]: (r["rrf_ppm"], r["rank"])
            for r in rrf_fuse(
                ra.filter(F.col("qid") == q).drop("qid"),
                rb.filter(F.col("qid") == q).drop("qid"),
                k=5,
            ).collect()
        }
        multi = {
            d: (r["rrf_ppm"], r["rank"]) for d, r in by_q[q].items()
        }
        assert multi == single
    # one-sided candidate in q=2 (doc 40 only in b, doc 30 only in a)
    assert set(by_q[2]) == {30, 40}


def test_mixed_container_batch(spark):
    # one micro-batch holding a P6 stream, a single P6, and an opaque
    # payload — each takes its own path, all expansions land in one output
    from crypto_data_ingestion_module_spark.operators.multimodal import (
        sample_frames,
    )

    p6s = open(os.path.join(DATA_DIR, "golden_stream_3f.p6s"), "rb").read()
    p6 = b"P6\n2 1\n255\n" + bytes(range(6))
    fake = b"\x00mp4ish" + bytes(range(48))
    assets = spark.createDataFrame(
        [
            (1, "video", bytearray(p6s)),
            (2, "video", bytearray(p6)),
            (3, "video", bytearray(fake)),
        ],
        "asset_id long, modality string, payload binary",
    )
    rows = sample_frames(assets).collect()
    n = {}
    for r in rows:
        n[r["asset_id"]] = n.get(r["asset_id"], 0) + 1
    assert n[1] == 3 and n[2] == 1 and n[3] == 1
    for r in rows:
        if r["asset_id"] == 3:  # quarantined, not faked (r12)
            assert r["demux_ok"] is False and r["frame"] is None
        else:
            assert r["demux_ok"] is True and r["frame"] is not None
    single = [r for r in rows if r["asset_id"] == 2]
    assert bytes(single[0]["frame"]) == p6 and single[0]["ts_ms"] == 0


def test_retrieval_metrics_semantics(spark):
    """Hand-checkable eval math: hits counted against the truth set,
    reciprocal rank from the FIRST relevant position, zero-hit queries
    surface with 0 ppm instead of vanishing."""
    from crypto_data_ingestion_module_spark.operators.search import (
        retrieval_metrics,
    )

    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2), (3, 30, 1), (3, 31, 2)],
        "qid long, nid long, rank int",
    )
    ranked = spark.createDataFrame(
        [
            (1, 10, 1), (1, 99, 2),          # q1: hit at rank 1
            (2, 98, 1), (2, 21, 2),          # q2: first hit at rank 2
            (3, 97, 1), (3, 96, 2),          # q3: no hits
        ],
        "qid long, nid long, rank int",
    )
    out = {
        r["qid"]: (r["n_hits"], r["recall_ppm"], r["rr_ppm"])
        for r in retrieval_metrics(ranked, truth, k=2).collect()
    }
    assert out[1] == (1, 500000, 1000000)
    assert out[2] == (1, 500000, 500000)
    assert out[3] == (0, 0, 0)  # zero-hit query is a row, not a gap


def test_pair_set_metrics_semantics(spark):
    """Dedup-sketch eval math: intersection counted on the unordered
    pair key, ppm floors exact, empty candidate set scores 0 without a
    division error."""
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        pair_set_metrics,
    )

    truth = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a long, id_b long"
    )
    cand = spark.createDataFrame(
        [(1, 2), (4, 5), (7, 8), (7, 8)], "id_a long, id_b long"  # dup row
    )
    row = pair_set_metrics(cand, truth).collect()[0]
    assert (row["n_truth"], row["n_candidates"], row["n_common"]) == (3, 3, 2)
    assert row["recall_ppm"] == 1_000_000 * 2 // 3
    assert row["precision_ppm"] == 1_000_000 * 2 // 3

    empty = cand.filter("id_a < 0")
    row = pair_set_metrics(empty, truth).collect()[0]
    assert (row["n_candidates"], row["recall_ppm"], row["precision_ppm"]) == (
        0,
        0,
        0,
    )
