"""Inverted-index text search: posting lists + conjunctive term queries
with BM25-lite ranking (training-data curation / filtering staple).

Spark shape: the index is ``explode(words) → groupBy(doc, term)`` — the
same equi-join-on-term skeleton as the shingle-based dedup join
(operators/text_dedup.py), so it scales identically: the shuffle carries
postings (term, doc, tf), never documents, and a query touches only its
terms' posting lists.

Scoring is "BM25-lite": the classic tf-saturation × rational-idf form

    tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl)) × (N-df+0.5)/(df+0.5)

i.e. BM25 *without the log* around the idf term — the log changes
ranking monotonically per-term but is a transcendental whose bit-level
result is libm-dependent, which would break cross-engine hash parity;
the rational form is pure +,×,/ on identically-derived doubles, so Spark
and DuckDB agree bitwise when the expression text (op order) is shared.
Per-doc totals then go through the micro-unit fixed-point sum policy
(see plans.queries.dsum) to stay order-insensitive.

Reference parity: no search surface in the reference (SURVEY §2.10
capability extension).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions import text as TX

#: Shared Spark/DuckDB scoring expression — ONE text, two engines, so the
#: double op order (and thus the bits) is identical.  Expects columns
#: tf, dl, df (longs), n_docs (long), avgdl (double).  k1=1.2, b=0.75
#: pre-folded (2.2 = k1+1, 0.25 = 1-b) so neither engine constant-folds
#: differently.
BM25_LITE_EXPR = (
    "(CAST(tf AS DOUBLE) * 2.2"
    " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"
    " * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5))"
)


def build_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Posting list (doc_id, term, tf) — one explode + one hash agg with
    map-side combine; term tokenization matches functions.text.words."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(TX.words(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def conjunctive_bm25(
    docs: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Docs containing ALL ``terms``, scored by summed BM25-lite.

    Plan: postings filtered to the query terms (at rest: partition-pruned
    by term), doc-frequency from a tiny |terms|-row broadcast, doc length
    via equi-join on doc, corpus stats via single-row broadcast cross
    join; the conjunctive gate is ``count(matched terms) == |terms|``
    after the per-doc aggregation.  Returns (doc_id, score).
    """
    terms = list(terms)
    postings = build_postings(docs, text_col, id_col)
    pq = postings.filter(F.col("term").isin(terms))
    dfreq = pq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = docs.select(
        F.col(id_col).alias("doc_id"), TX.word_count(text_col).alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    scored = (
        pq.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("t_score", F.expr(BM25_LITE_EXPR))
    )
    # micro-unit fixed-point sum (plans.queries.dsum policy) on the
    # split-long fast path — same integer total as the DECIMAL(38,0)
    # per-row form (functions.exactsum parity note)
    from crypto_data_ingestion_module_spark.functions.exactsum import fsum

    fp_sum = fsum(F.col("t_score"), 1_000_000.0)
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"), fp_sum.alias("score"))
        .filter(F.col("n_matched") == len(terms))
        .select("doc_id", "score")
    )


def hybrid_rerank(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: Sequence[str],
    query_vec_id: int = 0,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval: lexical candidate generation (conjunctive BM25)
    → exact cosine re-rank against one query embedding.

    The retrieval-pipeline staple: the inverted index prunes the corpus
    to documents matching every query term (shuffle = posting lists, not
    documents), then only THOSE candidates pay the dense-vector work —
    the embedding join, the fixed-point dot, and the final rank all run
    over the lexically-bounded candidate set.  The global ``row_number``
    is therefore a small-set sort, not a corpus sort; the single query
    vector is a one-row broadcast.  Fixed-point dots (same policy as
    ``operators.similarity``) keep scores bit-identical to the oracle.

    Returns (doc_id, bm25, cosine, rank) for the top ``k`` candidates by
    (cosine desc, doc_id).
    """
    from crypto_data_ingestion_module_spark.operators.similarity import (
        FP_SCALE,
        _dot_fp,
    )

    cand = conjunctive_bm25(docs, terms, text_col, id_col).withColumnRenamed(
        "score", "bm25"
    )
    emb = embeddings.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("nv")
    )
    qv = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )

    def norm(v):
        return F.sqrt(
            _dot_fp(v, v, FP_SCALE, long_safe=True).cast("double") / F.lit(FP_SCALE)
        )

    pairs = (
        cand.join(emb, "doc_id")
        .crossJoin(F.broadcast(qv))
        .withColumn(
            "cosine",
            (
                _dot_fp(F.col("qv"), F.col("nv"), FP_SCALE, long_safe=True).cast(
                    "double"
                )
                / F.lit(FP_SCALE)
            )
            / (norm(F.col("qv")) * norm(F.col("nv"))),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "bm25", "cosine", "rank")
    )


def positional_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional posting list (doc_id, pos, term): the index layout
    that makes PHRASE queries an adjacency test instead of a post-hoc
    document rescan.  ``pos`` is the 0-based token ordinal within the
    document (tokenization = ``functions.text.words``, shared with the
    tf index so the two indexes agree on positions)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(TX.words(text_col)).alias("pos", "term"),
    )


def phrase_topk_docs(
    docs: DataFrame,
    n_phrases: int = 5,
    topk: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional-index phrase search, self-contained: take the corpus's
    ``n_phrases`` most frequent bigram phrases (ties by phrase text) and
    return each phrase's top ``topk`` documents by occurrence count
    (ties by doc_id).

    Plan shape: bigrams come from ONE window pass over the positional
    postings (``lead(term)`` within doc — one shuffle by doc_id, no
    positional self-join); the phrase shortlist is a bounded
    ``n_phrases``-row broadcast, so the hit count re-joins the bigram
    stream shuffle-free on the broadcast side.

    Returns (w1, w2, doc_id, hits, rank).
    """
    return phrase_topk_from_postings(
        positional_postings(docs, text_col, id_col), n_phrases, topk
    )


def phrase_topk_from_postings(
    postings: DataFrame, n_phrases: int = 5, topk: int = 10
) -> DataFrame:
    """The phrase query over an existing (doc_id, pos, term) posting
    frame (:func:`positional_postings`).

    The phrase shortlist is a global top-``n_phrases``: distinct
    bigrams GROW with the corpus, so the single-partition ranking
    window is fed by a per-partition partial top-``n_phrases`` first
    (ADVICE r10) — lossless because any global top row is top within
    its own hash partition under the same (n desc, w1, w2) order, and
    it bounds the global stage at shuffle.partitions × n_phrases rows
    regardless of vocabulary size."""
    from pyspark.sql import Window

    big = (
        postings.withColumn(
            "w2",
            F.lead("term").over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.col("term").alias("w1"), "w2")
    )
    order = (F.desc("n"), F.asc("w1"), F.asc("w2"))
    top = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "pr", F.row_number().over(Window.partitionBy("_pid").orderBy(*order))
        )
        .filter(F.col("pr") <= n_phrases)
        .withColumn("r", F.row_number().over(Window.orderBy(*order)))
        .filter(F.col("r") <= n_phrases)
        .select("w1", "w2")
    )
    hits = (
        big.join(F.broadcast(top), ["w1", "w2"])
        .groupBy("w1", "w2", "doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    rw = Window.partitionBy("w1", "w2").orderBy(
        F.desc("hits"), F.asc("doc_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= topk)
        .select("w1", "w2", "doc_id", "hits", "rank")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankers — the industry-standard
    hybrid-retrieval combiner (Cormack et al.: score = Σ 1/(c + rank)).

    Expects (id, rank) frames with ranks 1..n; candidates absent from
    one ranker contribute only the other's term (standard RRF).  The
    score is computed in EXACT integer parts-per-million —
    ``1_000_000 DIV (c + rank)`` — so the fusion is oracle-pairable
    bit-for-bit (Spark ``DIV`` == DuckDB ``//`` on nonnegative ints;
    a float 1/(c+r) sum would be order-sensitive).  Returns
    (id, rrf_ppm, rank) for the fused top ``k`` by (score desc, id).

    BOUNDED INPUTS ONLY: this single-query form ranks through a global
    (unpartitioned) window, so both inputs must already be bounded
    top-n lists — the contract of every ranker that feeds it.  For an
    unbounded multi-query frame use :func:`rrf_fuse_per_query`, which
    partitions the window by the query key.
    """
    from pyspark.sql import Window

    a = ranked_a.select(F.col(id_col), F.col("rank").alias("_ra"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("_rb"))
    fused = (
        a.join(b, id_col, "full")
        .withColumn(
            "rrf_ppm",
            F.coalesce(
                F.expr(f"1000000 DIV ({c} + _ra)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr(f"1000000 DIV ({c} + _rb)"), F.lit(0).cast("long")
            ),
        )
    )
    w = Window.orderBy(F.desc("rrf_ppm"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rrf_ppm", "rank")
    )


def rrf_fuse_per_query(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "qid",
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """The production multi-query shape of ``rrf_fuse``: both inputs
    carry (query, id, rank) and the fusion windows per query — one
    shuffle on the query key, fused lists for every query in a single
    pass.  Same exact integer-ppm scoring as the single-query form."""
    from pyspark.sql import Window

    a = ranked_a.select(
        F.col(query_col), F.col(id_col), F.col("rank").alias("_ra")
    )
    b = ranked_b.select(
        F.col(query_col), F.col(id_col), F.col("rank").alias("_rb")
    )
    fused = a.join(b, [query_col, id_col], "full").withColumn(
        "rrf_ppm",
        F.coalesce(F.expr(f"1000000 DIV ({c} + _ra)"), F.lit(0).cast("long"))
        + F.coalesce(
            F.expr(f"1000000 DIV ({c} + _rb)"), F.lit(0).cast("long")
        ),
    )
    w = Window.partitionBy(query_col).orderBy(F.desc("rrf_ppm"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_col, id_col, "rrf_ppm", "rank")
    )


def retrieval_metrics(
    ranked: DataFrame,
    truth: DataFrame,
    k: int = 10,
    query_col: str = "qid",
    id_col: str = "nid",
) -> DataFrame:
    """Distributed retrieval evaluation: per-query recall@k and
    reciprocal rank of an approximate ranker against an exact truth
    ranking — the eval harness every ANN stack needs running AT the
    data, not on a sampled-down driver copy.

    Inputs are two (query, id, rank) frames; ``truth`` must carry
    exactly ``k`` rows per query (its own top-k).  Scores are EXACT
    integer ppm — ``recall_ppm = 1_000_000 * n_hits DIV k`` and
    ``rr_ppm = 1_000_000 DIV first_hit_rank`` (0 when no truth item is
    retrieved) — so the evaluation itself is oracle-pairable
    bit-for-bit, the same integer-ppm discipline as ``rrf_fuse``.  The
    classical MRR/recall estimates are these values / 1e6.

    Plan shape: one equi-join on (query, id) + one per-query aggregate
    + a left join back to the query list so zero-hit queries surface
    as 0 rather than vanishing.  Everything is bounded by the two
    top-k lists — corpus size never enters.
    """
    r = ranked.select(query_col, id_col, "rank")
    t = truth.select(query_col, id_col)
    per = (
        r.join(t, [query_col, id_col])
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("rank").alias("_first"),
        )
    )
    qids = t.select(query_col).distinct()
    return qids.join(per, query_col, "left").select(
        query_col,
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.expr(f"1000000 * coalesce(n_hits, 0L) DIV {int(k)}")
        .cast("long")
        .alias("recall_ppm"),
        F.coalesce(F.expr("1000000 DIV _first"), F.lit(0))
        .cast("long")
        .alias("rr_ppm"),
    )
