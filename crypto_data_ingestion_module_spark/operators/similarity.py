"""Embedding similarity search (north-star X3): brute-force cosine top-k
and an LSH-bucketed approximate variant for the 100 TB path.

Vectors are plain ``array<float>`` columns.  All arithmetic is built-in
array expressions (zip_with / aggregate) — JVM-side, no Python.

Scale notes:
- Brute force is a broadcast of the (small) query set against the corpus:
  no shuffle of the corpus, one pass, top-k via per-query window.  Right
  answer for ≤ thousands of queries.
- The LSH variant buckets by random-hyperplane sign bits; the join is an
  equi-join on bucket prefix, so the candidate set per query is a bucket,
  not the corpus.  Recall tunes with fewer prefix bits / multi-probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot_fp(
    a: Column, b: Column, scale: float, long_safe: bool = False
) -> Column:
    """Exact fixed-point dot product, PRE-ROUNDED-ELEMENT form:
    ``Σ_d round(a_d·√scale) · round(b_d·√scale)`` — each element is
    quantized to √scale units (1e6 for the default 1e12 product scale)
    and the dot is a sum of exact integer products in ``scale`` units,
    bit-identical across engines and aggregation orders (same policy as
    plans.queries.dsum).

    Why elements, not products, are rounded: rounding the VECTOR once
    makes the dot a plain integer matmul, so the Arrow-batched kernels
    (``_fpdot_arrow_udf``, the ``cosine_topk``/IVF corpus kernels) can
    run it as one BLAS call per batch with zero parity risk — identical
    integers, any order.  Declared element precision is 1e-6 (matching
    the engine-wide micro-unit policy); SQL oracles use the identical
    ``round(x*1e6) * round(y*1e6)`` expression.

    ``long_safe=True`` accumulates in LONG instead of DECIMAL(38,0) —
    same exact integers, ~1.5× faster (higher-order-function lambdas
    evaluate interpreted, and BigDecimal adds dominate).  Callers opting
    in assert dim · (√scale·max|x|)² ≪ 2^63 — true for unit-scale
    embeddings at scale 1e12 with dim ≤ ~10^5.  Default stays DECIMAL,
    overflow-safe for any input."""
    elem = float(scale) ** 0.5
    if long_safe:
        prods = F.zip_with(
            a,
            b,
            lambda x, y: (
                F.round(x.cast("double") * F.lit(elem))
                * F.round(y.cast("double") * F.lit(elem))
            ).cast("long"),
        )
        return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v).cast(
            "decimal(38,0)"
        )
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.round(x.cast("double") * F.lit(elem))
        * F.round(y.cast("double") * F.lit(elem)),
    )
    return F.aggregate(
        prods,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v.cast("decimal(38,0)"),
    )


def _dot_double(a: Column, b: Column) -> Column:
    """Fast path: plain double accumulation (order-dependent last-ulp)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _fpdot_arrow_udf(scale: float):
    """Arrow-batched fixed-point dot product over (a, b) array-column
    pairs: ``Σ_d round(a_d·√scale)·round(b_d·√scale)`` as an exact
    integer-valued double — BIT-IDENTICAL to
    ``_dot_fp(a, b, scale).cast("double")`` while running one vectorized
    numpy pass per Arrow batch instead of interpreted
    higher-order-function lambdas.

    Why parity is exact, not approximate:
    - rounding is explicit half-away-from-zero (``floor(|x|+0.5)·sign``),
      matching Spark's and DuckDB's ``round`` — np.round's half-to-even
      WOULD diverge on exact halves;
    - the rounded elements are integers ≤ √scale·|a|; their pairwise
      products and all partial sums stay below 2^53 for unit-scale
      embeddings at scale 1e12 with dim ≤ ~10³, so every intermediate is
      an exact integer in float64 and numpy/BLAS reduction order cannot
      change a single bit.

    Transfer note: this ships BOTH arrays of every pair row through
    Arrow, so it only pays off where the pair list is the data (e.g. a
    candidate rerank would ship those rows anyway).  For corpus-wide
    scans against a small query set, use the closure-matrix kernels in
    :func:`cosine_topk` / :func:`ann_ivf_seed_topk` instead — they ship
    the corpus ONCE and matmul against a driver-held query matrix.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    import math

    elem = math.sqrt(scale)

    def _fn(a: "pd.Series", b: "pd.Series") -> "pd.Series":
        if len(a) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        A = np.vstack(a.to_numpy()).astype(np.float64) * elem
        B = np.vstack(b.to_numpy()).astype(np.float64) * elem
        # round half away from 0 == Spark/DuckDB round (np.round would
        # diverge on exact halves: half-to-even)
        Ra = np.floor(np.abs(A) + 0.5) * np.sign(A)
        Rb = np.floor(np.abs(B) + 0.5) * np.sign(B)
        return pd.Series((Ra * Rb).sum(axis=1))

    # explicit SCALAR eval type: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's type inference can't read
    return pandas_udf(_fn, "double", PandasUDFType.SCALAR)


FP_SCALE = 1e12  # dot precision 1e-12; |v|≲1 keeps round() inside 2^53


def with_norm(
    df: DataFrame,
    vec_col: str = "embedding",
    exact: bool = True,
    long_safe: bool = False,
    vectorized: bool = False,
) -> DataFrame:
    v = F.col(vec_col)
    if exact and vectorized:
        # _fpdot_arrow_udf is bit-identical to the lambda path (see its
        # docstring); the lambda default wins for rows that stay JVM-side
        # downstream (no Arrow round-trip just for a norm)
        norm = F.sqrt(_fpdot_arrow_udf(FP_SCALE)(v, v) / F.lit(FP_SCALE))
    elif exact:
        norm = F.sqrt(
            _dot_fp(v, v, FP_SCALE, long_safe).cast("double") / F.lit(FP_SCALE)
        )
    else:
        norm = F.sqrt(_dot_double(v, v))
    return df.withColumn("_norm", norm)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
    long_safe: bool = False,
    vectorized: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (self excluded), rank-deterministic via (sim desc, id).

    ``exact=True`` computes fixed-point dots (oracle-parity); False keeps
    plain double accumulation for the bench path.  ``long_safe=True``
    speeds the exact path for bounded inputs (see ``_dot_fp``).
    ``vectorized=True`` (default) runs the exact path as a closure-matrix
    kernel: the (small, bounded-by-contract) query set is collected
    driver-side once and rides in the kernel closure, the corpus streams
    through ONE Arrow pass, each batch computes all its dots as a single
    integer matmul and emits only its per-query partial top-k — the
    distributed top-k shape (map-side partial limit, tiny final window).
    Bit-identical to the relational formulation (``_dot_fp`` pre-rounded
    elements: every intermediate is an exact integer in float64; rounding
    is half-away-from-zero; the final cosine is the same IEEE op
    sequence) — parity pinned in tests.
    """
    if exact and vectorized:
        return _cosine_topk_kernel(corpus, queries, k, vec_col, id_col)
    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        "qv",
        exact,
        long_safe,
        vectorized=False,
    ).withColumnRenamed("_norm", "qnorm")
    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        exact,
        long_safe,
        vectorized=False,
    ).withColumnRenamed("_norm", "nnorm")

    pairs = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("nid"))
    if exact:
        dot = _dot_fp(F.col("qv"), F.col("nv"), FP_SCALE, long_safe).cast(
            "double"
        ) / F.lit(FP_SCALE)
    else:
        dot = _dot_double(F.col("qv"), F.col("nv"))
    sim = dot / (F.col("qnorm") * F.col("nnorm"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        pairs.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def _cosine_topk_kernel(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Closure-matrix brute-force cosine top-k (see :func:`cosine_topk`).

    The query collect is bounded BY CONTRACT (brute force is only the
    right operator for ≤ thousands of queries — the same boundedness
    argument as the IVF trainer sample); the corpus is never collected,
    broadcast, or replicated — one Arrow scan, ``mapInPandas`` emits at
    most k rows per (query, batch), and the final exact window ranks
    ``k · n_batches`` candidates per query.  Per-batch partial top-k is
    lossless: any global top-k row is top-k within its own batch under
    the same (cosine desc, id asc) order.
    """
    import numpy as np
    import pandas as pd

    qpd = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .toPandas()
    )
    if len(qpd) == 0:
        empty = "qid long, nid long, rank int, cosine double"
        return corpus.sparkSession.createDataFrame([], empty)
    qids = qpd["qid"].to_numpy().astype(np.int64)
    Qs = np.vstack(qpd["qv"].to_numpy()).astype(np.float64) * 1e6
    Q = np.floor(np.abs(Qs) + 0.5) * np.sign(Qs)  # round half away from 0
    qnorm = np.sqrt((Q * Q).sum(axis=1) / FP_SCALE)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["nid"].to_numpy().astype(np.int64)
            Ms = np.vstack(pdf["nv"].to_numpy()).astype(np.float64) * 1e6
            R = np.floor(np.abs(Ms) + 0.5) * np.sign(Ms)
            nnorm = np.sqrt((R * R).sum(axis=1) / FP_SCALE)
            # exact integer matmul → the same IEEE divide sequence as the
            # relational form: (dot/1e12) / (qnorm * nnorm)
            C = (R @ Q.T / FP_SCALE) / (qnorm[None, :] * nnorm[:, None])
            out_q, out_n, out_c = [], [], []
            kk = min(k, len(ids))
            for j in range(len(qids)):
                keep = ids != qids[j]  # self excluded
                cj, ij = C[keep, j], ids[keep]
                if len(ij) == 0:
                    continue
                # partial top-k by (cosine desc, nid asc)
                top = np.lexsort((ij, -cj))[:kk]
                out_q.append(np.full(len(top), qids[j], dtype=np.int64))
                out_n.append(ij[top])
                out_c.append(cj[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "nid": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    cand = corpus.select(
        F.col(id_col).cast("long").alias("nid"), F.col(vec_col).alias("nv")
    ).mapInPandas(kernel, "qid long, nid long, cosine double")
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    h = rng.standard_normal((n_planes, dim))
    h /= np.linalg.norm(h, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in h]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit j = sign(vec · plane_j)."""
    bits = [
        F.when(
            _dot_double(vec, F.array(*[F.lit(x) for x in plane])) >= 0,
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        for j, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _hyperplane_bucket_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Arrow-batched all-tables bucket assignment: one (batch, dim) @
    (dim, tables*planes) matmul → sign bits → packed per-table bucket ids.

    The legitimate Pandas-UDF case — tables×planes per-element aggregate
    expressions evaluate interpreted (measured ~10× slower), while one
    numpy matmul per Arrow batch stays vectorized end-to-end."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    all_planes = np.concatenate(
        [np.array(random_hyperplanes(dim, n_planes, seed + t)).T for t in range(n_tables)],
        axis=1,
    )  # (dim, n_tables*n_planes)
    weights = 2 ** np.arange(n_planes, dtype=np.int64)

    def _bucket_fn(vecs):
        M = np.vstack(vecs.to_numpy())
        signs = (M.astype(np.float64) @ all_planes) >= 0
        signs = signs.reshape(len(M), n_tables, n_planes)
        ids = (signs * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(ids))

    # explicit SCALAR eval type: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's type inference can't read
    return pandas_udf(_bucket_fn, "array<long>", PandasUDFType.SCALAR)


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    stage1: str = "auto",
    block_rows: int = 256,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 16,
    seed: int = 42,
    max_replication_rows: int = 2_000_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ threshold), fully
    distributed — no driver collect, no full-corpus broadcast anywhere in
    the plan (asserted in tests via ``physical_plan``).

    Two stages:

    1. *Candidate generation* (double-precision prefilter, recall-oriented).
       ``stage1="auto"`` (default) picks "block" while the block path's
       N²/block_rows replication stays under ``max_replication_rows`` and
       falls to "lsh" beyond it — see the inline selection rule.

       - ``stage1="block"`` (**recall = 1 by construction**):
         block-partitioned exhaustive matmul.  Each vector is hashed into
         one of B = ⌈N/block_rows⌉ blocks and replicated to the B
         block-pairs it participates in; one ``applyInPandas`` kernel per
         (block_i, block_j) group runs a single BLAS matmul over the two
         blocks and emits surviving pairs *with their vectors*, so stage 2
         needs no join back to the corpus.  This is the canonical
         distributed shape of the *exact* formulation (chunked GEMM):
         shuffle volume is N·B rows and per-task memory is
         2·block_rows·dim·8 bytes — both tunable via ``block_rows``
         (≈64–256k on a real cluster).  The O(N²/B²)-per-task compute is
         inherent to exact near-dup, paid at BLAS speed.
       - ``stage1="lsh"``: multi-table sign-bit LSH bucket self-join
         (same machinery as :func:`ann_lsh_topk`) — shuffle is buckets,
         compute is per-bucket pairs.  Recall < 1 *by design*: for a pair
         at cosine θ the per-table collision probability is
         (1-θ/π)^n_planes, so at true near-dup thresholds (≥0.8,
         θ≤37°: p≈0.88⁸≈0.36/table, 16 tables → recall ≈ 0.999) the
         bucket join is both selective and near-exhaustive.  At the loose
         test threshold 0.42 (θ≈65°, p≈0.64) selectivity and recall
         trade off badly on near-random vectors — which is exactly why
         the *registered oracle query uses the block path* (hash-exact)
         and the LSH path's recall is pinned separately in pytest.

    2. *Exact re-rank*: fixed-point cosine (LONG-accumulated, see
       ``_dot_fp``) recomputed on candidates only, then the ≥ threshold
       filter — emitted values are bit-identical to the SQL oracle
       regardless of which stage-1 produced the candidates.

    Pair identity is ``id_a < id_b`` (by ``id_col``), each pair exactly
    once.  Reference parity: the semantic-dedup decision set of SURVEY
    §2 X2/X3 (the reference has no embedding ops; this is capability
    extension).
    """
    import math

    import numpy as np
    import pandas as pd

    rows = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    thr = threshold - 1e-9  # double prefilter keeps borderline candidates

    n = None
    if stage1 == "auto":
        # Selection rule (closes the r2 scale flag): the block path's
        # shuffle is N·B rows (B = ⌈N/block_rows⌉ replicas per row, i.e.
        # N²/block_rows total) — exact but quadratic.  Pick it only while
        # that replication volume stays under ``max_replication_rows``
        # (default 2e9 rows ≈ a few TB of 64-dim vectors, comfortably
        # inside one shuffle round on a 1000-executor cluster); beyond
        # that, fall to the LSH bucket join whose shuffle is
        # n_tables·N rows regardless of corpus size.  Recall of the LSH
        # stage at the registered threshold is pinned in pytest.
        n = rows.count()
        n_blocks = max(1, math.ceil(n / block_rows))
        stage1 = "block" if n * n_blocks <= max_replication_rows else "lsh"

    if stage1 == "lsh":
        bucket_ids = _hyperplane_bucket_udf(dim, n_planes, n_tables, seed)
        b = rows.withColumn("_buckets", bucket_ids(F.col("vec"))).select(
            "vid", "vec", F.posexplode("_buckets").alias("tbl", "bucket")
        )
        cand = (
            b.alias("l")
            .join(b.alias("r"), ["tbl", "bucket"])
            .filter(F.col("l.vid") < F.col("r.vid"))
            .select(
                F.col("l.vid").alias("id_a"),
                F.col("r.vid").alias("id_b"),
                F.col("l.vec").alias("va"),
                F.col("r.vec").alias("vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    elif stage1 == "block":
        if n is None:
            n = rows.count()  # one distributed aggregate (a scalar, not a collect)
        n_blocks = max(1, math.ceil(n / block_rows))
        blocked = rows.withColumn(
            "bid", F.pmod(F.xxhash64(F.col("vid")), F.lit(n_blocks)).cast("int")
        )
        # replicate each row to every block-pair (i ≤ j) it belongs to
        pair_of = F.array(
            *[
                F.struct(
                    F.least(F.col("bid"), F.lit(j)).alias("pi"),
                    F.greatest(F.col("bid"), F.lit(j)).alias("pj"),
                )
                for j in range(n_blocks)
            ]
        )
        repl = blocked.select(
            "vid", "vec", "bid", F.explode(pair_of).alias("pp")
        ).select("vid", "vec", "bid", "pp.pi", "pp.pj")

        def _kernel(key, pdf):
            pi, pj = key
            ids = pdf["vid"].to_numpy()
            vecs = pdf["vec"].to_numpy()
            M = np.vstack(vecs).astype(np.float64)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            Mn = M / np.where(nrm == 0, 1.0, nrm)
            if pi == pj:
                S = Mn @ Mn.T
                iu, ju = np.triu_indices(len(ids), k=1)
                keep = S[iu, ju] >= thr
                li, rj = iu[keep], ju[keep]
            else:
                lmask = (pdf["bid"] == pi).to_numpy()
                li_all = np.where(lmask)[0]
                rj_all = np.where(~lmask)[0]
                if len(li_all) == 0 or len(rj_all) == 0:
                    li = rj = np.array([], dtype=int)
                else:
                    S = Mn[li_all] @ Mn[rj_all].T
                    ii, jj = np.where(S >= thr)
                    li, rj = li_all[ii], rj_all[jj]
            ia, ib = ids[li], ids[rj]
            swap = ia > ib  # emit id_a < id_b regardless of block side
            ia2 = np.where(swap, ib, ia)
            ib2 = np.where(swap, ia, ib)
            return pd.DataFrame(
                {
                    "id_a": ia2.astype(np.int64),
                    "id_b": ib2.astype(np.int64),
                    # .tolist() + object dtype: Arrow rejects ndarray-typed
                    # columns for list<float> (empty groups otherwise infer
                    # float64); float32→float widening is exact, so the
                    # round-trip is lossless
                    "va": pd.Series(
                        [vecs[r if s else l].tolist() for l, r, s in zip(li, rj, swap)],
                        dtype="object",
                    ),
                    "vb": pd.Series(
                        [vecs[l if s else r].tolist() for l, r, s in zip(li, rj, swap)],
                        dtype="object",
                    ),
                }
            )

        cand = repl.groupBy("pi", "pj").applyInPandas(
            _kernel, schema="id_a long, id_b long, va array<float>, vb array<float>"
        )
    else:  # pragma: no cover - guarded API
        raise ValueError(f"unknown stage1 {stage1!r} (expected 'block' or 'lsh')")

    # JVM-side fixed-point lambdas, NOT the Arrow pair kernel: candidate
    # rows already carry both vectors, and shipping them to Python costs
    # more than the interpreted dots save (measured 3.3 s vs 2.6 s at
    # sf0.1 — the Arrow win only exists for corpus-scan-vs-closure-matrix
    # shapes, see _fpdot_arrow_udf's transfer note).
    na = F.sqrt(
        _dot_fp(F.col("va"), F.col("va"), FP_SCALE, long_safe=True).cast("double")
        / F.lit(FP_SCALE)
    )
    nb = F.sqrt(
        _dot_fp(F.col("vb"), F.col("vb"), FP_SCALE, long_safe=True).cast("double")
        / F.lit(FP_SCALE)
    )
    cos = (
        _dot_fp(F.col("va"), F.col("vb"), FP_SCALE, long_safe=True).cast("double")
        / F.lit(FP_SCALE)
    ) / (na * nb)
    return (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits each;
    a corpus vector is a candidate if it shares a bucket with the query
    in ANY table (standard OR-amplification).  Candidates then get exact
    cosine ranking.  Recall ≈ 1-(1-p^k)^L with p = 1-θ/π — tune
    (n_planes, n_tables) to the corpus' neighbor angle; for weakly
    clustered corpora (neighbors ~70°) use few planes + many tables.

    At 100 TB the bucket assignment is a write-side partitioning (one
    narrow (id, table, bucket) index table); the per-query candidate set
    is Σ_table |bucket|, not the corpus.  Recall < 1 by design — tests
    measure it against :func:`cosine_topk`.
    """
    c_base = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        exact=False,
    ).withColumnRenamed("_norm", "nnorm")
    q_base = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        "qv",
        exact=False,
    ).withColumnRenamed("_norm", "qnorm")

    bucket_ids = _hyperplane_bucket_udf(dim, n_planes, n_tables, seed)

    def bucketed(df: DataFrame, vec: str) -> DataFrame:
        b = df.withColumn("_buckets", bucket_ids(F.col(vec)))
        return b.select(
            *df.columns,
            F.posexplode(F.col("_buckets")).alias("tbl", "bucket"),
        )

    cand = (
        F.broadcast(bucketed(q_base, "qv"))
        .join(bucketed(c_base, "nv"), ["tbl", "bucket"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "qv", "qnorm", "nid", "nv", "nnorm")
        .dropDuplicates(["qid", "nid"])
    )
    sim = _dot_double(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def rademacher_planes_md5(
    n_tables: int, n_planes: int, dim: int
) -> dict[tuple[int, int], list[int]]:
    """±1 hyperplanes whose signs come from md5 — the SQL-derivable LSH
    family: sign(t,p,d) = parity of the first hex nibble of
    md5("t:p:d"), identical in Python's hashlib and DuckDB's md5().
    Rademacher sign projections are a valid cosine-LSH family (the
    collision analysis only needs symmetric ±1 entries)."""
    import hashlib

    def sign(t: int, p: int, d: int) -> int:
        h = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
        return 1 if int(h[0], 16) % 2 == 0 else -1

    return {
        (t, p): [sign(t, p, d) for d in range(dim)]
        for t in range(n_tables)
        for p in range(n_planes)
    }


def seeded_bucket_udf(n_tables: int, n_planes: int, dim: int):
    """Arrow-batched md5-seeded Rademacher bucket assignment: one
    ``array<long>`` of ``n_tables`` bucket ids per vector.  Exact-integer
    projections (see :func:`ann_lsh_seed_topk`'s parity note), so the
    assignment is identical wherever it runs — for the corpus and for
    the queries alike."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    planes = rademacher_planes_md5(n_tables, n_planes, dim)
    S = np.array(
        [planes[(t, p)] for t in range(n_tables) for p in range(n_planes)],
        dtype=np.float64,
    ).T  # (dim, n_tables*n_planes)
    weights = 2 ** np.arange(n_planes, dtype=np.int64)

    def _bucket_fn(vecs: "pd.Series") -> "pd.Series":
        M = np.vstack(vecs.to_numpy()).astype(np.float64) * 1e12
        R = np.floor(np.abs(M) + 0.5) * np.sign(M)  # round half away from 0
        bits = (R @ S) >= 0
        bits = bits.reshape(len(M), n_tables, n_planes)
        ids = (bits * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(ids))

    return pandas_udf(_bucket_fn, "array<long>", PandasUDFType.SCALAR)


def ann_lsh_seed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via md5-seeded Rademacher LSH — the
    oracle-checkable sibling of :func:`ann_lsh_topk` (same trick as
    ``ann_ivf_seed_topk``: make every index stage relational and
    deterministic so DuckDB can hash-check bucketing, candidate join,
    and rerank end-to-end; the numpy-matmul variant stays the
    throughput path with recall pinned in pytest).

    Determinism at the sign boundary: the projection is
    Σ_d round(x_d·1e12)·s(d) — integer-valued doubles whose partial sums
    stay far below 2^53, so the sum is EXACT in any order and the
    ``>= 0`` bucket bit can never flap between engines or partitionings.
    That order-independence is also why the bucket stage may run as ONE
    Arrow-batched numpy matmul per batch instead of tables×planes
    interpreted Column lambdas (measured 14 s → 2 s at sf0.1) without
    risking oracle parity: every intermediate is an exact integer in
    float64, so BLAS accumulation order cannot change a single bit.
    Rounding is explicit half-away-from-zero — np.round's half-to-even
    WOULD diverge from Spark/DuckDB ``round`` on exact halves.
    """
    import numpy as np
    import pandas as pd

    bucket_ids = seeded_bucket_udf(n_tables, n_planes, dim)

    def bucketed(df: DataFrame, vec: str) -> DataFrame:
        b = df.withColumn("_buckets", bucket_ids(F.col(vec)))
        return b.select(
            *df.columns,
            F.posexplode(F.col("_buckets")).alias("tbl", "bucket"),
        )

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))

    # Collision pairs stay SLIM (ids only): LSH collision volume grows
    # faster than the corpus (2.55M pairs at sf1 for a 20k corpus, ~64%
    # of it per query at this operating point), so dragging two vectors
    # per pair through the dedup Exchange and then an interpreted
    # fixed-point lambda dominated the whole query (25 s of 29.5 s
    # measured r16).
    cand = (
        F.broadcast(bucketed(q, "qv").select("qid", "tbl", "bucket"))
        .join(bucketed(c, "nv").select("nid", "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .dropDuplicates(["qid", "nid"])
    )
    # Rerank as a grouped closure-matrix kernel (the _cosine_topk_kernel
    # shape applied to a candidate list): candidates group by nid so
    # each corpus vector ships through Arrow ONCE with its qid list —
    # 5 MB of vectors + 20 MB of ids at sf1 instead of 1.3 GB of
    # per-pair vector copies — and each batch emits only its per-query
    # partial top-k (lossless: a global top-k row is top-k within its
    # own batch under the same (cosine desc, nid asc) order).  Query
    # vectors ride in the closure (bounded by the search contract).
    # Bit-parity: identical exact-integer dots (pre-rounded micro-unit
    # elements, half-away-from-zero) and the same IEEE divide sequence.
    qpd = with_norm(q, "qv", exact=True).toPandas()
    if len(qpd) == 0:
        return corpus.sparkSession.createDataFrame(
            [], "qid long, nid long, rank int, cosine double"
        )
    qids_np = qpd["qid"].to_numpy().astype(np.int64)
    qidx = {int(v): i for i, v in enumerate(qids_np)}
    Qs = np.vstack(qpd["qv"].to_numpy()).astype(np.float64) * 1e6
    Q = np.floor(np.abs(Qs) + 0.5) * np.sign(Qs)
    qnorm = qpd["_norm"].to_numpy().astype(np.float64)

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nids = pdf["nid"].to_numpy().astype(np.int64)
            Ms = np.vstack(pdf["nv"].to_numpy()).astype(np.float64) * 1e6
            R = np.floor(np.abs(Ms) + 0.5) * np.sign(Ms)
            nnorm = np.sqrt((R * R).sum(axis=1) / FP_SCALE)
            lens = pdf["qids"].map(len).to_numpy()
            rep = np.repeat(np.arange(len(pdf)), lens)
            flat_q = np.fromiter(
                (qidx[int(x)] for lst in pdf["qids"] for x in lst),
                dtype=np.int64,
                count=int(lens.sum()),
            )
            out = []
            for lo in range(0, len(rep), 200_000):  # bound peak memory
                r, fq = rep[lo : lo + 200_000], flat_q[lo : lo + 200_000]
                dots = (R[r] * Q[fq]).sum(axis=1) / FP_SCALE
                out.append(
                    pd.DataFrame(
                        {
                            "qid": qids_np[fq],
                            "nid": nids[r],
                            "cosine": dots / (qnorm[fq] * nnorm[r]),
                        }
                    )
                )
            allb = pd.concat(out, ignore_index=True)
            # per-(query, batch) partial top-k by (cosine desc, nid asc)
            allb = allb.sort_values(
                ["qid", "cosine", "nid"], ascending=[True, False, True]
            )
            yield allb.groupby("qid", sort=False).head(k)

    per_n = cand.groupBy("nid").agg(F.collect_list("qid").alias("qids"))
    scored = per_n.join(c, "nid").mapInPandas(
        rerank, "qid long, nid long, cosine double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 10,
    train_limit: int = 100_000,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Classic IVF-flat: k-means coarse quantizer over unit-normalized
    vectors (euclidean on unit vectors is monotone in cosine), each corpus
    vector assigned to its nearest centroid's list; a query probes its
    ``nprobe`` nearest lists and exactly re-ranks only those candidates.
    ``nprobe == n_lists`` degenerates to exact brute force — the tests pin
    that equivalence against :func:`cosine_topk`.

    Spark shape, and why it holds at 100 TB:
    - Training is driver-side vectorized Lloyd's over a BOUNDED sample
      (``train_limit`` rows, one collect) — IVF quantizers train on ~10^5
      vectors regardless of corpus size, so distributing the trainer buys
      nothing and costs a scheduled job per iteration (a Spark ML KMeans
      formulation measured ~10 s of job overhead on the same data).
    - Assignment is ONE Arrow-batched matmul pass over the corpus
      (centroids ride along in the closure, n_lists × dim floats) — no
      shuffle, no join-back.
    - Probe selection is the same matmul on the (small) query side,
      emitting each query's ``nprobe`` nearest lists.
    - The candidate join is an equi-join on ``list_id``: at rest the
      corpus would be partitioned/bucketed by ``list_id``, so a probe
      scans ``nprobe/n_lists`` of the data (the whole point of IVF) and
      the shuffle carries only probed buckets.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        exact=False,
    ).withColumnRenamed("_norm", "nnorm")
    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        "qv",
        exact=False,
    ).withColumnRenamed("_norm", "qnorm")

    def _unit_np(rows: "pd.Series") -> "np.ndarray":
        M = np.vstack(rows.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        return M / np.where(nrm == 0, 1.0, nrm)  # zero vectors pass through

    # --- train: bounded sample → driver-side Lloyd's (vectorized) ---
    # Deterministic *representative* sample: keep rows whose id-hash falls
    # in 1/k of the hash space (layout-independent, unlike .limit(), which
    # takes scan-order rows — one file/time-slice of a real corpus — and
    # unlike .sample(), whose output shifts with partitioning).
    n_corpus = corpus.count()
    stride = max(1, n_corpus // train_limit)
    sample = (
        corpus.select(F.col(vec_col).alias("v"), F.col(id_col).alias("_i"))
        .filter(F.pmod(F.xxhash64(F.col("_i"), F.lit(seed)), F.lit(stride)) == 0)
        .limit(train_limit)
        .toPandas()
    )
    X = _unit_np(sample["v"])
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_lists, len(X)), replace=False)].copy()
    for _ in range(max_iter):
        # d²(x,c) = |x|² − 2x·c + |c|²; argmin needs only −2x·c + |c|²
        scores = -2.0 * (X @ C.T) + (C * C).sum(axis=1)
        assign = scores.argmin(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):  # empty cluster keeps its old centroid
                C[j] = members.mean(axis=0)

    cw = C.T.copy()  # (dim, n_lists)
    half_c2 = 0.5 * (C * C).sum(axis=1)  # (n_lists,)

    def _assign_fn(vecs: "pd.Series") -> "pd.Series":
        U = _unit_np(vecs)
        return pd.Series((U @ cw - half_c2).argmax(axis=1).astype(np.int32))

    def _probe_fn(vecs: "pd.Series") -> "pd.Series":
        U = _unit_np(vecs)
        scores = U @ cw - half_c2
        # stable argsort: ties break toward the lower list_id, matching
        # the (asc d2, asc list_id) rank order of the SQL formulation
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    # explicit SCALAR eval type: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's type inference can't read
    assign_udf = pandas_udf(_assign_fn, "int", PandasUDFType.SCALAR)
    probe_udf = pandas_udf(_probe_fn, "array<int>", PandasUDFType.SCALAR)

    inverted = c.withColumn("list_id", assign_udf(F.col("nv")))
    probes = q.select(
        "qid", "qv", "qnorm", F.explode(probe_udf(F.col("qv"))).alias("list_id")
    )

    cand = (
        F.broadcast(probes)
        .join(inverted, "list_id")
        .filter(F.col("qid") != F.col("nid"))
    )
    sim = _dot_double(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def ann_ivf_seed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    long_safe: bool = True,
    vectorized: bool = True,
) -> DataFrame:
    """IVF top-k with a *deterministic seed quantizer* — oracle-checkable.

    Same inverted-file shape as :func:`ann_ivf_topk` (assign every corpus
    vector to its nearest coarse centroid's list, probe a query's
    ``nprobe`` nearest lists, exactly re-rank only those candidates), but
    the coarse centroids are the ``n_lists`` corpus vectors with the
    smallest ``md5(id)`` — a data-derived pseudo-random sample instead of
    Lloyd's k-means.  Sampled-seed quantizers are a standard IVF baseline
    (k-means init without the iterations); recall is a little below a
    trained quantizer but every stage is a pure relational expression with
    fixed-point dot products, so ANY SQL engine reproduces the result
    bit-for-bit — this is the variant the correctness driver hash-checks,
    while the k-means variant keeps its recall/exactness pytest coverage.

    100 TB shape (``vectorized=True``, the default): the quantizer
    (``n_lists`` seed rows, TakeOrderedAndProject + a bounded collect)
    and the query set (bounded by the search contract) ride in the
    kernel closure; the corpus streams through ONE ``mapInPandas`` pass
    that assigns each row's list (integer matmul argmax) and reranks it
    against only the queries probing that list, emitting per-batch
    partial top-k.  No corpus shuffle, no crossJoin blowup.
    Bit-identical to the relational twin below (``vectorized=False``) —
    pinned in tests.

    Relational-twin shape (what the SQL oracle describes):
    - Seed selection is a global top-``n_lists`` by hash —
      TakeOrderedAndProject (per-partition partial top-n, no full sort).
    - Assignment is a broadcast cross-join against ``n_lists`` rows
      followed by a partial-aggregable per-id argmax (map-side combine
      collapses the ×n_lists blowup before the shuffle).
    - The candidate join is an equi-join on ``list_id``; shuffle carries
      only probed lists (``nprobe/n_lists`` of the corpus per query set).
    """
    if vectorized:
        return _ann_ivf_seed_kernel(
            corpus, queries, k, n_lists, nprobe, vec_col, id_col
        )
    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        exact=True,
        long_safe=long_safe,
    ).withColumnRenamed("_norm", "nnorm")
    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        "qv",
        exact=True,
        long_safe=long_safe,
    ).withColumnRenamed("_norm", "qnorm")

    cent = _seed_centroids(c, n_lists)
    assigned = _ivf_seed_assign_normed(c, cent, long_safe)
    probes = _ivf_probe_lists(q, cent, nprobe, long_safe)

    cand = (
        F.broadcast(probes)
        .join(assigned, "list_id")
        .filter(F.col("qid") != F.col("nid"))
    )
    sim = _ivf_fpdot("qv", "nv", long_safe) / (
        F.col("qnorm") * F.col("nnorm")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def _ivf_fpdot(a: str, b: str, long_safe: bool = True) -> Column:
    return _dot_fp(F.col(a), F.col(b), FP_SCALE, long_safe).cast(
        "double"
    ) / F.lit(FP_SCALE)


def _seed_centroids(c: DataFrame, n_lists: int) -> DataFrame:
    """Seed quantizer: the ``n_lists`` corpus vectors with smallest
    ``(md5(id), id)`` → (list_id, cv, cnorm).  ``c`` must carry
    (nid, nv, nnorm).  ``orderBy().limit()`` compiles to
    TakeOrderedAndProject; the row_number window then runs on
    ``n_lists`` rows only."""
    seeds = (
        c.withColumn("_h", F.md5(F.col("nid").cast("string")))
        .orderBy("_h", "nid")
        .limit(n_lists)
    )
    w_seed = Window.orderBy("_h", "nid")
    return seeds.select(
        (F.row_number().over(w_seed) - 1).alias("list_id"),
        F.col("nv").alias("cv"),
        F.col("nnorm").alias("cnorm"),
    )


def _csim_expr(vec: str, long_safe: bool) -> Column:
    return (_ivf_fpdot(vec, "cv", long_safe) / F.col("cnorm")).alias("csim")


def _ivf_seed_assign_normed(
    c: DataFrame, cent: DataFrame, long_safe: bool = True
) -> DataFrame:
    """(nid, nv, nnorm) × centroids → (nid, list_id, nv, nnorm).

    Assignment is argmax_j dot(nv, cv_j)/|cv_j| (|nv| constant per nid —
    dropping it cannot change the argmax).  ``min(struct(-csim, list))``
    is the partial-aggregable argmax with the (sim desc, list asc)
    tie-break the oracle mirrors.
    """
    return (
        c.crossJoin(F.broadcast(cent))
        .select("nid", "nv", "nnorm", "list_id", _csim_expr("nv", long_safe))
        .groupBy("nid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("csim")).alias("n"), F.col("list_id").alias("l")
                )
            ).alias("_a"),
            F.first("nv").alias("nv"),
            F.first("nnorm").alias("nnorm"),
        )
        .select("nid", F.col("_a.l").alias("list_id"), "nv", "nnorm")
    )


def ivf_seed_assign(
    corpus: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    long_safe: bool = True,
    vectorized: bool = False,
) -> DataFrame:
    """Seeded-IVF inverted-list assignment of a whole corpus:
    (nid, list_id, nv, nnorm).

    ``vectorized=True`` collects the ``n_lists`` seed centroids (bounded
    by contract) into a closure and assigns each corpus row with one
    integer matmul argmax per Arrow batch — bit-identical to the
    relational broadcast-argmax (pre-rounded elements, exact integer
    sums, same divide sequence; ``np.argmax`` takes the first maximum,
    which is exactly the (sim desc, list asc) tie-break).
    """
    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        exact=True,
        long_safe=long_safe,
    ).withColumnRenamed("_norm", "nnorm")
    cent = _seed_centroids(c, n_lists)
    if not vectorized:
        return _ivf_seed_assign_normed(c, cent, long_safe)

    import numpy as np
    import pandas as pd

    rows = sorted(cent.collect(), key=lambda r: r["list_id"])
    CV = np.vstack([r["cv"] for r in rows]).astype(np.float64) * 1e6
    CR = np.floor(np.abs(CV) + 0.5) * np.sign(CV)
    cnorm = np.array([float(r["cnorm"]) for r in rows])

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Ms = np.vstack(pdf["nv"].to_numpy()).astype(np.float64) * 1e6
            R = np.floor(np.abs(Ms) + 0.5) * np.sign(Ms)
            nnorm = np.sqrt((R * R).sum(axis=1) / FP_SCALE)
            S = (R @ CR.T / FP_SCALE) / cnorm[None, :]
            lid = np.argmax(S, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "nid": pdf["nid"].to_numpy().astype(np.int64),
                    "list_id": lid,
                    "nv": pdf["nv"],
                    "nnorm": nnorm,
                }
            )

    vec_type = dict(zip(c.columns, c.schema))["nv"].dataType.simpleString()
    return c.select("nid", "nv").mapInPandas(
        kernel,
        f"nid long, list_id int, nv {vec_type}, nnorm double",
    )


def semantic_near_dup_pairs(
    corpus: DataFrame,
    n_lists: int = 16,
    threshold: float = 0.42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    long_safe: bool = True,
    vectorized: bool = True,
) -> DataFrame:
    """SemDeDup-shaped semantic near-duplicate pairs: cluster the corpus
    in embedding space with the seeded coarse quantizer, then compare
    pairs ONLY within each cluster.

    The all-pairs embedding near-dup join (``near_dup_pairs``) bounds
    its candidates with LSH banding; this is the other standard scale
    path (Abbas et al., "SemDeDup"): a cheap coarse clustering first,
    then exact cosine inside each cluster.  Near-duplicates land in the
    same list with high probability (they are near the same centroid),
    so recall loss is confined to pairs straddling a cluster boundary —
    the SemDeDup trade.

    Scale shape: the assignment is one broadcast argmax pass; the pair
    stage is an equi-self-join on ``list_id``, so candidate volume is
    Σ|list|² instead of n² — and ``n_lists`` scales WITH the corpus
    (n_lists ∝ n keeps expected list size, and therefore per-list work,
    constant).

    Every stage is relational with fixed-point dots — the DuckDB oracle
    hash-checks clustering AND pair selection end-to-end.
    ``vectorized=True`` (default) runs the pair stage as ONE integer
    matmul per list inside ``applyInPandas`` — bit-identical to the
    relational twin (pre-rounded elements, exact integer sums, same
    divide sequence; the `_cosine_topk_kernel` proof) and ~20× faster
    at sf0.1 (10.0 s → 0.5 s); per-task memory is |list|² doubles, the
    SemDeDup per-cluster bound that ``n_lists ∝ n`` keeps constant.
    """
    assigned = ivf_seed_assign(
        corpus, n_lists, vec_col, id_col, long_safe, vectorized=vectorized
    )
    if vectorized:
        import numpy as np
        import pandas as pd

        thr = threshold

        def _kernel(key, pdf):
            ids = pdf["nid"].to_numpy().astype(np.int64)
            if len(ids) < 2:
                return pd.DataFrame(
                    {"list_id": [], "id_a": [], "id_b": [], "cosine": []}
                )
            Ms = np.vstack(pdf["nv"].to_numpy()).astype(np.float64) * 1e6
            R = np.floor(np.abs(Ms) + 0.5) * np.sign(Ms)
            norm = np.sqrt((R * R).sum(axis=1) / FP_SCALE)
            C = (R @ R.T / FP_SCALE) / (norm[:, None] * norm[None, :])
            ia, ib = np.triu_indices(len(ids), k=1)
            swap = ids[ia] > ids[ib]
            id_a = np.where(swap, ids[ib], ids[ia])
            id_b = np.where(swap, ids[ia], ids[ib])
            cosv = C[ia, ib]
            keep = cosv >= thr
            return pd.DataFrame(
                {
                    "list_id": np.full(
                        int(keep.sum()), int(key[0]), dtype=np.int64
                    ),
                    "id_a": id_a[keep],
                    "id_b": id_b[keep],
                    "cosine": cosv[keep],
                }
            )

        return (
            assigned.select("list_id", "nid", "nv")
            .groupBy("list_id")
            .applyInPandas(
                _kernel, "list_id long, id_a long, id_b long, cosine double"
            )
        )
    a = assigned.select(
        F.col("list_id"),
        F.col("nid").alias("id_a"),
        F.col("nv").alias("va"),
        F.col("nnorm").alias("na"),
    )
    b = assigned.select(
        F.col("list_id"),
        F.col("nid").alias("id_b"),
        F.col("nv").alias("vb"),
        F.col("nnorm").alias("nb"),
    )
    cos = _ivf_fpdot("va", "vb", long_safe) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(
            F.col("list_id").cast("long").alias("list_id"),
            "id_a",
            "id_b",
            "cosine",
        )
    )


def _ivf_probe_lists(
    q: DataFrame, cent: DataFrame, nprobe: int, long_safe: bool = True
) -> DataFrame:
    """(qid, qv, qnorm) × centroids → each query's ``nprobe`` nearest
    lists: (qid, qv, qnorm, list_id)."""
    w_probe = Window.partitionBy("qid").orderBy(
        F.desc("csim"), F.asc("list_id")
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "qnorm", "list_id", _csim_expr("qv", long_safe))
        .withColumn("_pr", F.row_number().over(w_probe))
        .filter(F.col("_pr") <= nprobe)
        .select("qid", "qv", "qnorm", "list_id")
    )


def _ann_ivf_seed_kernel(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_lists: int,
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Closure-matrix execution of :func:`ann_ivf_seed_topk`.

    Driver-side state is BOUNDED BY DESIGN: the ``n_lists`` seed
    centroids (one TakeOrderedAndProject + collect of n_lists rows) and
    the query set (the search contract — same boundedness argument as
    the brute-force broadcast and the IVF trainer sample).  Probe lists
    are computed on that driver-side state with the identical fixed-point
    math the SQL oracle describes.  The corpus is scanned ONCE: each
    Arrow batch assigns its rows to lists (integer matmul, argmax with
    first-max tie-break == (csim desc, list_id asc)), then reranks each
    row against only the queries probing its list, emitting per-(batch,
    query) partial top-k — lossless for the global top-k under the same
    (cosine desc, nid asc) order.  Every intermediate is an exact
    integer in float64 (pre-rounded elements, see ``_dot_fp``), so
    kernel results are bit-identical to the relational twin and the SQL
    oracle.
    """
    import numpy as np
    import pandas as pd

    def _fp(M: "np.ndarray") -> "np.ndarray":
        S = M.astype(np.float64) * 1e6
        return np.floor(np.abs(S) + 0.5) * np.sign(S)  # round half away from 0

    rows = corpus.select(
        F.col(id_col).cast("long").alias("nid"), F.col(vec_col).alias("nv")
    )
    seeds_pd = (
        rows.withColumn("_h", F.md5(F.col("nid").cast("string")))
        .orderBy("_h", "nid")
        .limit(n_lists)
        .toPandas()
    )
    qpd = queries.select(
        F.col(id_col).cast("long").alias("qid"), F.col(vec_col).alias("qv")
    ).toPandas()
    empty_schema = "qid long, nid long, rank int, cosine double"
    if len(qpd) == 0 or len(seeds_pd) == 0:
        return corpus.sparkSession.createDataFrame([], empty_schema)

    Cm = _fp(np.vstack(seeds_pd["nv"].to_numpy()))  # (L, dim) integers
    cnorm = np.sqrt((Cm * Cm).sum(axis=1) / FP_SCALE)
    qids = qpd["qid"].to_numpy().astype(np.int64)
    Q = _fp(np.vstack(qpd["qv"].to_numpy()))
    qnorm = np.sqrt((Q * Q).sum(axis=1) / FP_SCALE)

    # probes: per query, top-nprobe lists by (csim desc, list_id asc) —
    # stable argsort keeps the lower list_id on ties, as the oracle's
    # row_number ordering does
    qcs = (Q @ Cm.T / FP_SCALE) / cnorm[None, :]
    order = np.argsort(-qcs, axis=1, kind="stable")[:, :nprobe]
    probing: dict[int, "np.ndarray"] = {
        int(l): np.where((order == l).any(axis=1))[0]
        for l in np.unique(order)
    }

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["nid"].to_numpy().astype(np.int64)
            R = _fp(np.vstack(pdf["nv"].to_numpy()))
            nnorm = np.sqrt((R * R).sum(axis=1) / FP_SCALE)
            assign = ((R @ Cm.T / FP_SCALE) / cnorm[None, :]).argmax(axis=1)
            out_q, out_n, out_c = [], [], []
            for l, qidx in probing.items():
                sel = np.where(assign == l)[0]
                if len(sel) == 0:
                    continue
                C = (R[sel] @ Q[qidx].T / FP_SCALE) / (
                    qnorm[qidx][None, :] * nnorm[sel][:, None]
                )
                kk = min(k, len(sel))
                for col, qi in enumerate(qidx):
                    keep = ids[sel] != qids[qi]  # self excluded
                    cj, ij = C[keep, col], ids[sel][keep]
                    if len(ij) == 0:
                        continue
                    top = np.lexsort((ij, -cj))[:kk]
                    out_q.append(np.full(len(top), qids[qi], dtype=np.int64))
                    out_n.append(ij[top])
                    out_c.append(cj[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "nid": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    cand = rows.mapInPandas(kernel, "qid long, nid long, cosine double")
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def mmr_select(
    corpus: DataFrame,
    query_vec_id: int = 0,
    m: int = 16,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein): greedily pick ``k`` of the query's top-``m`` cosine
    candidates maximizing ``0.5·sim(q,d) − 0.5·max_{s∈S} sim(d,s)``
    — the standard RAG/retrieval diversity re-ranker that stops three
    near-duplicates crowding the context window.

    Oracle-pairable by construction: λ is fixed at 0.5 (multiplication
    by 0.5 is EXACT in IEEE doubles — no drift), sims are the engine's
    exact fixed-point cosines, ``greatest`` over exact doubles is
    engine-exact, every argmax is (score desc, id)-tie-broken, and the
    greedy loop is UNROLLED ``k`` times as DataFrame steps (the same
    quantized-recurrence discipline as the fixed-point PageRank).  The
    first pick's score is ``0.5·sim(q,d)`` (empty penalty set = 0).

    100 TB shape: the expensive stage is the candidate generation
    (cosine_topk's streaming kernel); everything after runs on a
    bounded m-row set — m² pairwise sims, k one-row broadcasts —
    independent of corpus size.  Returns (rank, nid, mmr_score).

    Contract (ADVICE r10): requires ``1 <= k <= m`` (asserted).  If the
    candidate pool is smaller than ``k`` (corpus has fewer than ``k``
    non-query rows), the result carries one row per available candidate
    — the remaining unrolled steps degrade to empty frames rather than
    erroring, so callers must not assume exactly ``k`` rows on tiny
    corpora.
    """
    assert 1 <= k <= m, f"mmr_select requires 1 <= k <= m, got k={k} m={m}"
    queries = corpus.filter(F.col(id_col) == query_vec_id)
    cand = (
        cosine_topk(corpus, queries, k=m, vec_col=vec_col, id_col=id_col)
        .select("nid", F.col("cosine").alias("simq"))
    )
    vecs = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    a = cand.join(vecs, F.col("nid") == F.col("cid")).select(
        F.col("nid").alias("a"), F.col("cv").alias("av")
    )
    b = cand.join(vecs, F.col("nid") == F.col("cid")).select(
        F.col("nid").alias("b"), F.col("cv").alias("bv")
    )

    def _norm(v):
        return F.sqrt(
            _dot_fp(v, v, FP_SCALE, True).cast("double") / F.lit(FP_SCALE)
        )

    pair = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            (
                (
                    _dot_fp(F.col("av"), F.col("bv"), FP_SCALE, True).cast(
                        "double"
                    )
                    / F.lit(FP_SCALE)
                )
                / (_norm(F.col("av")) * _norm(F.col("bv")))
            ).alias("sim"),
        )
    )

    picks = []  # one-row frames (rank, nid, mmr_score)
    sel_pens = None  # (nid, pen) running max penalty vs the selected set
    remaining = cand
    for step in range(1, k + 1):
        if step == 1:
            scored = remaining.select(
                "nid", (F.lit(0.5) * F.col("simq")).alias("mmr_score")
            )
        else:
            scored = remaining.join(sel_pens, "nid").select(
                "nid",
                (
                    F.lit(0.5) * F.col("simq") - F.lit(0.5) * F.col("pen")
                ).alias("mmr_score"),
            )
        pick = (
            scored.orderBy(F.desc("mmr_score"), F.asc("nid"))
            .limit(1)
            .select(
                F.lit(step).cast("int").alias("rank"), "nid", "mmr_score"
            )
        )
        picks.append(pick)
        if step == k:
            break
        sel = F.broadcast(pick.select(F.col("nid").alias("_sel")))
        remaining = remaining.join(
            sel, remaining["nid"] == sel["_sel"], "left_anti"
        )
        new_pen = pair.join(sel, pair["b"] == sel["_sel"]).select(
            F.col("a").alias("nid"), F.col("sim").alias("_p")
        )
        if sel_pens is None:
            sel_pens = new_pen.withColumnRenamed("_p", "pen")
        else:
            sel_pens = (
                sel_pens.join(new_pen, "nid")
                .select(
                    "nid",
                    F.greatest(F.col("pen"), F.col("_p")).alias("pen"),
                )
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out
