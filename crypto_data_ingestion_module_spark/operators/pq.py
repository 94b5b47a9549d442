"""Product Quantization (PQ) encode + asymmetric-distance (ADC) search.

The missing tier of the ANN stack: int8 quantization (operators/quantize)
compresses 4x, IVF (operators/similarity) prunes candidates — PQ
compresses ~32x (64 float dims -> 8 one-byte codes here) and is how a
100 TB corpus actually fits an index (FAISS IVF-PQ).  Jegou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011.

Mechanics, all as DataFrame ops:

- The vector space splits into ``m`` subspaces of ``dim/m`` dims; each
  subspace gets a ``k``-codeword codebook.  A vector's code is the m-tuple
  of nearest codewords (one byte each for k <= 256).
- ADC: a query builds one m x k lookup table of exact subspace distances;
  a document's approximate distance is the sum of m table entries picked
  by its code — no float math touches the corpus at query time.

Checkability (same policy as the seeded IVF): the REGISTERED variant uses
SAMPLED codebooks — the k corpus rows with smallest (md5(id), id), each
sliced per subspace — so every stage is relational and the DuckDB oracle
hash-checks encode + LUT + ADC end-to-end.  ``train_iters > 0`` upgrades
the codebooks with Lloyd rounds per subspace (operators/clustering
machinery) for recall, covered by pytest.

Exactness: subvector elements are micro-unit integers; per-subspace
squared distances (<= 8 dims x 1e12 = 8e12) and their m-term ADC sums
(<= 6.4e13) stay under 2^53, so every distance is an exact integer-valued
double in any engine and any order — no decimal needed anywhere.

Scale shape: codebooks are m x k x (dim/m) scalars (bounded by contract);
encoding is one corpus pass against the broadcast codebook with a
partial-aggregable argmin; the ADC join ships only (nid, j, code) triples
— the 32x-compressed form — never vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SCALE = 1_000_000.0


def _micro(vec: Column) -> Column:
    return F.transform(vec, lambda x: F.round(x.cast("double") * _SCALE))


def _d2(a: Column, b: Column) -> Column:
    """Exact subspace squared distance (integer-valued double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _subspaces(df: DataFrame, id_alias: str, m: int, sub_dim: int) -> DataFrame:
    """(id, xu) -> (id, j, sv): one row per subspace slice."""
    return df.select(
        F.col("nid").alias(id_alias),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(F.col("xu"), j * sub_dim + 1, sub_dim),
            )
        ).alias("j", "sv"),
    )


def seeded_codebook(
    corpus: DataFrame,
    m: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sampled codebooks: the k corpus rows of smallest (md5(id), id),
    sliced per subspace -> (j, code, cv).  m*k rows, broadcastable."""
    sub_dim_expr = F.floor(F.size(F.col("xu")) / m).cast("int")
    pts = corpus.select(
        F.col(id_col).alias("nid"), _micro(F.col(vec_col)).alias("xu")
    )
    seeds = (
        pts.withColumn("_h", F.md5(F.col("nid").cast("string")))
        .orderBy("_h", "nid")
        .limit(k)
    )
    w = Window.orderBy("_h", "nid")
    seeds = seeds.select(
        (F.row_number().over(w) - 1).alias("code"),
        "xu",
        sub_dim_expr.alias("_sd"),
    )
    return seeds.select(
        "code",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    F.col("xu"), j * F.col("_sd") + 1, F.col("_sd")
                ),
            )
        ).alias("j", "cv"),
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    vectorized: bool = True,
) -> DataFrame:
    """Corpus -> (nid, j, code): nearest codeword per subspace (argmin
    ties to the smaller code).

    ``vectorized=True`` (default): the bounded codebook rides in an
    Arrow-kernel closure and each batch encodes with one integer matmul
    per subspace — bit-identical to the relational broadcast-argmin twin
    (exact float64 integers under 2^53; ``np.argmin`` first-minimum is
    the (d2 asc, code asc) tie-break; parity pinned in tests).
    """
    sub_dim = dim // m
    pts = corpus.select(
        F.col(id_col).alias("nid"), _micro(F.col(vec_col)).alias("xu")
    )
    if vectorized:
        return _pq_encode_kernel(pts, codebook, m, sub_dim)
    sv = _subspaces(pts, "nid", m, sub_dim)
    return (
        sv.join(F.broadcast(codebook), "j")
        .select("nid", "j", "code", _d2(F.col("sv"), F.col("cv")).alias("d2"))
        .groupBy("nid", "j")
        .agg(
            F.min(
                F.struct(F.col("d2").alias("d"), F.col("code").alias("c"))
            ).alias("_a")
        )
        .select("nid", "j", F.col("_a.c").alias("code"))
    )


def _pq_encode_kernel(
    pts: DataFrame, codebook: DataFrame, m: int, sub_dim: int
) -> DataFrame:
    import numpy as np
    import pandas as pd

    rows = codebook.orderBy("j", "code").collect()  # m*k*sub_dim, bounded
    k = max(r["code"] for r in rows) + 1
    C = np.zeros((m, k, sub_dim), dtype=np.float64)
    for r in rows:
        C[r["j"], r["code"], :] = np.asarray(r["cv"], dtype=np.float64)
    c2 = (C * C).sum(axis=2)  # (m, k)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["xu"].to_numpy()).astype(np.float64)
            n = len(X)
            ids = pdf["nid"].to_numpy()
            out_id = np.repeat(ids, m)
            out_j = np.tile(np.arange(m, dtype=np.int32), n)
            out_code = np.empty(n * m, dtype=np.int32)
            for j in range(m):
                S = X[:, j * sub_dim : (j + 1) * sub_dim]
                d2 = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ C[j].T)
                    + c2[j][None, :]
                )
                out_code[j::m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"nid": out_id, "j": out_j, "code": out_code}
            )

    return pts.mapInPandas(kernel, "nid long, j int, code int")


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes with seeded codebooks.

    Returns (qid, nid, rank, adc_d2) — adc_d2 in raw units (micro^2 /
    1e12), the PQ approximation of squared euclidean distance.
    """
    sub_dim = dim // m
    cb = seeded_codebook(corpus, m, k_codes, vec_col, id_col)
    codes = pq_encode(corpus, cb, m, vec_col, id_col, dim)

    qpts = queries.select(
        F.col(id_col).alias("nid"), _micro(F.col(vec_col)).alias("xu")
    )
    lut = (
        _subspaces(qpts, "qid", m, sub_dim)
        .join(F.broadcast(cb), "j")
        .select(
            "qid", "j", "code", _d2(F.col("sv"), F.col("cv")).alias("d2q")
        )
    )
    adc = (
        codes.join(lut, ["j", "code"])
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.sum("d2q").alias("adc"), F.count(F.lit(1)).alias("_nj"))
        # a document scores only when all m subspaces joined (always true
        # — the LUT covers every (j, code) — but stated, not assumed)
        .filter(F.col("_nj") == m)
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("nid"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "qid",
            "nid",
            "rank",
            (F.col("adc") / F.lit(1e12)).alias("adc_d2"),
        )
    )


def ann_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_lists: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ: seeded coarse quantizer prunes to ``nprobe`` lists, PQ
    codes serve the distances — the canonical billion-scale index shape
    (FAISS IVFPQ, non-residual variant), composed from the engine's
    existing seeded-IVF and PQ stages so the whole index stays
    oracle-checkable.

    At rest the corpus would carry (list_id, m byte codes) per vector —
    the ~32x-compressed form that ``streaming.ann_stream`` appends to a
    lake partitioned by list_id; at query time only probed lists' codes
    are joined and no corpus vector is ever touched.
    """
    from crypto_data_ingestion_module_spark.operators.similarity import (
        _ivf_probe_lists,
        _seed_centroids,
        ivf_seed_assign,
        with_norm,
    )

    sub_dim = dim // m
    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        exact=True,
        long_safe=True,
    ).withColumnRenamed("_norm", "nnorm")
    cent = _seed_centroids(c, n_lists)
    # corpus assignment through the Arrow argmax kernel (bit-identical to
    # the relational broadcast-argmax — pinned in the similarity tests)
    assigned = ivf_seed_assign(
        corpus, n_lists, vec_col, id_col, True, vectorized=True
    ).select("nid", "list_id")

    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        "qv",
        exact=True,
        long_safe=True,
    ).withColumnRenamed("_norm", "qnorm")
    probes = _ivf_probe_lists(q, cent, nprobe, True).select("qid", "list_id")

    cb = seeded_codebook(corpus, m, k_codes, vec_col, id_col)
    codes = pq_encode(corpus, cb, m, vec_col, id_col, dim)

    qpts = queries.select(
        F.col(id_col).alias("nid"), _micro(F.col(vec_col)).alias("xu")
    )
    lut = (
        _subspaces(qpts, "qid", m, sub_dim)
        .join(F.broadcast(cb), "j")
        .select(
            "qid", "j", "code", _d2(F.col("sv"), F.col("cv")).alias("d2q")
        )
    )

    cand = (
        F.broadcast(probes)
        .join(assigned, "list_id")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
    )
    adc = (
        cand.join(codes, "nid")
        .join(lut, ["qid", "j", "code"])
        .groupBy("qid", "nid")
        .agg(F.sum("d2q").alias("adc"), F.count(F.lit(1)).alias("_nj"))
        .filter(F.col("_nj") == m)
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("nid"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "qid",
            "nid",
            "rank",
            (F.col("adc") / F.lit(1e12)).alias("adc_d2"),
        )
    )
