"""Graph-based approximate nearest neighbor: seeded NN-descent k-NN
graph construction + multi-hop greedy search — the graph-ANN family
(HNSW/NSG class) the engine's IVF/PQ/LSH rows don't cover.

Design for oracle parity (the same discipline as ``ann_lsh_seed_topk``
and ``pagerank_fixed_point``): every stage is RELATIONAL and
deterministic —

- pseudo-randomness is md5-derived (``h(s) = int(md5(s)[:15], 16) %
  n``), identical in Python hashlib, Spark ``md5``/``conv``, and
  DuckDB ``md5``/hex-cast, so the initial graph and the search entry
  points are engine-independent;
- similarities are exact fixed-point cosine (pre-rounded micro-unit
  elements, integer product sums — ``similarity._dot_fp``), so
  neighbor selection can never flap on a float tie;
- ties rank by (cosine desc, id asc) everywhere;
- the NN-descent loop runs a FIXED iteration count, unrolled — the
  whole computation is a finite CTE pipeline a second engine can
  replay (no convergence test, no data-dependent control flow).

NN-descent (Dong, Charikar, Li — WWW'11): start from a seeded random
neighbor list per node, repeatedly propose neighbors-of-neighbors
(over the UNDIRECTED current graph) and keep the best M per node.
Convergence to a near-exact kNN graph is empirically fast; two rounds
at M=12 reach recall@10 = 0.985 on the sf0.1 embeddings (pinned vs
brute force in tests).

100 TB shape: per round exactly two shuffles — the two-hop self-join
of the edge list (both sides hash-partitioned on the join key) and the
top-M hash window per src.  Candidate volume is n_nodes x (2M)^2 —
LINEAR in corpus size with a constant per-node budget, never all-pairs;
the per-pair cost is one 64-dim integer dot.  Search touches only the
frontier: E entry points x (M+1)^H candidate bound per query,
independent of corpus size.

Pair scoring (r17, guide §8 "decide with small rows"): the candidate
list is pure ids, and dragging two 64-dim vectors per candidate through
two equi-joins and the Arrow boundary was ~60x the bytes of the ids
themselves (≈1.2 GB per NN-descent round at sf0.1).  At or below
``GANN_CLOSURE_MAX`` nodes (default 262,144 → a 128 MB matrix,
env-tunable) the corpus matrix rides in the scoring kernel's closure —
one bounded driver collect per build, pairs ship ids only, each Arrow
batch scores via vectorized row lookups.  Above the bound the original
fully-distributed join shape remains (vectors attached by equi-join on
the id, the LSH-rerank shape) — the 100 TB path never collects the
corpus.  Both paths emit bit-identical cosines (kernel docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_data_ingestion_module_spark.operators.similarity import (
    FP_SCALE,
    _fpdot_arrow_udf,
    with_norm,
)

#: Above this corpus size the pair scorer keeps the fully-distributed
#: join shape; at or below it the corpus matrix (n x dim x 8 bytes —
#: 128 MB at the default bound for 64-dim vectors) rides in the scoring
#: kernel's closure so candidate pairs ship IDS ONLY through the shuffle
#: and the Arrow boundary (guide §8: decide with small rows, move heavy
#: bytes never).  n_nodes is an explicit argument (the dense-id
#: contract), so the gate is part of the declared plan, not a hidden
#: action.  Env-tunable for cluster deployments.
GANN_CLOSURE_MAX = 262144


def _closure_max() -> int:
    """The effective closure bound: ``SPARK_GRAFT_GANN_CLOSURE_MAX``,
    read from the env PER CALL (r18, ADVICE r17 item 4: the old
    import-time read silently ignored any configuration set after module
    import), else the ``GANN_CLOSURE_MAX`` default.  The env var wins
    over the module global, so a path pin (tests included) sets the env
    var, e.g. ``monkeypatch.setenv``; assigning the global is ignored
    whenever the env var is set."""
    env = os.environ.get("SPARK_GRAFT_GANN_CLOSURE_MAX")
    return int(env) if env is not None else GANN_CLOSURE_MAX


#: Broadcast budget for the search frontier, in ROWS (qid+node = 16
#: bytes each → ~128 MB at the default, the same budget class as the
#: closure matrix).  The frontier grows as queries × E·(M+1)^hop, so an
#: unconditional broadcast would exceed driver/executor memory for a
#: large query set where the old shuffle join degraded gracefully
#: (r18, ADVICE r17 item 3).
GANN_FRONTIER_BROADCAST_MAX_ROWS = 8388608


def _frontier_broadcast_max() -> int:
    env = os.environ.get("SPARK_GRAFT_GANN_FRONTIER_MAX_ROWS")
    return int(env) if env is not None else GANN_FRONTIER_BROADCAST_MAX_ROWS


def _md5_mod(s: Column, n: int) -> Column:
    """``int(md5(s)[:15], 16) % n`` — 60 bits, always positive, exact in
    Spark (conv hex→dec, < 2^63), Python hashlib, and DuckDB."""
    return (F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % n).cast(
        "long"
    )


def _pair_cosine(pairs: DataFrame, base: DataFrame, a: str, b: str) -> DataFrame:
    """Attach exact fixed-point cosine to an (a, b) id-pair frame by
    equi-joining the normed vector table twice (never a collect or
    broadcast of the corpus — the at-scale join shape).

    The dot runs as the Arrow-batched kernel, not the interpreted JVM
    lambda: the pair list IS the data here (hundreds of thousands of
    candidate rows per NN-descent round carrying both vectors), exactly
    the regime ``_fpdot_arrow_udf``'s transfer note prescribes — one
    vectorized numpy pass per batch, bit-identical by construction
    (measured 10.9 s → 1.3 s per round-scoring pass at sf0.1)."""
    av = base.select(
        F.col("nid").alias(a), F.col("nv").alias("_av"), F.col("nnorm").alias("_an")
    )
    bv = base.select(
        F.col("nid").alias(b), F.col("nv").alias("_bv"), F.col("nnorm").alias("_bn")
    )
    dot = _fpdot_arrow_udf(FP_SCALE)(F.col("_av"), F.col("_bv")) / F.lit(
        FP_SCALE
    )
    return (
        pairs.join(av, a)
        .join(bv, b)
        .withColumn("cosine", dot / (F.col("_an") * F.col("_bn")))
        .drop("_av", "_an", "_bv", "_bn")
    )


def _corpus_matrix(corpus_ids: DataFrame, n_nodes: int):
    """Collect the corpus into a dense (n_nodes x dim) fixed-point matrix
    + norm vector, indexed by nid (the dense 0..n-1 id contract).

    Bounded by the ``GANN_CLOSURE_MAX`` gate at the call sites — the same
    boundedness argument as ``_cosine_topk_kernel``'s query collect and
    the LSH rerank's query matrix.  Rounding is half-away-from-zero on
    micro-unit elements and the norm is ``sqrt(exact_int / FP_SCALE)`` —
    the identical IEEE ops of ``with_norm(exact=True)`` (squares ≤ 1e12,
    64-term sums ≤ 6.4e13: exact integers in float64, any order).
    """
    import numpy as np
    import pandas as pd

    pdf = corpus_ids.select("nid", "nv").toPandas()
    # id→row via a hash index, NOT dense positional indexing: the seed
    # arithmetic runs mod n_nodes, but actual corpus ids may be sparse
    # (e.g. the seeded sf1 scale data replicates with id offsets) — the
    # join path simply drops pairs whose id has no corpus row, and the
    # kernel must reproduce exactly that inner-join absence.
    index = pd.Index(pdf["nid"].to_numpy().astype(np.int64))
    if len(pdf):
        Ms = np.vstack(pdf["nv"].to_numpy()).astype(np.float64) * 1e6
        R = np.floor(np.abs(Ms) + 0.5) * np.sign(Ms)
    else:
        R = np.zeros((0, 0), dtype=np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", R, R) / FP_SCALE)
    return index, R, norms


def _pair_cosine_kernel(
    pairs: DataFrame, index, R, norms, a: str, b: str
) -> DataFrame:
    """Closure-matrix twin of :func:`_pair_cosine`: the candidate list
    streams through ONE Arrow pass carrying ids only, each batch computes
    its dots as vectorized numpy row lookups against the closure-held
    corpus matrix — no join, no per-pair vector copies through the
    exchange or the Python boundary (measured 8.3 s → ~3 s for the whole
    ann_graph_topk row at sf0.1).

    Bit-parity with the join form: identical pre-rounded micro-unit
    integers, per-pair products ≤ 1e12 and 64-term sums ≤ 6.4e13 — exact
    integers in float64, any accumulation order — and the same IEEE
    divide sequence ``(dot / FP_SCALE) / (norm_a * norm_b)``."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ia = index.get_indexer(pdf[a].to_numpy().astype(np.int64))
            ib = index.get_indexer(pdf[b].to_numpy().astype(np.int64))
            # ids without a corpus row drop, exactly as the inner join
            keep = (ia >= 0) & (ib >= 0)
            if not keep.any():
                continue
            out = pdf[keep].copy()
            ia, ib = ia[keep], ib[keep]
            dots = np.einsum("ij,ij->i", R[ia], R[ib])
            out["cosine"] = (dots / FP_SCALE) / (norms[ia] * norms[ib])
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema.fields
    )
    return pairs.mapInPandas(kernel, f"{schema}, cosine double")


def _top_m(scored: DataFrame, m: int) -> DataFrame:
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= m)
        .select("src", "dst")
    )


def nn_descent_graph(
    corpus: DataFrame,
    n_nodes: int,
    m: int = 12,
    iterations: int = 2,
    r_init: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    _matrix=None,
) -> DataFrame:
    """Seeded NN-descent: the directed M-NN graph ``(src, dst)`` after
    ``iterations`` fixed refinement rounds over md5-seeded initial
    neighbors (``dst_r = h(src:r) % n_nodes``).

    ``n_nodes`` is passed explicitly (ids must be dense 0..n-1 — the
    embeddings-table contract) so the seed arithmetic is part of the
    declared plan, not a hidden count() action.

    Pair scoring (r17): at or below ``GANN_CLOSURE_MAX`` nodes the
    corpus matrix rides in the scoring kernel's closure and candidate
    pairs ship IDS ONLY (``_pair_cosine_kernel``); above the bound the
    fully-distributed vector-attach joins remain (``_pair_cosine``).
    Both paths emit bit-identical cosines (kernel docstring).
    """
    nodes = corpus.select(
        F.col(id_col).cast("long").alias("nid"), F.col(vec_col).alias("nv")
    )
    if _matrix is not None or n_nodes <= _closure_max():
        index, R, norms = (
            _matrix if _matrix is not None else _corpus_matrix(nodes, n_nodes)
        )

        def score(pairs: DataFrame, a: str, b: str) -> DataFrame:
            return _pair_cosine_kernel(pairs, index, R, norms, a, b)

        ids = nodes.select(F.col("nid").alias("src"))
    else:
        base = (
            with_norm(nodes, "nv", exact=True)
            .withColumnRenamed("_norm", "nnorm")
            .localCheckpoint(eager=False)  # loop invariant, re-read per round
        )

        def score(pairs: DataFrame, a: str, b: str) -> DataFrame:
            return _pair_cosine(pairs, base, a, b)

        ids = base.select(F.col("nid").alias("src"))
    init = ids.select(
        "src",
        F.explode(
            F.array(
                *[
                    _md5_mod(
                        F.concat(
                            F.col("src").cast("string"), F.lit(f":{r}")
                        ),
                        n_nodes,
                    )
                    for r in range(r_init)
                ]
            )
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    edges = _top_m(score(init, "src", "dst"), m)
    for _ in range(iterations):
        # sever the growing lineage per round (the pagerank_fixed_point
        # discipline) — each round's plan is one two-hop join + window
        edges = edges.localCheckpoint(eager=False)
        und = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        two_hop = (
            und.alias("x")
            .join(und.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
        )
        cands = (
            und.union(two_hop).filter(F.col("src") != F.col("dst")).distinct()
        )
        edges = _top_m(score(cands, "src", "dst"), m)
    return edges


def ann_graph_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_nodes: int,
    k: int = 10,
    m: int = 12,
    iterations: int = 2,
    r_init: int = 12,
    entries: int = 6,
    hops: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_queries: int | None = None,
) -> DataFrame:
    """Approximate top-k over the NN-descent graph: per query, start at
    ``entries`` md5-seeded entry points (``h('q{qid}:{e}') % n``),
    expand ``hops`` rounds of directed out-neighbors, exact-rerank the
    visited set, keep top-k by (cosine desc, nid asc).

    Returns (qid, nid, rank, cosine) — the shared ANN output contract
    (``cosine_topk``, ``ann_lsh_seed_topk``, ``ann_ivf_topk``), so
    ``retrieval_metrics`` evaluates it against brute force unchanged.

    Queries must be corpus members (their vectors/norms attach by the
    same corpus-id lookup as candidates — a non-member qid emits no
    rows); this is the dense-id contract's flip side.

    ``n_queries``: the caller's (upper bound on the) query count, used
    ONLY to decide whether the hop joins may broadcast the frontier
    (worst-case frontier rows = n_queries × min(n_nodes, the E·(M+1)^h
    visit bound) ≤ ``GANN_FRONTIER_BROADCAST_MAX_ROWS``).  Like
    ``n_nodes`` it is an explicit argument so the gate is part of the
    declared plan, not a hidden count() action; ``None`` (unknown size)
    keeps the plain shuffle join, which degrades gracefully at any
    scale (r18, ADVICE r17 item 3 — results are identical either way,
    a broadcast hint never changes join semantics).
    """
    nodes = corpus.select(
        F.col(id_col).cast("long").alias("nid"), F.col(vec_col).alias("nv")
    )
    matrix = (
        _corpus_matrix(nodes, n_nodes)
        if n_nodes <= _closure_max()
        else None
    )
    graph = nn_descent_graph(
        corpus, n_nodes, m, iterations, r_init, vec_col, id_col,
        _matrix=matrix,
    ).localCheckpoint(eager=False)
    if matrix is None:
        base = with_norm(nodes, "nv", exact=True).withColumnRenamed(
            "_norm", "nnorm"
        )
    q = queries.select(F.col(id_col).cast("long").alias("qid"))
    frontier = q.select(
        "qid",
        F.explode(
            F.array(
                *[
                    _md5_mod(
                        F.concat(
                            F.lit("q"),
                            F.col("qid").cast("string"),
                            F.lit(f":{e}"),
                        ),
                        n_nodes,
                    )
                    for e in range(entries)
                ]
            )
        ).alias("node"),
    ).distinct()
    # Broadcast the frontier only when the search contract bounds it:
    # per query the visited set is at most entries·Σ_{h≤hops}(M+1)^h
    # nodes (and never more than n_nodes), so the worst-case frontier
    # is n_queries × that bound.  Inside the row budget the graph side
    # of each hop join is never exchanged (one shuffle per hop instead
    # of three — the r17 win); above it, or when the caller did not
    # declare a query count, the plain join degrades gracefully.
    visit_bound = min(
        n_nodes, entries * sum((m + 1) ** h for h in range(hops + 1))
    )
    may_broadcast = (
        n_queries is not None
        and n_queries * visit_bound <= _frontier_broadcast_max()
    )
    for _ in range(hops):
        build = F.broadcast(frontier) if may_broadcast else frontier
        frontier = (
            frontier.union(
                build.join(graph, frontier["node"] == graph["src"])
                .select("qid", F.col("dst").alias("node"))
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
    cand = frontier.filter(F.col("qid") != F.col("node")).select(
        "qid", F.col("node").alias("nid")
    )
    # qid is also a corpus id: its own vector/norm ride the same lookup
    if matrix is not None:
        scored = _pair_cosine_kernel(cand, *matrix, "qid", "nid")
    else:
        scored = _pair_cosine(cand, base, "qid", "nid")
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.col("rank").cast("int").alias("rank"), "cosine")
    )
