"""Document deduplication suite (north-star X1/X2): exact, n-gram Jaccard,
MinHash+LSH, SimHash — each designed so the shuffle volume at 100 TB is
signatures/pairs, never full documents.

- Exact: group by text hash, keep the lowest doc_id (one shuffle of
  (hash, id), map-side combined).
- N-gram Jaccard: exact set similarity via shingle explode + self-join —
  the ground truth the sketches approximate.  Oracle-checkable.
- MinHash: k independent permutations simulated by xxhash64(shingle ⊕ i);
  banding → candidate pairs via an equi-join on (band, band-hash), so
  candidate generation is a hash join on small keys, not n².
- SimHash: 64-bit majority-vote fingerprint; near-dups = equal fingerprint
  (or small Hamming distance via multi-probe on rotated bands).

Everything is built-in expressions (xxhash64, transform, aggregate) — no
Python in the hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crypto_data_ingestion_module_spark.functions.text import normalize_ws, words


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X1: one representative (min id) per distinct text, with dup count."""
    return (
        df.groupBy(F.col(text_col))
        .agg(
            F.min(F.col(id_col)).alias("rep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("rep_id", "dup_count", F.col(text_col))
    )


def char_shingles(col: Column | str, k: int = 8) -> Column:
    """Distinct character k-grams of the normalized text."""
    t = normalize_ws(F.col(col) if isinstance(col, str) else col)
    n = F.length(t)
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(n >= k, F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, F.lit(k)).cast("string")))).otherwise(
        F.array(t)
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (joined by single spaces)."""
    w = words(col)
    cnt = F.size(w)
    idx = F.sequence(F.lit(0), cnt - n)
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(w, i + 1, n), " ")
    )
    return F.when(cnt >= n, F.array_distinct(grams)).otherwise(
        F.array(F.array_join(w, " "))
    )


def _shingle_rows(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """Exploded ``(id, sz, shingle)`` rows in ONE evaluation pass.

    Tokenization is materialized in its own projection before the gram
    transform: referencing ``words(text)`` directly inside the transform
    lambda re-evaluates the regexp per gram (measured 5× slower; Catalyst
    keeps the projections separate because collapsing would duplicate the
    non-cheap regexp).  The set size rides along on every exploded row, so
    downstream consumers never need a second pass or a sizes join.

    The set is wrapped in ``F.shuffle`` as a deliberate optimizer barrier:
    ``InferFiltersFromGenerate`` synthesizes ``size(_s)>0 AND
    isnotnull(_s)`` for the explode and pushes it below the projections,
    re-inlining the whole gram construction (regexp included) into a
    per-row scan filter — measured ~5.5× slower.  The filter is vacuous
    (the set is non-empty by construction) and filters cannot push through
    a non-deterministic projection; element order is irrelevant to every
    consumer (set join / min-hash aggregate), so results stay
    deterministic.
    """
    w = F.col("_w")
    cnt = F.size(w)
    idx = F.sequence(F.lit(0), cnt - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, n), " "))
    sset = F.when(cnt >= n, F.array_distinct(grams)).otherwise(
        F.array(F.array_join(w, " "))
    )
    return (
        df.select(F.col(id_col).alias("id"), words(text_col).alias("_w"))
        .select("id", F.shuffle(sset).alias("_s"))
        .select("id", F.size("_s").alias("sz"), F.explode("_s").alias("shingle"))
    )


def dup_ngram_stats(
    df: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X1/X2 (substring axis): per-document duplicated-n-gram statistics.

    Document-level dedup misses the dominant contamination mode of web
    corpora: long VERBATIM SPANS (boilerplate, licenses, templated
    pages) shared across otherwise-distinct documents.  The standard
    signal is the fraction of a document's n-gram INSTANCES (with
    multiplicity — every occurrence counts) that occur in at least one
    OTHER document; curation pipelines drop or trim documents whose
    ratio crosses a threshold.

    Returns ``(doc_id, n_grams, dup_grams, dup_ratio)`` for EVERY corpus
    row — documents with no tokens (null text) report zeros, so the
    operator is safe to left-compose into a curation filter.

    Scale shape: the explode collapses IMMEDIATELY to the distinct
    (doc, gram, multiplicity) grain — one hash-agg with map-side
    combine, so raw instances never cross the wire — then a count
    window over the gram partition attaches each gram's document count
    with no self-join and no second evaluation of the gram transform
    (the first cut joined the instance stream against its own
    aggregate: the explode ran twice and the shuffle carried raw
    instance strings both times — measured 10.6 s vs 0.5 s at sf0.1).
    Shuffle volume is distinct (doc, gram) pairs, never instances,
    never n².
    """
    w = F.col("_w")
    cnt = F.size(w)
    idx = F.sequence(F.lit(0), cnt - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, n), " "))
    # multiplicity kept (no array_distinct) — instances, not the set;
    # same <n-words fallback and F.shuffle optimizer barrier as
    # _shingle_rows (see its docstring for the measured reasons)
    inst_arr = F.when(cnt >= n, grams).otherwise(
        F.array(F.array_join(w, " "))
    )
    pair = (
        # null text → null token array → the fallback branch would emit
        # one NULL gram; the oracle (WHERE text IS NOT NULL) and the
        # zero-filled left join below both say such docs have no grams
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), words(text_col).alias("_w"))
        .select("id", F.shuffle(inst_arr).alias("_g"))
        .select("id", F.explode("_g").alias("g"))
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    stats = (
        pair.withColumn("nd", nd)
        .groupBy("id")
        .agg(
            F.sum("m").alias("n_grams"),
            F.sum(
                F.when(F.col("nd") > 1, F.col("m")).otherwise(F.lit(0))
            ).alias("dup_grams"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.coalesce(
                F.col("dup_grams").cast("double")
                / F.col("n_grams").cast("double"),
                F.lit(0.0),
            ).alias("dup_ratio"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (exact): pairs of docs with word-n-gram Jaccard ≥ threshold.

    shingle-explode → equi-join on shingle → |∩| per pair → Jaccard with
    |A|+|B|−|∩|.  Physical shape: the self-join's two sides are the SAME
    subplan hash-partitioned on ``shingle``, so Spark computes the shingle
    scan once and reuses the exchange; set sizes are carried on the
    exploded rows (no sizes join).  At scale the join key is the shingle;
    frequent shingles are the skew risk — AQE skew-join handles moderate
    skew, and raising ``n`` thins frequent shingles exponentially.
    """
    sh = _shingle_rows(df, n, text_col, id_col)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "sz_a", "sz_b", "jaccard")
    )


def shingle_containment_pairs(
    df: DataFrame,
    threshold_ppm: int = 800_000,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (exact, asymmetric): document pairs where either direction's
    shingle CONTAINMENT ``|A∩B| / |A|`` reaches ``threshold_ppm``
    (parts-per-million).

    Containment is the near-subset metric Jaccard structurally
    under-scores: a short document quoted verbatim inside a much longer
    one has containment 1.0 from the short side but Jaccard
    ``|A|/|B|`` → 0 as the long side grows — so a resemblance-only
    dedup keeps both copies.  Broder's classic resemblance/containment
    split (SEQUENCES'97); every serious training-corpus dedup runs both
    axes (quote/boilerplate inclusion is containment, not resemblance).

    Scores are EXACT integer ppm — ``1_000_000 * n_common DIV sz`` —
    so the operator is oracle-pairable bit-for-bit (Spark ``DIV`` ==
    DuckDB ``//`` on nonnegative ints; no float division in the
    predicate path).  Physical shape is identical to
    :func:`ngram_jaccard_pairs`: one shingle-exploded subplan
    self-joined on the shingle key (exchange computed once and reused),
    sizes riding on the exploded rows, pair aggregation map-side
    combined.  Same 100 TB caveats: the shingle is the join key, raise
    ``n`` to thin frequent-shingle skew.

    Returns (id_a, id_b, n_common, sz_a, sz_b, cont_ab_ppm,
    cont_ba_ppm) with id_a < id_b; ``cont_ab_ppm`` is the containment
    of A in B (denominator sz_a).
    """
    sh = _shingle_rows(df, n, text_col, id_col)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "cont_ab_ppm", F.expr("1000000 * n_common DIV sz_a")
        )
        .withColumn(
            "cont_ba_ppm", F.expr("1000000 * n_common DIV sz_b")
        )
        .filter(
            F.greatest("cont_ab_ppm", "cont_ba_ppm") >= F.lit(threshold_ppm)
        )
        .select(
            "id_a", "id_b", "n_common", "sz_a", "sz_b",
            "cont_ab_ppm", "cont_ba_ppm",
        )
    )


def _hash_i(shingle: Column, i: int) -> Column:
    """i-th pseudo-independent hash of a shingle (xxhash64 with salt)."""
    return F.xxhash64(F.concat(shingle, F.lit(f"#{i}")))


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: array of num_hashes minima over the
    shingle set.

    Physical shape: explode shingles → num_hashes codegen'd xxhash64
    columns → hash-aggregate mins per doc.  The per-shingle hash columns
    stay inside whole-stage codegen (an ``F.aggregate`` lambda formulation
    was measured ~10× slower — interpreted evaluation), and the min
    aggregate combines map-side, so shuffle volume is one signature row
    per doc at any scale.
    """
    sh = _shingle_rows(df, shingle_n, text_col, id_col).drop("sz")
    mins = [
        F.min(F.xxhash64(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature")
    )


def minhash_band_rows(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded MinHash rows ``(id, signature, band, bhash)`` — the join-key
    form of the LSH index.  One row per (doc, band); the signature rides
    along so candidate pairs can compute the Jaccard estimate without a
    second join back to a signature table (denormalized on purpose: at
    32 hashes × 8 bands that is 8 repeats of a 256-byte array per doc,
    cheap next to re-shuffling the signatures at estimate time).

    This is also the PERSISTED shape for incremental dedup: a batch's
    band rows appended to a fingerprint lake make every future batch's
    near-dup check an equi-join against this table instead of a
    recompute over the full corpus.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, shingle_n, text_col, id_col)
    return sigs.select(
        "id",
        "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("bh"),
    ).select("id", "signature", F.col("bh.band").alias("band"), F.col("bh.bhash").alias("bhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (approximate): candidate near-dup pairs via LSH banding.

    Signatures are cut into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band hash become candidates.  The join is an
    equi-join on (band_idx, band_hash) — at 100 TB this shuffles only
    (id, band_hash) pairs, and the per-bucket blowup is bounded by bucket
    size, not corpus size.  Estimated Jaccard = matching signature
    fraction (unbiased MinHash estimator).
    """
    banded = minhash_band_rows(df, num_hashes, bands, shingle_n, text_col, id_col)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(float(num_hashes))
    return cand.select("id_a", "id_b", est.alias("est_jaccard"))


#: SimHash token cap per document.  Guarantees every 16-bit SWAR counter
#: lane stays below 2^16, so packed sums can never carry across lanes.
#: A fingerprint over the first 64Ki tokens is a perfectly good sketch of
#: a mega-document; without the cap, lane overflow would silently corrupt
#: fingerprints exactly on the largest (most interesting) docs.
_SIMHASH_MAX_TOKENS = 65535


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X2 (fingerprint): 64-bit SimHash over word tokens.

    Per doc, each of the 64 fingerprint bits is the majority vote of that
    bit across the xxhash64 of every token.  The naive plan is 64
    ``sum(when(...))`` aggregate columns; that generates so much Java that
    janino compilation dominates wall-clock (~3.6 s cold vs 1.0 s for this
    formulation) and every token pays 64 conditional sum-updates.

    Instead the 64 one-bit counters are SWAR-packed, 4 lanes × 16 bits per
    long, into 16 plain ``sum`` aggregates: per token, lane k of group g
    accumulates bit ``4g+k`` at position ``16k``.  Lanes cannot carry into
    each other because per-doc token count is capped at 65535
    (``_SIMHASH_MAX_TOKENS``), so even though the packed signed long may
    wrap, the bit pattern is exact — unpacking uses ``shiftrightunsigned``.
    Majority for bit j: ``2·c_j > n`` (ties → 0, matching the classic
    sum-of-±1 > 0 rule).  One shuffle of 17 longs per doc at any scale.
    """
    # Same projection layout + F.shuffle barrier as _shingle_rows: keeps
    # the regexp tokenization out of the explode's inferred filter (vote
    # sums are commutative, so token order is irrelevant).
    toks = (
        df.select(F.col(id_col).alias("id"), words(text_col).alias("_w"))
        .select(
            "id", F.shuffle(F.slice("_w", 1, _SIMHASH_MAX_TOKENS)).alias("_t")
        )
        .select("id", F.explode("_t").alias("tok"))
        .withColumn("th", F.xxhash64(F.col("tok")))
    )
    packed = []
    for g in range(16):
        lanes = None
        for k in range(4):
            lane = F.shiftleft(
                F.shiftright(F.col("th"), 4 * g + k).bitwiseAND(F.lit(1)), 16 * k
            )
            lanes = lane if lanes is None else lanes + lane
        packed.append(F.sum(lanes).alias(f"p{g}"))
    votes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *packed)
    # reassemble: bit 63 is the sign bit in two's complement
    terms = []
    for g in range(16):
        for k in range(4):
            j = 4 * g + k
            c = F.shiftrightunsigned(F.col(f"p{g}"), 16 * k).bitwiseAND(
                F.lit(65535)
            )
            terms.append(
                F.when(
                    c * 2 > F.col("n"),
                    F.lit(-(2**63) if j == 63 else (1 << j)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
    fp = terms[0]
    for t in terms[1:]:
        fp = fp + t
    return votes.select("id", fp.alias("simhash"))


def simhash60_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash whose per-token hash is an md5 prefix — the
    oracle-checkable sibling of :func:`simhash`.

    xxhash64 (the fast fingerprint above) has no DuckDB equivalent, so
    that query is rows-only.  This variant derives the token hash from
    the first 15 hex chars of md5 (60 bits, identical in every engine:
    ``conv(substr(md5(t),1,15),16,10)`` ≡ DuckDB
    ``('0x'||substr(md5(t),1,15))::BIGINT``), making fingerprints AND the
    downstream Hamming pair join fully SQL-expressible.  Same SWAR-packed
    majority vote as :func:`simhash` (15 groups × 4 lanes); all 60 bits
    are below the sign bit, so reassembly is plain addition.

    md5 is ~5-10× costlier per call than xxhash64 (hex string out + a
    base-16 string parse back to long), so unlike :func:`simhash` this
    variant hashes each DISTINCT (doc, token) once and weights the bit
    votes by the token's in-doc count: natural text repeats tokens
    heavily (Zipf within documents), so the md5 count drops by the
    duplication factor at the price of one extra shuffle of distinct
    (doc, token) pairs — strictly fewer rows than the token instances the
    plain groupBy(id) would partial-aggregate anyway, and both aggregates
    map-side combine.  Measured at sf0.1: 2.8 s → 0.9 s for the
    fingerprint pass.  Count-weighted lanes cannot carry: per-doc counts
    sum to ≤ 65535 (``_SIMHASH_MAX_TOKENS``).  :func:`simhash` keeps the
    hash-per-instance, zero-extra-shuffle form — xxhash64 is cheaper than
    the dedup would be.
    """
    toks = (
        df.select(F.col(id_col).alias("id"), words(text_col).alias("_w"))
        .select(
            "id", F.shuffle(F.slice("_w", 1, _SIMHASH_MAX_TOKENS)).alias("_t")
        )
        .select("id", F.explode("_t").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "th",
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long"),
        )
    )
    packed = []
    for g in range(15):
        lanes = None
        for k in range(4):
            lane = F.shiftleft(
                F.shiftright(F.col("th"), 4 * g + k).bitwiseAND(F.lit(1))
                * F.col("cnt"),
                16 * k,
            )
            lanes = lane if lanes is None else lanes + lane
        packed.append(F.sum(lanes).alias(f"p{g}"))
    votes = toks.groupBy("id").agg(F.sum("cnt").alias("n"), *packed)
    terms = []
    for g in range(15):
        for k in range(4):
            j = 4 * g + k
            c = F.shiftrightunsigned(F.col(f"p{g}"), 16 * k).bitwiseAND(
                F.lit(65535)
            )
            terms.append(
                F.when(c * 2 > F.col("n"), F.lit(1 << j).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            )
    fp = terms[0]
    for t in terms[1:]:
        fp = fp + t
    return votes.select("id", fp.alias("simhash60"))


def simhash60_md5_kernel(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched twin of :func:`simhash60_md5` — bit-identical output,
    one ``mapInPandas`` pass instead of explode + two shuffles.

    Safe to swap because every semantic ingredient is engine-agnostic:
    the word pattern is ASCII-only (``[A-Za-z0-9]+`` — Python ``re`` and
    the JVM regex agree token-for-token, no Unicode case folding
    anywhere), the token hash is an md5 prefix (identical bytes in
    hashlib / Spark / DuckDB), votes are exact integer counts, and the
    head-slice keeps document order like ``F.slice`` does.  Null/empty
    texts drop the row — the same absence the explode produces.

    Scale shape: embarrassingly parallel, zero shuffle (the Column
    variant shuffles distinct (doc, token) pairs twice); per document
    the work is one regex scan + one md5 per DISTINCT token + a
    ``distinct × 60`` numpy vote matrix.  Measured at sf0.1: fingerprint
    pass 2.35 s → ~0.4 s (32 lanes).
    """
    import hashlib
    from collections import Counter

    import numpy as np
    import pandas as pd

    from crypto_data_ingestion_module_spark.functions.text import WORD_PATTERN

    pat = re.compile(WORD_PATTERN)
    shifts = np.arange(60, dtype=np.uint64)
    max_toks = _SIMHASH_MAX_TOKENS

    def kernel(batches):
        for pdf in batches:
            ids_out: list[int] = []
            fp_out: list[int] = []
            for did, text in zip(pdf["id"].to_numpy(), pdf["t"]):
                if not isinstance(text, str):
                    continue
                toks = pat.findall(text)[:max_toks]
                if not toks:
                    continue
                n = len(toks)
                cnt = Counter(toks)
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        for t in cnt
                    ),
                    dtype=np.uint64,
                    count=len(cnt),
                )
                ws = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
                bits = (
                    (hs[:, None] >> shifts[None, :]) & np.uint64(1)
                ).astype(np.int64)
                votes = (bits * ws[:, None]).sum(axis=0)
                fp = int(((votes * 2 > n).astype(np.uint64) << shifts).sum())
                ids_out.append(int(did))
                fp_out.append(fp)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "id": np.asarray(ids_out, dtype=np.int64),
                        "simhash60": np.asarray(fp_out, dtype=np.int64),
                    }
                )

    src = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("t")
    )
    # A small corpus often arrives as 1-2 parquet splits; spread the
    # hash work across the cluster.  At real scale the input split count
    # already exceeds parallelism and this is a no-op-sized shuffle
    # relative to the md5 work it unlocks.
    sc = df.sparkSession.sparkContext
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism)
    return src.mapInPandas(kernel, "id long, simhash60 long")


def _simhash_band_spans(max_hamming: int) -> list[tuple[int, int]]:
    """(start_bit, width) of the ``max_hamming + 1`` disjoint pigeonhole
    bands over the 60-bit fingerprint."""
    n_bands = max_hamming + 1
    base, extra = divmod(60, n_bands)
    spans, start = [], 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        spans.append((start, width))
        start += width
    return spans


def simhash60_band_rows(fp: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(id, simhash60) → exploded (id, simhash60, band, bv) pigeonhole
    rows — the joinable index form shared by the one-shot pair query and
    the incremental/streaming ingestion path (band values are a pure
    function of the fingerprint, so rows built batch-by-batch are
    identical to rows built from the whole corpus)."""
    band_structs = []
    for b, (start, width) in enumerate(_simhash_band_spans(max_hamming)):
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash60"), start)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bv"),
            )
        )
    return fp.select(
        "id", "simhash60", F.explode(F.array(*band_structs)).alias("s")
    ).select("id", "simhash60", "s.band", "s.bv")


def incremental_simhash_pairs(
    new_docs: DataFrame,
    index: DataFrame | None,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Check a new batch against an accumulated SimHash band index.

    Returns ``(pairs, new_band_rows)``: every Hamming ≤ ``max_hamming``
    pair with at least one side in ``new_docs`` (new-vs-index and
    new-vs-new), canonicalized ``id_a < id_b``; and the batch's band
    rows for the caller to append (``index ∪ new_band_rows`` serves the
    next batch).  Band collision is a pure pairwise predicate of the two
    fingerprints, so batch-by-batch ingestion finds EXACTLY the pairs
    :func:`simhash_hamming_pairs` finds over the union — recall 1 stays
    recall 1 incrementally (same argument as the MinHash path in
    :func:`incremental_minhash_md5_pairs`, pinned by the
    streaming-curation test).
    """
    fp = simhash60_md5_kernel(new_docs, text_col, id_col).localCheckpoint(
        eager=True
    )
    new_bands = simhash60_band_rows(fp, max_hamming)
    full = new_bands if index is None else new_bands.unionByName(index)
    a, b = new_bands.alias("a"), full.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.when(
                F.col("a.id") < F.col("b.id"), F.col("a.simhash60")
            ).otherwise(F.col("b.simhash60")).alias("fa"),
            F.when(
                F.col("a.id") < F.col("b.id"), F.col("b.simhash60")
            ).otherwise(F.col("a.simhash60")).alias("fb"),
        )
        # new-vs-new double matches + multi-band agreements collapse here;
        # per-batch candidate lists are small so this shuffle is bounded
        # by the batch, never the corpus
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs, new_bands


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    vectorized: bool = True,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` of their
    60-bit md5-SimHash, with **recall 1** by pigeonhole banding.

    The fingerprint is split into ``max_hamming + 1`` disjoint bit bands:
    a pair with ≤ max_hamming differing bits must agree on at least one
    whole band, so the candidate set from the (band, band_value)
    equi-self-join provably contains every true pair; the exact
    ``bit_count(a XOR b)`` filter then removes false candidates.  Shuffle
    volume is (bands × docs) fingerprint rows — never documents, never
    n² — the same scale shape as the MinHash banding join.
    """
    fp = (
        # one Arrow pass; checkpointed so the SELF-join below reads the
        # materialized 17-byte-per-doc fingerprint table twice instead of
        # re-running the md5 kernel for each join side
        simhash60_md5_kernel(df, text_col, id_col).localCheckpoint(eager=True)
        if vectorized
        else simhash60_md5(df, text_col, id_col)
    )
    bands = simhash60_band_rows(fp, max_hamming)

    def _bv(col: str, s: int, w: int) -> Column:
        return F.shiftrightunsigned(F.col(col), s).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    # A pair agreeing on multiple bands would surface once per agreeing
    # band; instead of a dropDuplicates shuffle over the candidate list,
    # keep a candidate only when it came from the SMALLEST agreeing band
    # — computable from the two fingerprints already in the row (every
    # earlier band must differ), so dedup is a pure expression.
    minimal_band = F.lit(True)
    for bp, (s, w) in enumerate(_simhash_band_spans(max_hamming)):
        minimal_band = minimal_band & (
            (F.col("band") <= F.lit(bp)) | (_bv("fa", s, w) != _bv("fb", s, w))
        )
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "bv"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("band"),
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash60").alias("fa"),
            F.col("r.simhash60").alias("fb"),
        )
        .filter(minimal_band)
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def remove_duplicate_passages(
    docs: DataFrame,
    tile_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-PASSAGE removal: keep the globally-first
    occurrence of every repeated span, drop the rest, reassemble.

    Whole-document dedup (exact_duplicates / the MinHash stack) can't
    touch boilerplate — a license header or navigation block pasted
    into thousands of otherwise-distinct pages survives every doc-level
    pass and is exactly what a pretraining corpus must shed ("the
    deduplicated-spans" half of Lee et al.'s Deduplicating Training
    Data; suffix-array byte-exact spans there, fixed word tiles here so
    the operation stays relational and oracle-checkable).

    Semantics: documents tile into consecutive non-overlapping
    ``tile_words``-word spans (tail tile short); a tile's FIRST
    occurrence — min (doc_id, tile_idx) lexicographically over every
    occurrence of identical tile text — is kept, all others removed;
    per doc the kept tiles re-join in order.  Output one row per input
    doc: (doc_id, n_tiles, n_removed, clean_text); empty/NULL docs get
    (0, 0, '').

    100 TB shape: one explode pass over the corpus, then the
    first-occurrence rule as a map-side-combinable ``min(struct)`` hash
    aggregate on tile text (NOT a window over the tile partition — a
    boilerplate tile repeated 10^8 times would make one sort partition
    pathological, while min-combines collapse it to one row per
    partition before the shuffle), an equi-join back on the same key,
    and one per-doc aggregate whose collect_list is bounded by document
    length, not corpus size.
    """
    nn = F.coalesce(F.col(text_col), F.lit(""))
    toks = docs.select(F.col(id_col).alias("_id"), words(nn).alias("_w"))
    n_tiles = F.expr(f"(size(_w) + {tile_words - 1}) DIV {tile_words}")
    idx = F.when(F.size("_w") > 0, F.sequence(F.lit(0), (n_tiles - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    tiles = toks.select(
        "_id",
        F.explode(
            F.transform(
                idx,
                lambda t: F.struct(
                    t.alias("tile_idx"),
                    F.array_join(
                        F.slice("_w", t * tile_words + 1, tile_words), " "
                    ).alias("tile"),
                ),
            )
        ).alias("_s"),
    ).select("_id", F.col("_s.tile_idx").alias("_idx"), F.col("_s.tile").alias("_t"))
    first = tiles.groupBy("_t").agg(
        F.min(F.struct(F.col("_id"), F.col("_idx"))).alias("_first")
    )
    flagged = tiles.join(first, "_t").withColumn(
        "_keep",
        (F.col("_id") == F.col("_first._id")) & (F.col("_idx") == F.col("_first._idx")),
    )
    per_doc = flagged.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_idx", "_t"))
                    )
                ),
                lambda s: s["_t"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce("n_tiles", F.lit(0).cast("long")).alias("n_tiles"),
            F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


#: 2^48 — the modulus of the derived MinHash family below.
_H48_MOD = 1 << 48


def _md5_ab48(shingle: Column) -> tuple[Column, Column]:
    """The two 48-bit halves (A, B) of ONE md5 per shingle — the
    Kirsch–Mitzenmacher base pair: the i-th hash is
    ``(A + i·B) mod 2^48``, giving k pseudo-independent hashes for one
    md5 evaluation (the published trick Bloom/MinHash implementations
    use; 16 per-salt md5 calls measured 4.27 s vs 1 md5 + linear
    derivation at sub-2 s on the sf0.1 corpus).  Max value
    A + 15·B < 16·2^48 = 2^52 — exact in BIGINT/long in both engines,
    and ``%`` agrees because everything is nonnegative."""
    hx = F.md5(shingle)
    a = F.conv(F.substring(hx, 1, 12), 16, 10).cast("long")
    b = F.conv(F.substring(hx, 13, 12), 16, 10).cast("long")
    return a, b


def minhash_band_rows_md5(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, sig, bkey)`` band rows of the md5 Kirsch–Mitzenmacher
    MinHash family — the accumulable index unit of
    :func:`minhash_lsh_pairs_md5` (one row per doc per band; ``bkey``
    is the band-index-prefixed CSV of the band's minima, a pure
    function of the document alone, which is what makes the index
    incrementally accumulable)."""
    rows_per_band = num_hashes // bands
    sh = _shingle_rows(df, shingle_n, text_col, id_col).drop("sz")
    ha, hb = _md5_ab48(F.col("shingle"))
    sh = sh.select("id", ha.alias("_a"), hb.alias("_b"))
    mins = [
        F.min((F.col("_a") + i * F.col("_b")) % F.lit(_H48_MOD)).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    sigs = (
        sh.groupBy("id")
        .agg(*mins)
        .select(
            "id",
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
                "sig"
            ),
        )
    )
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat(
                    b.cast("string"),
                    F.lit(":"),
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("sig"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    ),
                ),
            )
        ).alias("bkey"),
    )


def _md5_pair_select(cand: DataFrame, num_hashes: int) -> DataFrame:
    """Canonical (id_a, id_b, n_match, est_jaccard) projection shared by
    the one-shot and incremental md5-MinHash pair generators."""
    n_match = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return cand.select(
        "id_a",
        "id_b",
        n_match.cast("int").alias("n_match"),
        (n_match.cast("double") / F.lit(float(num_hashes))).alias(
            "est_jaccard"
        ),
    )


def incremental_minhash_md5_pairs(
    new_docs: DataFrame,
    index: DataFrame | None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Check a new batch against an accumulated md5-MinHash band index —
    the :func:`incremental_simhash_pairs` move on the oracle-pairable
    MinHash family.

    Returns ``(pairs, new_band_rows)`` with the
    :func:`minhash_lsh_pairs_md5` output contract.  Band keys are pure
    per-document functions, so an unordered pair surfaces exactly once
    — in the batch that carries its LATER side — and the accumulated
    pair log over any batch split equals the one-shot pair set.
    """
    new_bands = minhash_band_rows_md5(
        new_docs, num_hashes, bands, shingle_n, text_col, id_col
    ).localCheckpoint(eager=True)
    full = new_bands if index is None else new_bands.unionByName(index)
    a, b = new_bands.alias("a"), full.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("a.sig"))
            .otherwise(F.col("b.sig"))
            .alias("sig_a"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("b.sig"))
            .otherwise(F.col("a.sig"))
            .alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _md5_pair_select(cand, num_hashes), new_bands


def minhash_lsh_pairs_md5(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ORACLE-PAIRABLE MinHash LSH candidate pairs — the md5 twin of
    ``minhash_lsh_pairs``, the same relationship ``simhash60_md5`` has
    to the xxhash64 SimHash: identical banded-LSH machinery on a
    portable md5-derived hash family (one md5 per shingle, k hashes by
    Kirsch–Mitzenmacher ``(A + i·B) mod 2^48``), so the ENTIRE pipeline
    (shingles → per-hash minima → band keys → candidate join →
    matching-fraction estimate) is hash-checked against a plain-SQL
    oracle, not only recall-pinned.  Band keys are the literal CSV of
    the band's minima (prefixed with the band index) — no second hash,
    nothing engine-specific anywhere.

    Same 100 TB shape as the fast twin: shuffle carries (id, band-key)
    rows and one signature per doc, never documents; candidates come
    from an equi-join, never all-pairs.  Estimate = n_match/num_hashes
    (exact integer / power-of-two-free but single-division double —
    engine-exact).  Returns (id_a, id_b, n_match, est_jaccard).
    """
    banded = minhash_band_rows_md5(
        df, num_hashes, bands, shingle_n, text_col, id_col
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _md5_pair_select(cand, num_hashes)


def pair_set_metrics(
    candidates: DataFrame,
    truth: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Dedup-sketch evaluation: precision/recall of a candidate PAIR set
    (e.g. banded MinHash LSH output) against an exact truth pair set
    (e.g. exact-Jaccard pairs) — the in-engine answer to "is the sketch
    finding the duplicates?", computed at the data instead of on a
    sampled driver copy.

    Both inputs are (id_a, id_b) frames with id_a < id_b (every pair
    generator in this repo emits that orientation).  Scores are exact
    integer ppm — ``recall_ppm = 1_000_000 * |∩| DIV |truth|``,
    ``precision_ppm = 1_000_000 * |∩| DIV |candidates|`` — so the
    evaluation is oracle-pairable like :func:`~crypto_data_ingestion_module_spark.operators.search.retrieval_metrics`.
    Returns ONE row (n_truth, n_candidates, n_common, recall_ppm,
    precision_ppm); empty inputs yield 0 ppm, never a division error.

    Plan: one left-semi-style equi-join on the pair key + three global
    counts — bounded by the pair lists, the corpus never enters.
    """
    c = candidates.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).distinct()
    t = truth.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).distinct()
    common = c.join(t, ["a", "b"])
    stats = (
        c.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(t.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(common.agg(F.count(F.lit(1)).alias("n_common")))
    )
    return stats.select(
        "n_truth",
        "n_candidates",
        "n_common",
        F.when(F.col("n_truth") > 0, F.expr("1000000 * n_common DIV n_truth"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_ppm"),
        F.when(
            F.col("n_candidates") > 0,
            F.expr("1000000 * n_common DIV n_candidates"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_ppm"),
    )
