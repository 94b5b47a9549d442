"""North-star extension queries (SURVEY §2.10 X1-X5): dedup, similarity
search, text analysis, multimodal columns — registered into the same
oracle-checked registry as the reference-derived operators.

Imported at the bottom of ``plans.queries`` (registration side effect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions import text as TX
from crypto_data_ingestion_module_spark.functions.exactsum import fsum
from crypto_data_ingestion_module_spark.plans.queries import (
    QuerySpec,
    _register,
    _t,
)
from crypto_data_ingestion_module_spark.plans.stream_fixtures import (
    drain_to_memory,
    run_dir,
    staged,
)


# --------------------------------------------------------------------------
# X1 exact dedup
# --------------------------------------------------------------------------

def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


_register(
    QuerySpec(
        name="dedup_exact_documents",
        survey_ids=("X1",),
        description="exact text dedup: one representative (min doc_id) per "
        "distinct document text, with duplicate count",
        spark=_exact_dedup,
        oracle="""
SELECT min(doc_id) AS rep_id, count(*) AS dup_count, text
FROM documents GROUP BY text
""",
    )
)


# --------------------------------------------------------------------------
# X4 text statistics
# --------------------------------------------------------------------------

def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.char_count("text").alias("n_chars_calc"),
        TX.word_count("text").alias("n_words"),
        TX.token_count("text").alias("n_tokens"),
        TX.punct_count("text").alias("n_punct"),
        TX.stopword_count("text").alias("n_stopwords"),
        (
            TX.alnum_char_count("text").cast("double")
            / F.greatest(TX.word_count("text"), F.lit(1)).cast("double")
        ).alias("mean_word_len"),
    )


_SW = "|".join(TX.STOPWORDS)

_register(
    QuerySpec(
        name="text_stats",
        survey_ids=("X4",),
        description="per-document token/word/punct/stopword counts and "
        "mean word length (whitespace + BPE-ish regex tokenization)",
        spark=_text_stats,
        oracle=f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_calc,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_words,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
  CAST(len(regexp_extract_all(lower(text), '\\b({_SW})\\b')) AS BIGINT) AS n_stopwords,
  CAST(length(array_to_string(regexp_extract_all(text, '[A-Za-z0-9]+'), '')) AS DOUBLE)
    / CAST(greatest(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 1) AS DOUBLE) AS mean_word_len
FROM documents
""",
    )
)


# --------------------------------------------------------------------------
# X4 quality scoring
# --------------------------------------------------------------------------

def _quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    q = TX.quality_score("text")
    return d.select(
        "doc_id",
        q.alias("quality"),
        F.when(q >= 0.7, "high").when(q >= 0.4, "medium").otherwise("low").alias(
            "quality_bucket"
        ),
    )


_register(
    QuerySpec(
        name="text_quality",
        survey_ids=("X4",),
        description="heuristic quality score (length/stopword/punct bands) "
        "+ bucket, engine-exact double arithmetic",
        spark=_quality,
        oracle=f"""
SELECT doc_id,
  {TX.oracle_quality_sql('text')} AS quality,
  CASE WHEN {TX.oracle_quality_sql('text')} >= 0.7 THEN 'high'
       WHEN {TX.oracle_quality_sql('text')} >= 0.4 THEN 'medium'
       ELSE 'low' END AS quality_bucket
FROM documents
""",
    )
)


# --------------------------------------------------------------------------
# X4 language-ID heuristic (marker-word scoring)
# --------------------------------------------------------------------------

_LANGS = ["en", "de", "fr", "es", "zh"]


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scores = {
        lang: TX.marker_count("text", TX.LANG_MARKERS[lang]).alias(f"score_{lang}")
        for lang in _LANGS
    }
    out = d.select("doc_id", "lang", *scores.values())
    # deterministic argmax with fixed tie order en > de > fr > es > zh
    pred = F.lit(None).cast("string")
    best = F.lit(-1).cast("long")
    for lang in _LANGS:
        s = F.col(f"score_{lang}")
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return out.withColumn("predicted_lang", pred)


def _lang_id_oracle() -> str:
    score_cols = ",\n  ".join(
        f"CAST(len(regexp_extract_all(lower(text), '\\b({'|'.join(TX.LANG_MARKERS[lang])})\\b')) AS BIGINT) AS score_{lang}"
        for lang in _LANGS
    )
    # same sequential argmax: later lang wins only on strictly greater
    pred = "CASE"
    conds = []
    for i, lang in enumerate(_LANGS):
        later = [f"score_{o} <= score_{lang}" for o in _LANGS[i + 1 :]]
        earlier = [f"score_{e} < score_{lang}" for e in _LANGS[:i]]
        cond = " AND ".join(earlier + later) or "TRUE"
        conds.append(f" WHEN {cond} THEN '{lang}'")
    pred += "".join(conds) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
  {score_cols}
  FROM documents
)
SELECT *, {pred} AS predicted_lang FROM scored
"""


_register(
    QuerySpec(
        name="lang_id",
        survey_ids=("X4",),
        description="marker-word language-ID heuristic with deterministic "
        "argmax (fixed tie order)",
        spark=_lang_id,
        oracle=_lang_id_oracle(),
    )
)


# --------------------------------------------------------------------------
# X4 document fingerprint
# --------------------------------------------------------------------------

_register(
    QuerySpec(
        name="doc_fingerprint",
        survey_ids=("X4", "X1"),
        description="md5 fingerprint of whitespace-normalized lowercase "
        "text (dedup key; identical hex in both engines)",
        spark=lambda s, d: _t(s, d, "documents").select(
            "doc_id", TX.fingerprint("text").alias("fp")
        ),
        oracle="""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
    )
)


# --------------------------------------------------------------------------
# X1/X2 substring axis: duplicated-n-gram span statistics per document.
# Document-level dedup misses verbatim spans (boilerplate/templates)
# shared across distinct documents — the signal curation pipelines
# threshold on is the fraction of a doc's gram INSTANCES shared with at
# least one other doc.
# --------------------------------------------------------------------------

def _dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        dup_ngram_stats,
    )

    return dup_ngram_stats(_t(spark, sf_dir, "documents"), n=4)


_register(
    QuerySpec(
        name="dup_ngram_stats",
        survey_ids=("X1", "X2"),
        description="per-document duplicated word-4-gram instance stats "
        "(substring-level dedup signal: fraction of a doc's gram "
        "instances occurring in at least one other doc)",
        spark=_dup_ngram_stats,
        oracle="""
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS ws
  FROM documents WHERE text IS NOT NULL
),
inst AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= 4
         THEN list_transform(range(1, len(ws) - 2),
                             i -> array_to_string(ws[i:i+3], ' '))
         ELSE [array_to_string(ws, ' ')] END) AS g
  FROM w
),
gd AS (SELECT g, count(DISTINCT doc_id) AS nd FROM inst GROUP BY g),
st AS (
  SELECT doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS dup_grams
  FROM inst JOIN gd USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(st.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(st.dup_grams, 0) AS BIGINT) AS dup_grams,
       COALESCE(CAST(st.dup_grams AS DOUBLE) / CAST(st.n_grams AS DOUBLE),
                0.0) AS dup_ratio
FROM documents d LEFT JOIN st USING (doc_id)
""",
    )
)


# --------------------------------------------------------------------------
# X2 exact n-gram Jaccard near-dup pairs
# --------------------------------------------------------------------------

def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5, n=4)


_register(
    QuerySpec(
        name="ngram_jaccard_pairs",
        survey_ids=("X2",),
        description="exact word-4-gram Jaccard ≥ 0.5 document pairs "
        "(shingle explode + equi-join; ground truth for the sketches; "
        "4-grams thin frequent-shingle join skew vs 3-grams)",
        spark=_jaccard_pairs,
        oracle="""
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS ws FROM documents
),
sh AS (
  SELECT doc_id AS id, unnest(list_distinct(
    CASE WHEN len(ws) >= 4
         THEN list_transform(range(1, len(ws) - 2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
         ELSE [array_to_string(ws, ' ')] END)) AS shingle
  FROM w
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
  CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.5
""",
    )
)


# --------------------------------------------------------------------------
# X2 exact shingle CONTAINMENT pairs — the asymmetric near-subset axis
# Jaccard under-scores (Broder's resemblance/containment split): a doc
# quoted verbatim inside a longer one is containment ~1.0 but Jaccard
# ~|A|/|B|.  Integer-ppm scores keep the whole predicate path exact.
# --------------------------------------------------------------------------

def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        shingle_containment_pairs,
    )

    return shingle_containment_pairs(
        _t(spark, sf_dir, "documents"), threshold_ppm=800_000, n=4
    )


_register(
    QuerySpec(
        name="shingle_containment_pairs",
        survey_ids=("X2",),
        description="asymmetric word-4-gram containment >= 0.8 document "
        "pairs (near-subset duplication — quotes/boilerplate — that "
        "Jaccard structurally under-scores); exact integer-ppm scores; "
        "4-grams thin frequent-shingle join skew (2.9 -> 1.5 s at sf0.1)",
        spark=_containment_pairs,
        oracle="""
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS ws FROM documents
),
sh AS (
  SELECT doc_id AS id, unnest(list_distinct(
    CASE WHEN len(ws) >= 4
         THEN list_transform(range(1, len(ws) - 2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
         ELSE [array_to_string(ws, ' ')] END)) AS shingle
  FROM w
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
  CAST(1000000 * n_common // sa.sz AS BIGINT) AS cont_ab_ppm,
  CAST(1000000 * n_common // sb.sz AS BIGINT) AS cont_ba_ppm
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE greatest(1000000 * n_common // sa.sz, 1000000 * n_common // sb.sz)
      >= 800000
""",
    )
)


# --------------------------------------------------------------------------
# X4 token-budget corpus selection — the mixture-curation primitive: per
# language, greedily keep the highest-lexical-diversity documents until
# half the language's token mass is spent.  Every quantity is an exact
# integer (token counts, diversity in ppm, running token cumsum over a
# total (diversity desc, doc_id) order), so the greedy frontier is
# engine-exact — the cut a float quality score could never pair.
# --------------------------------------------------------------------------

def _token_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        TX.word_count("text").alias("n_tokens"),
        F.size(F.array_distinct(TX.words("text"))).cast("long").alias("n_distinct"),
    ).filter(F.col("n_tokens") > 0)
    scored = d.withColumn(
        "div_ppm", F.expr("1000000 * n_distinct DIV n_tokens")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("div_ppm"), F.asc("doc_id"))
    tot = Window.partitionBy("lang")
    return (
        scored.withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("budget", F.expr("sum(n_tokens) OVER (PARTITION BY lang) DIV 2"))
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select("lang", "doc_id", "n_tokens", "div_ppm", "cum_tokens", "budget")
    )


_register(
    QuerySpec(
        name="token_budget_selection",
        survey_ids=("X4",),
        description="per-language token-budget corpus selection: keep "
        "highest-lexical-diversity docs (integer ppm) until half the "
        "language's token mass is spent — the data-mixture curation cut, "
        "engine-exact via an all-integer greedy frontier",
        spark=_token_budget_q,
        oracle="""
WITH d AS (
  SELECT lang, doc_id,
    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS n_distinct
  FROM documents
),
scored AS (
  SELECT lang, doc_id, n_tokens,
         1000000 * n_distinct // n_tokens AS div_ppm
  FROM d WHERE n_tokens > 0
),
cums AS (
  SELECT lang, doc_id, n_tokens, div_ppm,
    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY div_ppm DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum_tokens,
    SUM(n_tokens) OVER (PARTITION BY lang) // 2 AS budget
  FROM scored
)
SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(div_ppm AS BIGINT) AS div_ppm,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(budget AS BIGINT) AS budget
FROM cums WHERE cum_tokens <= budget
""",
    )
)


# --------------------------------------------------------------------------
# X3 brute-force cosine top-k (engine-exact fixed-point dots)
# --------------------------------------------------------------------------

def _cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return cosine_topk(emb, queries, k=10, exact=True, long_safe=True)


# Pre-rounded-element fixed point (operators.similarity._dot_fp): each
# element quantized to 1e-6, dot = exact integer products in 1e-12 units.
# Rounding the VECTOR (not the product) is what lets the Spark side run
# the dot as one integer matmul per Arrow batch with zero parity risk.
_COS_DOT = (
    "CAST(SUM(CAST(round(CAST({a} AS DOUBLE) * 1e6)"
    " * round(CAST({b} AS DOUBLE) * 1e6)"
    " AS DECIMAL(38,0))) AS DOUBLE) / 1e12"
)

_register(
    QuerySpec(
        name="cosine_topk",
        survey_ids=("X3", "X5"),
        description="brute-force cosine top-10 neighbors for query vectors "
        "(vec_id%100==0), fixed-point dot products for cross-engine parity",
        spark=_cosine_topk,
        oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
qn AS (
  SELECT qid, sqrt({_COS_DOT.format(a='x', b='x')}) AS qnorm
  FROM (SELECT qid, unnest(qv) AS x FROM q) GROUP BY qid
),
cn AS (
  SELECT nid, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
  FROM (SELECT nid, unnest(nv) AS x FROM c) GROUP BY nid
),
dots AS (
  SELECT qid, nid, {_COS_DOT.format(a='xq', b='xn')} AS dot
  FROM (
    SELECT qid, nid, unnest(qv) AS xq, unnest(nv) AS xn
    FROM q JOIN c ON qid <> nid
  ) GROUP BY qid, nid
),
ranked AS (
  SELECT d.qid, d.nid, d.dot / (qn.qnorm * cn.nnorm) AS cosine,
         row_number() OVER (PARTITION BY d.qid ORDER BY d.dot / (qn.qnorm * cn.nnorm) DESC, d.nid) AS rank
  FROM dots d JOIN qn ON d.qid = qn.qid JOIN cn ON d.nid = cn.nid
)
SELECT qid, nid, CAST(rank AS INT) AS rank, cosine FROM ranked WHERE rank <= 10
""",
    )
)


# --------------------------------------------------------------------------
# X5 array-typed columns: per-label centroids (element-wise mean)
# --------------------------------------------------------------------------

def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).withColumn("pos", F.col("pos0") + 1)
    return ex.groupBy("label", "pos").agg(
        (
            # pico-unit exact sum on the split-long fast path (|x| ≤ 1 →
            # u ≤ 1e12 ≈ 2^40; limb headroom ≥ 2^40 rows per (label, pos))
            fsum(F.col("x").cast("double"), 1e12)
            / F.count(F.lit(1)).cast("double")
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


_register(
    QuerySpec(
        name="label_centroids",
        survey_ids=("X5", "A2"),
        description="element-wise mean embedding per label — array-typed "
        "aggregate over posexplode (multimodal column arithmetic)",
        spark=_label_centroids,
        oracle="""
SELECT label, pos,
  (CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12)
    / CAST(count(*) AS DOUBLE) AS centroid,
  count(*) AS n
FROM (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         unnest(embedding) AS x
  FROM embeddings
)
GROUP BY label, pos
""",
    )
)


# --------------------------------------------------------------------------
# X5 multimodal metadata over opaque binary payloads
# --------------------------------------------------------------------------

def _multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return d.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
    )


_register(
    QuerySpec(
        name="multimodal_meta",
        survey_ids=("X5",),
        description="opaque binary payload column: modality tag, byte "
        "length, sha256 — the metadata plane of the multimodal pipeline",
        spark=_multimodal_meta,
        oracle="""
SELECT doc_id AS asset_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio'
       ELSE 'video' END AS modality,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  sha256(text) AS sha256
FROM documents
""",
    )
)


# --------------------------------------------------------------------------
# rows-only sketch operators (no SQL-expressible oracle): MinHash LSH,
# SimHash, LSH ANN — quality measured against exact ground truth in tests
# --------------------------------------------------------------------------

def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        minhash_lsh_pairs,
    )

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), num_hashes=32, bands=8)


_register(
    QuerySpec(
        name="minhash_lsh_pairs",
        survey_ids=("X2",),
        description="MinHash(32)+LSH(8 bands) candidate near-dup pairs with "
        "estimated Jaccard (hash-based; verified against exact pairs in tests)",
        spark=_minhash_pairs,
        oracle=None,
    )
)


def _simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


_register(
    QuerySpec(
        name="simhash_fingerprints",
        survey_ids=("X2",),
        description="64-bit SimHash fingerprints over word tokens "
        "(bit-majority vote, single projection)",
        spark=_simhash_q,
        oracle=None,
    )
)


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_lsh_topk(emb, queries, k=10, n_planes=4, n_tables=16, dim=64)


_register(
    QuerySpec(
        name="ann_lsh_topk",
        survey_ids=("X3",),
        description="approximate top-10 via random-hyperplane LSH buckets "
        "(recall vs brute force measured in tests)",
        spark=_ann_topk,
        oracle=None,
    )
)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.similarity import (
        ann_ivf_seed_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_ivf_seed_topk(emb, queries, k=10, n_lists=16, nprobe=4)


_register(
    QuerySpec(
        name="ann_ivf_topk",
        survey_ids=("X3",),
        description="approximate top-10 via IVF with a deterministic seed "
        "quantizer (lists = 16 corpus vectors of smallest md5(id), nprobe=4 "
        "probing, exact fixed-point rerank) — every stage relational, so "
        "the DuckDB oracle hash-checks assignment+probe+rerank; the k-means "
        "IVF variant keeps its recall/exactness pytest coverage",
        spark=_ann_ivf,
        oracle=f"""
WITH c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
cn AS (
  SELECT nid, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
  FROM (SELECT nid, unnest(nv) AS x FROM c) GROUP BY nid
),
qn AS (
  SELECT qid, sqrt({_COS_DOT.format(a='x', b='x')}) AS qnorm
  FROM (SELECT qid, unnest(qv) AS x FROM q) GROUP BY qid
),
cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1 AS list_id,
         nid AS cid, nv AS cv
  FROM c ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT 16
),
centn AS (SELECT cent.list_id, cn.nnorm AS cnorm FROM cent JOIN cn ON cn.nid = cent.cid),
adots AS (
  SELECT nid, list_id, {_COS_DOT.format(a='xn', b='xc')} AS dot
  FROM (SELECT c.nid, cent.list_id, unnest(c.nv) AS xn, unnest(cent.cv) AS xc
        FROM c CROSS JOIN cent)
  GROUP BY nid, list_id
),
assigned AS (
  SELECT nid, list_id FROM (
    SELECT a.nid, a.list_id,
           row_number() OVER (PARTITION BY a.nid
                              ORDER BY a.dot / n.cnorm DESC, a.list_id) AS rn
    FROM adots a JOIN centn n USING (list_id)
  ) WHERE rn = 1
),
qdots AS (
  SELECT qid, list_id, {_COS_DOT.format(a='xq', b='xc')} AS dot
  FROM (SELECT q.qid, cent.list_id, unnest(q.qv) AS xq, unnest(cent.cv) AS xc
        FROM q CROSS JOIN cent)
  GROUP BY qid, list_id
),
probes AS (
  SELECT qid, list_id FROM (
    SELECT d.qid, d.list_id,
           row_number() OVER (PARTITION BY d.qid
                              ORDER BY d.dot / n.cnorm DESC, d.list_id) AS rn
    FROM qdots d JOIN centn n USING (list_id)
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.qid, a.nid FROM probes p JOIN assigned a USING (list_id)
  WHERE p.qid <> a.nid
),
dots AS (
  SELECT qid, nid, {_COS_DOT.format(a='xq', b='xn')} AS dot
  FROM (SELECT cand.qid, cand.nid, unnest(q.qv) AS xq, unnest(c.nv) AS xn
        FROM cand JOIN q ON q.qid = cand.qid JOIN c ON c.nid = cand.nid)
  GROUP BY qid, nid
),
ranked AS (
  SELECT d.qid, d.nid, d.dot / (qn.qnorm * cn.nnorm) AS cosine,
         row_number() OVER (PARTITION BY d.qid
                            ORDER BY d.dot / (qn.qnorm * cn.nnorm) DESC, d.nid) AS rank
  FROM dots d JOIN qn ON d.qid = qn.qid JOIN cn ON d.nid = cn.nid
)
SELECT qid, nid, CAST(rank AS INT) AS rank, cosine FROM ranked WHERE rank <= 10
""",
    )
)


# --------------------------------------------------------------------------
# X2/X3: SemDeDup-shaped semantic near-dup — coarse-cluster the corpus
# with the seeded quantizer, exact cosine pairs WITHIN each cluster only
# (candidates Σ|list|² instead of n²; n_lists scales with the corpus).
# --------------------------------------------------------------------------

def _semantic_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.similarity import (
        semantic_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_near_dup_pairs(emb, n_lists=16, threshold=0.42)


_register(
    QuerySpec(
        name="semantic_near_dup_pairs",
        survey_ids=("X2", "X3"),
        description="SemDeDup-shaped pairs: seeded coarse clustering, "
        "exact fixed-point cosine >= 0.42 within each cluster only — "
        "clustering AND pair selection both oracle-checked",
        spark=_semantic_near_dup,
        oracle=f"""
WITH c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
cn AS (
  SELECT nid, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
  FROM (SELECT nid, unnest(nv) AS x FROM c) GROUP BY nid
),
cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1 AS list_id,
         nid AS cid, nv AS cv
  FROM c ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT 16
),
centn AS (SELECT cent.list_id, cn.nnorm AS cnorm FROM cent JOIN cn ON cn.nid = cent.cid),
adots AS (
  SELECT nid, list_id, {_COS_DOT.format(a='xn', b='xc')} AS dot
  FROM (SELECT c.nid, cent.list_id, unnest(c.nv) AS xn, unnest(cent.cv) AS xc
        FROM c CROSS JOIN cent)
  GROUP BY nid, list_id
),
assigned AS (
  SELECT nid, list_id FROM (
    SELECT a.nid, a.list_id,
           row_number() OVER (PARTITION BY a.nid
                              ORDER BY a.dot / n.cnorm DESC, a.list_id) AS rn
    FROM adots a JOIN centn n USING (list_id)
  ) WHERE rn = 1
),
pdots AS (
  SELECT list_id, id_a, id_b, {_COS_DOT.format(a='xa', b='xb')} AS dot
  FROM (SELECT a1.list_id, a1.nid AS id_a, a2.nid AS id_b,
               unnest(ca.nv) AS xa, unnest(cb.nv) AS xb
        FROM assigned a1
        JOIN assigned a2 ON a1.list_id = a2.list_id AND a1.nid < a2.nid
        JOIN c ca ON ca.nid = a1.nid
        JOIN c cb ON cb.nid = a2.nid)
  GROUP BY list_id, id_a, id_b
)
SELECT CAST(p.list_id AS BIGINT) AS list_id, p.id_a, p.id_b,
       p.dot / (na.nnorm * nb.nnorm) AS cosine
FROM pdots p
JOIN cn na ON na.nid = p.id_a
JOIN cn nb ON nb.nid = p.id_b
WHERE p.dot / (na.nnorm * nb.nnorm) >= 0.42
""",
    )
)


# --------------------------------------------------------------------------
# X2/X3: embedding-cosine near-duplicate pairs (exact, fp-deterministic)
# --------------------------------------------------------------------------

def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully distributed two-stage semantic-dedup pair scan — block-pair
    BLAS prefilter (recall 1, no driver collect / full-corpus broadcast)
    + exact fixed-point re-rank; see
    :func:`operators.similarity.near_dup_pairs` for the plan shape and
    the LSH-stage-1 tradeoff analysis."""
    from crypto_data_ingestion_module_spark.operators.similarity import (
        near_dup_pairs,
    )
    from crypto_data_ingestion_module_spark.session import configure

    configure(spark)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return near_dup_pairs(emb, threshold=0.42, stage1="block", block_rows=256)


_COS_DOT_ND = (
    "CAST(SUM(CAST(round(CAST({a} AS DOUBLE) * 1e6)"
    " * round(CAST({b} AS DOUBLE) * 1e6)"
    " AS DECIMAL(38,0))) AS DOUBLE) / 1e12"
)

_register(
    QuerySpec(
        name="embedding_near_dup_pairs",
        survey_ids=("X2", "X3"),
        description="embedding-cosine near-duplicate pairs (cosine ≥ 0.42, "
        "exact fixed-point dots) — the semantic-dedup decision set",
        spark=_embedding_near_dup,
        oracle=f"""
WITH norms AS (
  SELECT vec_id, sqrt({_COS_DOT_ND.format(a='x', b='x')}) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id
),
dots AS (
  SELECT a_id AS id_a, b_id AS id_b, {_COS_DOT_ND.format(a='xa', b='xb')} AS dot
  FROM (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  ) GROUP BY a_id, b_id
)
SELECT d.id_a, d.id_b, d.dot / (na.nrm * nb.nrm) AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE d.dot / (na.nrm * nb.nrm) >= 0.42
""",
    )
)


# --------------------------------------------------------------------------
# Curation: deterministic stratified sampling (reservoir-equivalent)
# --------------------------------------------------------------------------

def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sampling import (
        stratified_reservoir,
    )

    ev = _t(spark, sf_dir, "events")
    return stratified_reservoir(
        ev, stratum_cols=["event_type"], n_per_stratum=50, id_col="event_id"
    ).select("event_type", "event_id", "sample_rank")


_register(
    QuerySpec(
        name="stratified_sample_events",
        survey_ids=("X4",),
        description="deterministic stratified reservoir: exactly 50 events "
        "per event_type by seeded md5-of-id rank (layout-independent, "
        "reproducible across engines)",
        spark=_stratified_sample,
        oracle="""
SELECT event_type, event_id, sample_rank FROM (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR) || '#42'), event_id
         ) AS sample_rank
  FROM events
) WHERE sample_rank <= 50
""",
    )
)


# --------------------------------------------------------------------------
# Curation: inverted-index conjunctive search with BM25-lite ranking
# --------------------------------------------------------------------------

_SEARCH_TERMS = ("dup", "join")


def _conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.search import (
        conjunctive_bm25,
    )

    return conjunctive_bm25(_t(spark, sf_dir, "documents"), _SEARCH_TERMS)


def _search_oracle() -> str:
    from crypto_data_ingestion_module_spark.operators.search import (
        BM25_LITE_EXPR,
    )

    terms_sql = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    return f"""
WITH postings AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS t
        FROM documents)
  WHERE t IN ({terms_sql})
  GROUP BY doc_id, t
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
dl AS (SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS dl
       FROM documents),
stats AS (SELECT count(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          FROM dl)
SELECT doc_id,
       (CAST(SUM(CAST(round(t_score * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
        / 1000000.0) AS score
FROM (
  SELECT p.doc_id, {BM25_LITE_EXPR} AS t_score
  FROM postings p
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
)
GROUP BY doc_id
HAVING count(*) = {len(_SEARCH_TERMS)}
"""


_register(
    QuerySpec(
        name="conjunctive_search_bm25",
        survey_ids=("X4",),
        description="inverted-index conjunctive term search ('dup' AND "
        "'join') with BM25-lite scores (tf-saturation × rational idf, "
        "log-free for cross-engine bit parity)",
        spark=_conjunctive_search,
        oracle=_search_oracle(),
    )
)


# --------------------------------------------------------------------------
# X2: oracle-checkable SimHash (md5-based 60-bit) + exact-Hamming pairs.
# xxhash64's absence in DuckDB kept `simhash_fingerprints` rows-only; the
# md5-prefix variant makes both the fingerprints and the banded Hamming
# pair join fully oracle-paired (VERDICT r1 item 4).
# --------------------------------------------------------------------------

_SIMHASH60_FP_CTE = """
toks AS (SELECT doc_id,
                unnest(list_slice(regexp_extract_all(text, '[A-Za-z0-9]+'),
                                  1, 65535)) AS tok
         FROM documents),
hashed AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(tok),1,15)) AS BIGINT) AS th
           FROM toks),
votes AS (SELECT doc_id, count(*) AS n,
  {sums}
  FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id AS id, CAST({bits} AS BIGINT) AS simhash60 FROM votes)
""".format(
    sums=",\n  ".join(f"SUM((th >> {j}) & 1) AS c{j}" for j in range(60)),
    bits=" + ".join(
        f"(CASE WHEN 2*c{j} > n THEN {1 << j} ELSE 0 END)" for j in range(60)
    ),
)


def _simhash60_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow kernel path — bit-identical to the Column/SWAR twin
    # (simhash60_md5, parity-pinned in tests/test_vectorized_parity.py),
    # ~4× faster at sf0.1
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        simhash60_md5_kernel,
    )

    return simhash60_md5_kernel(_t(spark, sf_dir, "documents"))


_register(
    QuerySpec(
        name="simhash60_fingerprints",
        survey_ids=("X2",),
        description="oracle-checkable 60-bit SimHash (md5-prefix token "
        "hash, identical in both engines; Arrow hash-vote kernel, "
        "SWAR-vote Column twin parity-pinned)",
        spark=_simhash60_q,
        oracle=f"WITH {_SIMHASH60_FP_CTE} SELECT id, simhash60 FROM fp",
    )
)


def _simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        simhash_hamming_pairs,
    )

    return simhash_hamming_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


_register(
    QuerySpec(
        name="simhash_hamming_pairs",
        survey_ids=("X2",),
        description="SimHash near-dup pairs (Hamming ≤ 3) via pigeonhole "
        "banding (4 disjoint bands → recall 1) + exact bit_count recheck",
        spark=_simhash_pairs_q,
        oracle=f"""
WITH {_SIMHASH60_FP_CTE}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash60, b.simhash60)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
""",
    )
)


# --------------------------------------------------------------------------
# X2: connected-components dedup clustering — pair lists are edges; the
# actual dedup decision needs the transitive closure (A-B, B-C => one
# group).  Oracle: DuckDB recursive CTE computing min-reachable-id per
# document over the same SimHash Hamming pairs.
# --------------------------------------------------------------------------


def _dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.graph import (
        assign_clusters,
    )
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        simhash_hamming_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return assign_clusters(docs, simhash_hamming_pairs(docs, max_hamming=3))


_register(
    QuerySpec(
        name="dedup_clusters",
        survey_ids=("X2",),
        description="transitive-closure dedup clusters over SimHash "
        "Hamming pairs (iterative min-label propagation; min-id "
        "representative per component, singletons self-labeled)",
        spark=_dedup_clusters_q,
        oracle=f"""
WITH RECURSIVE {_SIMHASH60_FP_CTE},
prs AS (
  SELECT a.id AS ida, b.id AS idb
  FROM fp a JOIN fp b ON a.id < b.id
  WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
),
edges AS (
  SELECT ida AS a, idb AS b FROM prs
  UNION
  SELECT idb AS a, ida AS b FROM prs
),
reach(id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b
)
SELECT id AS doc_id,
       CAST(min(lab) AS BIGINT) AS cluster_id,
       (min(lab) = id) AS is_rep
FROM reach GROUP BY id
""",
    )
)


# --------------------------------------------------------------------------
# X4: PII redaction.  The corpus is synthetic word-salad with no real
# PII, so the query injects a deterministic contact line per document in
# BOTH engines, then redacts — proving the masking actually fires (the
# counts say so) and replaces identically.
# --------------------------------------------------------------------------


def _pii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" call +1 555 0100"),
    )
    n_emails, n_ips, n_phones = TX.pii_counts(injected)
    return d.select(
        "doc_id",
        TX.pii_redact(injected).alias("redacted"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
    )


_PII_INJECTED = (
    "text || ' contact doc' || CAST(doc_id AS VARCHAR) || "
    "'@example.com from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "' call +1 555 0100'"
)

_register(
    QuerySpec(
        name="pii_redaction",
        survey_ids=("X4",),
        description="PII masking (emails, IPv4, intl phone numbers) with "
        "typed placeholders + per-doc detection counts",
        spark=_pii_q,
        oracle=f"""
WITH inj AS (SELECT doc_id, {_PII_INJECTED} AS t FROM documents)
SELECT doc_id,
  {TX.oracle_pii_redact_sql('t')} AS redacted,
  CAST(len(regexp_extract_all(t, '{TX.EMAIL_PATTERN}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{TX.IPV4_PATTERN}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(t, '{TX.PHONE_PATTERN}')) AS BIGINT) AS n_phones
FROM inj
""",
    )
)


# --------------------------------------------------------------------------
# X4: repetition ratios (Gopher-style quality signals): duplicate-word
# fraction and most-frequent-token share.  Integer counts → one double
# division at the end, so values are bit-identical across engines.
# --------------------------------------------------------------------------


def _repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    per_tok = (
        d.select("doc_id", F.explode(TX.words("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("cnt").alias("top_count"),
    )
    total = F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    return agg.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        (F.lit(1.0) - F.col("n_distinct_words").cast("double") / total).alias(
            "dup_word_frac"
        ),
        (F.col("top_count").cast("double") / total).alias("top_token_frac"),
    )


_register(
    QuerySpec(
        name="repetition_stats",
        survey_ids=("X4",),
        description="per-doc repetition quality signals: duplicate-word "
        "fraction and top-token share (two map-side-combined aggregates)",
        spark=_repetition_q,
        oracle="""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS tok
  FROM documents
),
pt AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok)
SELECT doc_id,
  CAST(sum(cnt) AS BIGINT) AS n_words,
  CAST(count(*) AS BIGINT) AS n_distinct_words,
  1.0 - CAST(count(*) AS DOUBLE)
      / CAST(greatest(CAST(sum(cnt) AS BIGINT), 1) AS DOUBLE) AS dup_word_frac,
  CAST(max(cnt) AS DOUBLE)
      / CAST(greatest(CAST(sum(cnt) AS BIGINT), 1) AS DOUBLE) AS top_token_frac
FROM pt GROUP BY doc_id
""",
    )
)


# --------------------------------------------------------------------------
# X3+X4: hybrid retrieval — lexical candidates (conjunctive BM25) cosine
# re-ranked against one query embedding.  Only the lexically-matched
# candidates pay the dense-vector work.
# --------------------------------------------------------------------------


def _hybrid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.search import (
        hybrid_rerank,
    )

    return hybrid_rerank(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        _SEARCH_TERMS,
        query_vec_id=0,
        k=20,
    )


def _hybrid_oracle() -> str:
    from crypto_data_ingestion_module_spark.operators.search import (
        BM25_LITE_EXPR,
    )

    terms_sql = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    return f"""
WITH postings AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS t
        FROM documents)
  WHERE t IN ({terms_sql})
  GROUP BY doc_id, t
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
dl AS (SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS dl
       FROM documents),
stats AS (SELECT count(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          FROM dl),
bm25 AS (
  SELECT doc_id,
         (CAST(SUM(CAST(round(t_score * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
          / 1000000.0) AS bm25
  FROM (
    SELECT p.doc_id, {BM25_LITE_EXPR} AS t_score
    FROM postings p
    JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  ) GROUP BY doc_id HAVING count(*) = {len(_SEARCH_TERMS)}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT b.doc_id, b.bm25, e.embedding AS nv
  FROM bm25 b JOIN embeddings e ON e.vec_id = b.doc_id
),
qn AS (SELECT sqrt({_COS_DOT.format(a='x', b='x')}) AS qnorm
       FROM (SELECT unnest(qv) AS x FROM q)),
cn AS (SELECT doc_id, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
       FROM (SELECT doc_id, unnest(nv) AS x FROM cand) GROUP BY doc_id),
dots AS (
  SELECT doc_id, {_COS_DOT.format(a='xq', b='xn')} AS dot
  FROM (SELECT c.doc_id, unnest(q.qv) AS xq, unnest(c.nv) AS xn
        FROM cand c CROSS JOIN q)
  GROUP BY doc_id
),
ranked AS (
  SELECT c2.doc_id, c2.bm25, d.dot / (qn.qnorm * cn.nnorm) AS cosine,
         row_number() OVER (
           ORDER BY d.dot / (qn.qnorm * cn.nnorm) DESC, c2.doc_id
         ) AS rank
  FROM cand c2
  JOIN dots d ON d.doc_id = c2.doc_id
  JOIN cn ON cn.doc_id = c2.doc_id
  CROSS JOIN qn
)
SELECT doc_id, bm25, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 20
"""


_register(
    QuerySpec(
        name="hybrid_search_rerank",
        survey_ids=("X3", "X4"),
        description="hybrid retrieval: conjunctive BM25 candidates cosine "
        "re-ranked against a query embedding (fixed-point scores both "
        "stages)",
        spark=_hybrid_q,
        oracle=_hybrid_oracle(),
    )
)


# --------------------------------------------------------------------------
# X4: token-budget sequence packing — assign documents to fixed-budget
# training packs by cumulative token offset within each language stratum.
# r13 upgrade: through r12 this ran ONE WINDOW PER STRATUM (single task
# per language — the whole-stratum window is exactly the 100 TB
# bottleneck the docstring used to wave at "per-shard packing").  It now
# runs the DISTRIBUTED PREFIX SUM (operators/packing.py: range
# partition -> per-partition window bounded by partition size ->
# bounded carry table broadcast back), bit-identical for any partition
# count.  Output contract and oracle unchanged.
# --------------------------------------------------------------------------

_PACK_BUDGET = 512


def _pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.packing import (
        pack_sequences,
    )

    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", TX.word_count("text").alias("n_tokens"))
    out = pack_sequences(
        t, _PACK_BUDGET, "n_tokens", order_cols=["doc_id"], strata_cols=["lang"]
    )
    return out.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.col("start_pos").alias("start_offset"),
        F.col("bin_id").alias("pack_id"),
    )


_register(
    QuerySpec(
        name="pack_sequences",
        survey_ids=("X4",),
        description=f"token-budget sequence packing: cumulative-offset "
        f"pack ids ({_PACK_BUDGET}-token budget) per language stratum",
        spark=_pack_q,
        oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / {_PACK_BUDGET}.0) AS BIGINT)
         AS pack_id
FROM c
""",
    )
)


# --------------------------------------------------------------------------
# X1+X2+X4 flagship composition: the curated training corpus — quality
# gate AND exact-dedup representative AND near-dup cluster representative.
# Gates are evaluated over the full corpus (cluster ids stay stable under
# threshold changes); each piece is the already-oracle-checked operator.
# --------------------------------------------------------------------------

_QUALITY_MIN = 0.5

# Cluster-lake cache key: bump when the pair generator or CC semantics
# change, or stale materializations would silently serve wrong clusters.
_CLUSTER_LAKE_VERSION = "v1-simhash60-h3"


_ARTIFACTS_ROOT = "/tmp/spark_graft_artifacts"


def _artifact_lake_root(sf_dir: str, family: str, version: str) -> str:
    """STABLE snapshot-lake root for a materialized serving artifact
    (cluster lake, BPE segment table): family + semantics version +
    sf_dir name.  The data fingerprint is NOT in the path — it is the
    refresh's ``applied_id``, so regenerating testdata in place commits
    one overwrite into the same lake (old files vacuumed) instead of
    stranding a sibling directory forever."""
    import os

    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_ARTIFACTS_ROOT, family, version, base)


def _data_fingerprint(sf_dir: str) -> str:
    """Cheap identity of the source corpus (documents parquet
    size+mtime): the applied_id of an artifact refresh."""
    import os

    doc = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(doc)
        return f"{st.st_size}-{st.st_mtime_ns}"
    except OSError:
        return "nostat"


def _serve_artifact(
    spark: SparkSession, sf_dir: str, family: str, version: str, build_fn
) -> DataFrame:
    """Serve a derived artifact table from the repo's own snapshot lake.

    Replaces the former bespoke ``/tmp`` + atomic-rename protocol
    (VERDICT r6 item 4): the lake already provides atomic publication,
    reader isolation, a version log for refresh history, and a
    stress-tested concurrent-commit race.  The refresh is one
    ``snapshot_overwrite`` keyed by the data fingerprint as
    ``applied_id`` — a replayed build commits nothing, concurrent
    builders collapse onto one winner, and a regeneration of the source
    data triggers exactly one overwrite whose predecessor files
    ``vacuum`` then collects (``sinks.snapshot.snapshot_refresh``).
    Stale sibling SEMANTIC versions of the same family are pruned on
    publish."""
    import os
    import shutil

    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        read_snapshot,
        snapshot_refresh,
        vacuum,
    )

    root = _artifact_lake_root(sf_dir, family, version)
    ver, rebuilt = snapshot_refresh(
        spark,
        root,
        _data_fingerprint(sf_dir),
        lambda: build_fn().withColumn("shard", F.lit("all")),
        ("shard",),
    )
    if not rebuilt:
        return read_snapshot(spark, root, ver).drop("shard")
    vacuum(spark, root, keep=2)
    # Sibling SEMANTIC versions (older _CLUSTER_LAKE_VERSION-style dirs
    # of the same family) are pruned with a one-generation DEFERRAL
    # (VERDICT r8 item 6): in-lake readers are isolated by the version
    # manifest, but cross-VERSION pruning bypasses that isolation, so
    # an immediate rmtree could yank files from under a concurrent
    # reader still probing the old semantics.  First refresh that sees
    # a sibling only marks it; the NEXT refresh deletes it — any reader
    # that started before the mark has a full refresh generation to
    # finish.
    fam_dir = os.path.join(_ARTIFACTS_ROOT, family)
    try:
        for sibling in os.listdir(fam_dir):
            if sibling == version:
                continue
            sib_path = os.path.join(fam_dir, sibling)
            marker = os.path.join(sib_path, "_prune_pending")
            if os.path.exists(marker):
                shutil.rmtree(sib_path, ignore_errors=True)
            else:
                try:
                    with open(marker, "w") as mh:
                        mh.write(f"superseded-by={version}\n")
                except OSError:
                    pass
    except OSError:
        pass
    return read_snapshot(spark, root, ver).drop("shard")


def _curated_q_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pedagogical twin: recompute the transitive closure inline.

    One oracle-checkable expression over raw tables; pinned equal to the
    lake path by tests/test_curation_lake.py.  Not the measured query —
    at 100 TB nobody re-runs CC per consumer query.
    """
    from crypto_data_ingestion_module_spark.operators.graph import (
        assign_clusters,
    )
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        simhash_hamming_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    exact_reps = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    cluster_reps = assign_clusters(d, simhash_hamming_pairs(d)).filter(
        "is_rep"
    )
    return (
        d.join(exact_reps.select("doc_id"), "doc_id", "semi")
        .join(cluster_reps.select("doc_id"), "doc_id", "semi")
        .select(
            "doc_id",
            "lang",
            TX.word_count("text").alias("n_tokens"),
            TX.quality_score("text").alias("quality"),
        )
        .filter(F.col("quality") >= _QUALITY_MIN)
    )


def _curated_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured/checked query: consume the MATERIALIZED cluster lake.

    The 100 TB shape (operators/curation.py): connected components runs
    once in the refresh pipeline; every consumer query is a corpus scan
    plus two semi-joins, one against the thin (doc_id, cluster_id,
    is_rep) table.  The table lives in the repo's snapshot lake, built
    on first access per sf_dir — refresh cost lands in the pipeline (or
    bench warmup), not in the per-query path.  Oracle unchanged:
    identical output to the inline twin.
    """
    from crypto_data_ingestion_module_spark.operators.curation import (
        curated_corpus,
    )
    from crypto_data_ingestion_module_spark.operators.graph import (
        assign_clusters,
    )
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        simhash_hamming_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    clusters = _serve_artifact(
        spark,
        sf_dir,
        "cluster_lake",
        _CLUSTER_LAKE_VERSION,
        lambda: assign_clusters(d, simhash_hamming_pairs(d)),
    )
    return curated_corpus(d, clusters, quality_min=_QUALITY_MIN)


_register(
    QuerySpec(
        name="curated_corpus",
        survey_ids=("X1", "X2", "X4"),
        description="end-to-end curation: quality >= 0.5 AND exact-dedup "
        "representative AND SimHash near-dup cluster representative",
        spark=_curated_q,
        oracle=f"""
WITH RECURSIVE {_SIMHASH60_FP_CTE},
prs AS (
  SELECT a.id AS ida, b.id AS idb
  FROM fp a JOIN fp b ON a.id < b.id
  WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
),
edges AS (
  SELECT ida AS a, idb AS b FROM prs
  UNION
  SELECT idb AS a, ida AS b FROM prs
),
reach(id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b
),
cluster_reps AS (
  SELECT id AS doc_id FROM reach GROUP BY id HAVING min(lab) = id
),
exact_reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
SELECT * FROM (
  SELECT d.doc_id, d.lang,
         CAST(len(regexp_extract_all(d.text, '[A-Za-z0-9]+')) AS BIGINT)
           AS n_tokens,
         {TX.oracle_quality_sql('d.text')} AS quality
  FROM documents d
  JOIN cluster_reps USING (doc_id)
  JOIN exact_reps USING (doc_id)
) WHERE quality >= {_QUALITY_MIN}
""",
    )
)


# --------------------------------------------------------------------------
# X1+X2+X4+T2 streaming CURATION, oracle-paired (r15, VERDICT r14
# item 3): the largest streaming composition still pytest-only after
# r14 (streaming/curate_stream.py) gets a driver receipt.  Documents
# arrive as an availableNow multi-batch drain; each micro-batch pays
# the stateless quality gate plus an incremental SimHash band-index
# probe (pairs vs the accumulated index, O(batch + collisions)); the
# settle step (settle_curated) then elects exact and near-dup cluster
# representatives ONCE from the accumulated lakes.
# Why this is hash-checkable: the per-batch pair log accumulates
# exactly the from-scratch pair SET over everything ingested (band
# collision is a pure pairwise predicate of two fingerprints — recall
# 1 stays recall 1 incrementally), and every settle stage (min-id per
# text, CC min-label, quality predicate) is a deterministic function
# of the full document set — so the final curated table is
# batch-split-INDEPENDENT and equals the one-shot composition.
# Semantics note (deliberate): the quality
# gate runs BEFORE fingerprinting, so near-dup pairs are found among
# quality survivors — unlike curated_corpus, which clusters the full
# corpus and gates quality last.  The oracle below encodes the
# gate-first order; both compositions stay on the board (the family
# heads carry each other's cost axes).  Decontamination (a stateless
# per-batch filter, oracle-receipted by decontaminate_docs) is off
# here to keep the row's axis the stateful curation machinery.
# Crash-replay idempotence (skipped by the manifest ledger) and
# the decontaminated settle equality stay pytest-pinned
# (tests/test_curate_stream).
# 100 TB shape: per batch the band probe equi-joins the batch's rows
# against the index on (band, bv) — never all-pairs, never a corpus
# rescan; the settle reads the docs lake once plus the pair LOG
# (edges, not the corpus) for CC.
# --------------------------------------------------------------------------

def _staged_doc_thirds(spark: SparkSession, sf_dir: str) -> str:
    """The documents as three id-striped files, one micro-batch each
    under maxFilesPerTrigger=1, shared by every row that drains them.
    The split is arbitrary by design: those rows claim batch-split
    independence."""
    docs = _t(spark, sf_dir, "documents")
    return staged(
        "docs",
        sf_dir,
        lambda: [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)],
    )


def _stream_curated_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from crypto_data_ingestion_module_spark.streaming.curate_stream import (
        settle_curated,
        stream_curate_ingest,
    )

    docs = _t(spark, sf_dir, "documents")
    inp = _staged_doc_thirds(spark, sf_dir)
    scratch = run_dir("curate")
    lake = os.path.join(scratch, "lake")
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = stream_curate_ingest(
        src,
        benchmark=None,
        lake_root=lake,
        checkpoint=os.path.join(scratch, "ck"),
        quality_min=_QUALITY_MIN,
        max_hamming=3,
    )
    q.awaitTermination()
    return settle_curated(spark, lake).select(
        "doc_id",
        "lang",
        TX.word_count("text").alias("n_tokens"),
        TX.quality_score("text").alias("quality"),
    )


_register(
    QuerySpec(
        name="stream_curated_corpus",
        survey_ids=("X1", "X2", "X4", "T2"),
        description="streaming curation: quality gate + incremental "
        "SimHash band-index pair log per availableNow micro-batch, "
        "then a one-shot settle electing exact-dedup and near-dup "
        "cluster representatives from the accumulated lakes; "
        "batch-split-independent and equal to the one-shot gate-first "
        "composition",
        spark=_stream_curated_q,
        oracle=f"""
WITH RECURSIVE {_SIMHASH60_FP_CTE},
q AS (
  SELECT doc_id, lang, text,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
           AS n_tokens,
         {TX.oracle_quality_sql('text')} AS quality
  FROM documents
  WHERE {TX.oracle_quality_sql('text')} >= {_QUALITY_MIN}
),
exact_reps AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
surv AS (SELECT q.* FROM q JOIN exact_reps USING (doc_id)),
prs AS (
  SELECT a.id AS ida, b.id AS idb
  FROM fp a
  JOIN fp b ON a.id < b.id
  JOIN surv sa ON sa.doc_id = a.id
  JOIN surv sb ON sb.doc_id = b.id
  WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
),
edges AS (
  SELECT ida AS a, idb AS b FROM prs
  UNION
  SELECT idb AS a, ida AS b FROM prs
),
reach(id, lab) AS (
  SELECT doc_id, doc_id FROM surv
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b
),
cluster_reps AS (
  SELECT id AS doc_id FROM reach GROUP BY id HAVING min(lab) = id
)
SELECT s.doc_id, s.lang, s.n_tokens, s.quality
FROM surv s JOIN cluster_reps USING (doc_id)
""",
    )
)


# --------------------------------------------------------------------------
# Candle-lake analytics: returns/moving averages, grid-gap detection, and
# per-day completeness over the A1-resampled 15m candles — the monitoring
# queries the reference's backfill exists to serve (gap filling,
# crypto_collector.py:563-585) but never itself provides.
# --------------------------------------------------------------------------


def _candles_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.plans.queries import _flagship

    return _flagship(spark, sf_dir, 900_000)


def _candles_15m_cte() -> str:
    from crypto_data_ingestion_module_spark.plans.queries import (
        _flagship_oracle,
    )

    return f"candles AS ({_flagship_oracle(900_000)})"


#: shared micro-unit windowed mean text — identical op order both engines
_MA_WIN = (
    "PARTITION BY event_type ORDER BY bucket_ts "
    "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW"
)


def _returns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.streaming.analytics import (
        returns_ma_batch,
    )

    return returns_ma_batch(
        _candles_15m(spark, sf_dir),
        n=4,
        key_col="event_type",
        ts_col="bucket_ts",
        close_col="close",
    )


_register(
    QuerySpec(
        name="candle_returns_ma",
        survey_ids=("A1", "D1"),
        description="per-interval simple returns (lag) and 4-bucket "
        "moving average (micro-unit fixed-point mean) over 15m candles",
        spark=_returns_q,
        oracle=f"""
WITH {_candles_15m_cte()}
SELECT bucket_ts, event_type, close,
  close / nullif(lag(close) OVER (PARTITION BY event_type ORDER BY bucket_ts),
                 0.0) - 1.0 AS ret,
  (CAST(SUM(CAST(round(close * 1000000.0) AS DECIMAL(38,0)))
        OVER ({_MA_WIN}) AS DOUBLE) / 1000000.0)
    / CAST(count(*) OVER ({_MA_WIN}) AS DOUBLE) AS ma4
FROM candles
""",
    )
)


def _gaps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = _candles_15m(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    prev = F.lag("bucket_ts").over(w)
    gap_ms = F.unix_millis(F.col("bucket_ts")) - F.unix_millis(prev)
    return (
        c.select("event_type", "bucket_ts", prev.alias("gap_start"), gap_ms.alias("gap_ms"))
        .filter(F.col("gap_ms") > 900_000)
        .select(
            "event_type",
            "gap_start",
            F.col("bucket_ts").alias("gap_end"),
            # grid-aligned buckets: gap_ms is an exact multiple of 900000
            (
                F.floor(F.col("gap_ms").cast("double") / 900_000.0).cast("long")
                - F.lit(1)
            ).alias("missing_candles"),
        )
    )


_register(
    QuerySpec(
        name="candle_gaps",
        survey_ids=("A1", "T1"),
        description="grid-gap detection on 15m candles: consecutive-bucket "
        "lag per series, gaps = missing backfill chunks",
        spark=_gaps_q,
        oracle=f"""
WITH {_candles_15m_cte()},
g AS (
  SELECT event_type, bucket_ts,
         lag(bucket_ts) OVER (PARTITION BY event_type ORDER BY bucket_ts)
           AS gap_start,
         epoch_ms(bucket_ts)
           - epoch_ms(lag(bucket_ts) OVER (PARTITION BY event_type ORDER BY bucket_ts))
           AS gap_ms
  FROM candles
)
SELECT event_type, gap_start, bucket_ts AS gap_end,
       CAST(floor(CAST(gap_ms AS DOUBLE) / 900000.0) AS BIGINT) - 1
         AS missing_candles
FROM g WHERE gap_ms > 900000
""",
    )
)


def _completeness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _candles_15m(spark, sf_dir)
    return (
        c.groupBy(
            "event_type",
            F.date_format("bucket_ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_candles"))
        .select(
            "event_type",
            "day",
            "n_candles",
            (F.col("n_candles").cast("double") / F.lit(96.0)).alias(
                "completeness"
            ),
        )
    )


_register(
    QuerySpec(
        name="interval_completeness",
        survey_ids=("A1", "A3"),
        description="per-day candle completeness ratio vs the 96-bucket "
        "15m grid (the reference's gap-monitoring blind spot)",
        spark=_completeness_q,
        oracle=f"""
WITH {_candles_15m_cte()}
SELECT event_type, strftime(bucket_ts, '%Y-%m-%d') AS day,
       count(*) AS n_candles,
       CAST(count(*) AS DOUBLE) / 96.0 AS completeness
FROM candles
GROUP BY event_type, day
""",
    )
)


# --------------------------------------------------------------------------
# LLM training-data prep: context-window chunking and corpus vocabulary.
# Chunking is the step between curation and tokenization in a pretraining
# pipeline (split each document into overlapping context windows); the
# vocabulary profile (tf/df per term) is the standard corpus health check
# before training a tokenizer.
# --------------------------------------------------------------------------

#: chunk geometry: 32-token windows, stride 24 (8-token overlap).
_CHUNK, _STRIDE = 32, 24


def _chunk_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks, entirely in codegen'd built-ins:
    regexp tokenize -> F.sequence of window starts -> explode -> F.slice.
    One narrow pass, no shuffle at all — at 100 TB this is a map-only job
    whose output is written partition-local (explode preserves the input
    partitioning; nothing here requires co-location).
    """
    d = _t(spark, sf_dir, "documents")
    toks = TX.words("text")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - F.lit(1), F.lit(0)), F.lit(_STRIDE)
    )
    return (
        d.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            "doc_id",
            "chunk_start",
            F.slice(F.col("toks"), F.col("chunk_start") + 1, _CHUNK).alias(
                "chunk_toks"
            ),
        )
        .select(
            "doc_id",
            "chunk_start",
            F.size("chunk_toks").cast("long").alias("n_chunk_tokens"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
        )
        .filter(F.col("n_chunk_tokens") > 0)
    )


_register(
    QuerySpec(
        name="chunk_documents",
        survey_ids=("X4", "X1"),
        description="overlapping 32-token context-window chunks "
        f"(stride {_STRIDE}) per document — the pretraining chunking step",
        spark=_chunk_docs_q,
        oracle=f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS toks
  FROM documents
),
st AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(len(toks) - 1, 0), {_STRIDE}))
           AS chunk_start
  FROM tok
),
ch AS (
  SELECT doc_id, chunk_start,
         list_slice(toks, chunk_start + 1, chunk_start + {_CHUNK}) AS chunk_toks
  FROM st
)
SELECT doc_id, chunk_start,
       CAST(len(chunk_toks) AS BIGINT) AS n_chunk_tokens,
       array_to_string(chunk_toks, ' ') AS chunk_text
FROM ch WHERE len(chunk_toks) > 0
""",
    )
)


def _vocab_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: term frequency, document frequency, and
    df-ratio per lowercased word token.

    Scale shape: explode -> hash agg on term (map-side partial combine
    collapses the per-partition duplicates before the shuffle, so the
    shuffle carries ~|vocab| x partitions rows, not |tokens|).  The
    corpus-size divisor is a single-row broadcast cross join — the same
    scalar-subquery pattern as plans.relational (promo_revenue_share).
    """
    d = _t(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    terms = d.select(
        "doc_id", F.explode(TX.words(F.lower(F.col("text")))).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "tf",
            "df",
            (F.col("df").cast("double") / F.col("_n_docs")).alias("df_ratio"),
        )
    )


_register(
    QuerySpec(
        name="vocab_stats",
        survey_ids=("X4", "A2"),
        description="corpus vocabulary profile: tf, df, df-ratio per "
        "lowercased word token (tokenizer-training health check)",
        spark=_vocab_stats_q,
        oracle="""
WITH t AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9]+'))
           AS term
  FROM documents
)
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df,
       CAST(count(DISTINCT doc_id) AS DOUBLE)
         / (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS df_ratio
FROM t GROUP BY term
""",
    )
)


# --------------------------------------------------------------------------
# X3 on the time axis: subsequence similarity search — rank every
# length-k sliding window of the per-type event stream by squared
# distance to a literal query pattern (UCR-style subsequence scan).
# --------------------------------------------------------------------------

_PATTERN = (120.5, 130.25, 99.75, 250.0, 180.125, 75.5, 310.0, 42.625)


def _pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.patterns import (
        pattern_topk_windows,
    )

    return pattern_topk_windows(_t(spark, sf_dir, "events"), _PATTERN)


_register(
    QuerySpec(
        name="pattern_topk_windows",
        survey_ids=("X3",),
        description="time-series subsequence search: top-20 length-8 "
        "sliding windows per event stream by squared distance to a "
        "literal pattern (milli-unit fixed point, total window order)",
        spark=_pattern_topk,
        oracle="""
WITH e AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
),
p(off, pv) AS (VALUES {vals}),
win AS (
  SELECT a.event_type, a.rn AS start_rn,
         SUM((round(b.value * 1000.0) - round(CAST(pv AS DOUBLE) * 1000.0))
             * (round(b.value * 1000.0) - round(CAST(pv AS DOUBLE) * 1000.0)))
           / 1e6 AS dist,
         count(*) AS n
  FROM e a
  CROSS JOIN p
  JOIN e b ON b.event_type = a.event_type AND b.rn = a.rn + p.off
  GROUP BY a.event_type, a.rn
  HAVING count(*) = {k}
)
SELECT event_type, CAST(start_rn AS BIGINT) AS start_rn, dist
FROM win
ORDER BY dist, event_type, start_rn
LIMIT 20
""".format(
            vals=", ".join(
                f"({i}, {v})" for i, v in enumerate(_PATTERN)
            ),
            k=len(_PATTERN),
        ),
    )
)


# --------------------------------------------------------------------------
# X3/X5: distributed Lloyd's k-means — the trainer itself as a hash-checked
# DataFrame program (operators/clustering.py).  k=8, 2 Lloyd rounds from
# the md5-seeded init the IVF stack shares; every corpus row comes back
# with its final cluster and exact squared distance.
# --------------------------------------------------------------------------

def _embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.clustering import (
        kmeans_lloyd,
    )

    return kmeans_lloyd(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def _kmeans_oracle(k: int, iters: int) -> str:
    """Generate the iteration CTE chain (assignment + centroid update per
    Lloyd round) — the SQL twin of the kmeans_lloyd loop."""
    parts = [
        """WITH pts AS (
  SELECT vec_id AS nid,
         list_transform(embedding,
                        x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS xu
  FROM embeddings
),
cent0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1
           AS cluster,
         xu AS cu
  FROM pts ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT {k}
)""".format(k=k)
    ]
    d2 = "CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,0))) AS DOUBLE)"
    for i in range(iters):
        parts.append(
            """d{i} AS (
  SELECT nid, cluster, {d2} AS d2
  FROM (SELECT p.nid, c_.cluster, unnest(p.xu) AS x, unnest(c_.cu) AS c
        FROM pts p CROSS JOIN cent{i} c_)
  GROUP BY nid, cluster
),
a{i} AS (
  SELECT nid, cluster FROM (
    SELECT nid, cluster,
           row_number() OVER (PARTITION BY nid ORDER BY d2, cluster) AS rn
    FROM d{i}) WHERE rn = 1
),
cent{j} AS (
  SELECT cluster, list(m ORDER BY pos) AS cu FROM (
    SELECT a.cluster, e.pos,
           round(CAST(SUM(CAST(e.x AS DECIMAL(38,0))) AS DOUBLE)
                 / count(*)) AS m
    FROM (SELECT nid, unnest(xu) AS x, generate_subscripts(xu, 1) AS pos
          FROM pts) e
    JOIN a{i} a ON a.nid = e.nid
    GROUP BY a.cluster, e.pos
  ) GROUP BY cluster
)""".format(i=i, j=i + 1, d2=d2)
        )
    parts.append(
        """dF AS (
  SELECT nid, cluster, {d2} AS d2
  FROM (SELECT p.nid, c_.cluster, unnest(p.xu) AS x, unnest(c_.cu) AS c
        FROM pts p CROSS JOIN cent{T} c_)
  GROUP BY nid, cluster
)
SELECT nid AS vec_id, cluster, d2 / 1e12 AS dist2 FROM (
  SELECT nid, cluster, d2,
         row_number() OVER (PARTITION BY nid ORDER BY d2, cluster) AS rn
  FROM dF) WHERE rn = 1""".format(T=iters, d2=d2)
    )
    return ",\n".join(parts)


_register(
    QuerySpec(
        name="embedding_kmeans",
        survey_ids=("X3", "X5"),
        description="distributed Lloyd's k-means (k=8, 2 rounds, "
        "md5-seeded init): per-row final cluster + exact squared "
        "distance; fixed-point folds make every iteration hash-exact",
        spark=_embedding_kmeans,
        oracle=_kmeans_oracle(8, 2),
    )
)


# --------------------------------------------------------------------------
# X2: fuzzy key matching via deletion neighborhoods — edit-distance <= 1
# pairs without an all-pairs comparison.  Every key emits its identity and
# all single-deletion variants (k+1 rows); any two keys within one edit
# SHARE a variant (substitution: delete the differing slot from both;
# indel: the shorter IS a deletion of the longer), so a variant equi-join
# finds every true pair (recall 1) and an exact levenshtein filter removes
# the few collision false-positives.  The oracle brute-forces the same
# predicate — candidate generation itself is what scales.
# --------------------------------------------------------------------------

def _fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id", F.substring("text", 1, 16).alias("key")
        )
        .filter(F.length("key") > 0)
    )
    variants = docs.select(
        "doc_id",
        "key",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.length("key")),
                lambda i: F.concat(
                    F.substring(F.col("key"), 1, i),
                    F.col("key").substr(i + 2, F.length("key")),
                ),
            )
        ).alias("variant"),
    ).distinct()
    a = variants.select(
        F.col("doc_id").alias("id_a"),
        F.col("key").alias("key_a"),
        "variant",
    )
    b = variants.select(
        F.col("doc_id").alias("id_b"),
        F.col("key").alias("key_b"),
        "variant",
    )
    return (
        a.join(b, "variant")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "key_a", "key_b")
        .distinct()
        .withColumn("lev", F.levenshtein("key_a", "key_b"))
        .filter(F.col("lev") <= 1)
    )


_register(
    QuerySpec(
        name="fuzzy_key_pairs",
        survey_ids=("X2",),
        description="edit-distance <= 1 key pairs via deletion-"
        "neighborhood banding (variant equi-join, recall 1 by "
        "construction, exact levenshtein verify)",
        spark=_fuzzy_pairs,
        oracle="""
WITH k AS (
  SELECT doc_id, substr(text, 1, 16) AS key
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       a.key AS key_a, b.key AS key_b,
       levenshtein(a.key, b.key) AS lev
FROM k a JOIN k b
  ON a.doc_id < b.doc_id
 AND abs(length(a.key) - length(b.key)) <= 1
 AND levenshtein(a.key, b.key) <= 1
""",
    )
)


# --------------------------------------------------------------------------
# X3: product-quantization ADC top-k — the 32x-compressed ANN tier
# (operators/pq.py).  Seeded codebooks make encode + LUT + ADC fully
# relational, so the oracle hash-checks the whole index, byte codes
# included (the IVF/LSH pattern applied to PQ).
# --------------------------------------------------------------------------

def _pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.pq import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_adc_topk(emb, queries, m=8, k_codes=16, topk=10)


def _pq_oracle(m: int, k: int, sub: int, topk: int) -> str:
    zd2 = (
        "list_sum(list_transform(list_zip(sv, cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
WITH pts AS (
  SELECT vec_id AS nid,
         list_transform(embedding,
                        x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS xu
  FROM embeddings
),
js AS (SELECT unnest(range({m})) AS j),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1
           AS code, xu
  FROM pts ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT {k}
),
cb AS (
  SELECT code, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS cv
  FROM seeds CROSS JOIN js
),
sv AS (
  SELECT nid, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS sv
  FROM pts CROSS JOIN js
),
codes AS (
  SELECT nid, j, code FROM (
    SELECT s.nid, s.j, cb.code,
           row_number() OVER (PARTITION BY s.nid, s.j
                              ORDER BY {zd2}, cb.code) AS rn
    FROM sv s JOIN cb ON s.j = cb.j
  ) WHERE rn = 1
),
qsv AS (
  SELECT nid AS qid, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS sv
  FROM pts CROSS JOIN js WHERE nid % 100 = 0
),
lut AS (
  SELECT q.qid, q.j, cb.code, {zd2} AS d2q
  FROM qsv q JOIN cb ON q.j = cb.j
),
adc AS (
  SELECT l.qid, c.nid, SUM(l.d2q) AS adc
  FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
  WHERE l.qid <> c.nid
  GROUP BY l.qid, c.nid
  HAVING count(*) = {m}
)
SELECT qid, nid, CAST(rank AS INT) AS rank, adc / 1e12 AS adc_d2 FROM (
  SELECT qid, nid, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
  FROM adc
) WHERE rank <= {topk}
"""


_register(
    QuerySpec(
        name="pq_adc_topk",
        survey_ids=("X3",),
        description="product-quantization ADC top-10 (m=8 subspaces, 16 "
        "seeded codewords each): encode, query LUT, and table-lookup "
        "distances all hash-checked; exact integer distances throughout",
        spark=_pq_adc,
        oracle=_pq_oracle(8, 16, 8, 10),
    )
)


# --------------------------------------------------------------------------
# X3: IVF-PQ — the billion-scale composition: seeded coarse quantizer
# prunes to nprobe lists, PQ byte codes serve the distances.  Assignment,
# probing, codebooks, encoding, LUT, and ADC all hash-checked in one
# oracle.
# --------------------------------------------------------------------------

def _ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.pq import ann_ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_ivfpq_topk(
        emb, queries, n_lists=16, nprobe=4, m=8, k_codes=16, topk=10
    )


def _ivfpq_oracle(n_lists: int, nprobe: int, m: int, k: int, sub: int,
                  topk: int) -> str:
    zd2 = (
        "list_sum(list_transform(list_zip(sv, cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
WITH c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % 100 = 0),
cn AS (
  SELECT nid, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
  FROM (SELECT nid, unnest(nv) AS x FROM c) GROUP BY nid
),
cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1
           AS list_id,
         nid AS cid, nv AS cv2
  FROM c ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT {n_lists}
),
centn AS (SELECT cent.list_id, cn.nnorm AS cnorm
          FROM cent JOIN cn ON cn.nid = cent.cid),
adots AS (
  SELECT nid, list_id, {_COS_DOT.format(a='xn', b='xc')} AS dot
  FROM (SELECT c.nid, cent.list_id, unnest(c.nv) AS xn,
               unnest(cent.cv2) AS xc
        FROM c CROSS JOIN cent)
  GROUP BY nid, list_id
),
assigned AS (
  SELECT nid, list_id FROM (
    SELECT a.nid, a.list_id,
           row_number() OVER (PARTITION BY a.nid
                              ORDER BY a.dot / n.cnorm DESC, a.list_id) AS rn
    FROM adots a JOIN centn n USING (list_id)
  ) WHERE rn = 1
),
qdots AS (
  SELECT qid, list_id, {_COS_DOT.format(a='xq', b='xc')} AS dot
  FROM (SELECT q.qid, cent.list_id, unnest(q.qv) AS xq,
               unnest(cent.cv2) AS xc
        FROM q CROSS JOIN cent)
  GROUP BY qid, list_id
),
probes AS (
  SELECT qid, list_id FROM (
    SELECT d.qid, d.list_id,
           row_number() OVER (PARTITION BY d.qid
                              ORDER BY d.dot / n.cnorm DESC, d.list_id) AS rn
    FROM qdots d JOIN centn n USING (list_id)
  ) WHERE rn <= {nprobe}
),
pts AS (
  SELECT vec_id AS nid,
         list_transform(embedding,
                        x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS xu
  FROM embeddings
),
js AS (SELECT unnest(range({m})) AS j),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1
           AS code, xu
  FROM pts ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT {k}
),
cb AS (
  SELECT code, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS cv
  FROM seeds CROSS JOIN js
),
sv AS (
  SELECT nid, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS sv
  FROM pts CROSS JOIN js
),
codes AS (
  SELECT nid, j, code FROM (
    SELECT s.nid, s.j, cb.code,
           row_number() OVER (PARTITION BY s.nid, s.j
                              ORDER BY {zd2}, cb.code) AS rn
    FROM sv s JOIN cb ON s.j = cb.j
  ) WHERE rn = 1
),
qsv AS (
  SELECT nid AS qid, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS sv
  FROM pts CROSS JOIN js WHERE nid % 100 = 0
),
lut AS (
  SELECT qq.qid, qq.j, cb.code, {zd2} AS d2q
  FROM qsv qq JOIN cb ON qq.j = cb.j
),
cand AS (
  SELECT p.qid, a.nid
  FROM probes p JOIN assigned a USING (list_id)
  WHERE p.qid <> a.nid
),
adc AS (
  SELECT ca.qid, ca.nid, SUM(l.d2q) AS adc
  FROM cand ca
  JOIN codes co ON co.nid = ca.nid
  JOIN lut l ON l.qid = ca.qid AND l.j = co.j AND l.code = co.code
  GROUP BY ca.qid, ca.nid
  HAVING count(*) = {m}
)
SELECT qid, nid, CAST(rank AS INT) AS rank, adc / 1e12 AS adc_d2 FROM (
  SELECT qid, nid, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
  FROM adc
) WHERE rank <= {topk}
"""


_register(
    QuerySpec(
        name="ann_ivfpq_topk",
        survey_ids=("X3",),
        description="IVF-PQ top-10: seeded coarse quantizer prunes to 4 "
        "of 16 lists, PQ byte codes (m=8, 16 codewords) serve the "
        "distances — assignment, probing, encoding, and ADC all in one "
        "hash-checked oracle",
        spark=_ivfpq,
        oracle=_ivfpq_oracle(16, 4, 8, 16, 8, 10),
    )
)


# --------------------------------------------------------------------------
# X3+T2 streaming ANN-index maintenance, oracle-paired (r15): the
# incremental IVF-PQ maintainer (streaming/ann_stream.py, pytest-only
# through r14 — the next entry in the streaming-receipt program after
# r15's curation row).  Embeddings arrive as an availableNow drain in
# three shuffled batches; each micro-batch is assigned (frozen seeded
# coarse centroids) and PQ-encoded (frozen seeded codebooks) against
# the reference corpus, then appended to the snapshot index lake under
# a replay-ledger batch identity.  The row returns the final INDEX
# CONTENT, exploded to (nid, list_id, j, code) scalars.
# Why this is hash-checkable: the quantizers are FROZEN (the standard
# FAISS/Milvus discipline — retraining is an offline event), so each
# vector's (list_id, codes) is a pure function of (vector, reference)
# regardless of which batch carried it — streaming N batches produces
# exactly the rows batch-encoding their union would, for any split or
# arrival order.  The oracle re-derives assignment + codebooks + codes
# from the same seeded constructions (the ann_ivfpq_topk CTEs minus
# the probe).  Replay idempotence (ledger skip of a re-delivered batch
# id) stays pytest-pinned (tests/test_ann_stream.py).
# 100 TB shape: per batch the encode is one Arrow pass over the batch
# against broadcast quantizers (16 centroids + m*k codebook rows);
# the lake is partitioned by list_id so probers bucket-prune; commit
# cost is manifest machinery, independent of index history.
# --------------------------------------------------------------------------

def _stream_ann_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from crypto_data_ingestion_module_spark.streaming.ann_stream import (
        read_index,
        stream_index_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # three id-striped files in SHUFFLED arrival order — the claim is
    # split- and order-independence under frozen quantizers
    inp = staged(
        "ann",
        sf_dir,
        lambda: [emb.filter(F.col("vec_id") % 3 == i) for i in (1, 0, 2)],
    )
    scratch = run_dir("ann")
    lake = os.path.join(scratch, "index")
    src = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = stream_index_embeddings(
        src,
        reference=emb,
        lake_root=lake,
        checkpoint=os.path.join(scratch, "ck"),
        n_lists=16,
        m=8,
        k_codes=16,
    )
    q.awaitTermination()
    return read_index(spark, lake).select(
        "nid",
        F.col("list_id").cast("long").alias("list_id"),
        F.posexplode("codes").alias("j", "code"),
    ).select(
        "nid",
        "list_id",
        F.col("j").cast("int").alias("j"),
        F.col("code").cast("int").alias("code"),
    )


def _ann_index_oracle(n_lists: int, m: int, k: int, sub: int) -> str:
    zd2 = (
        "list_sum(list_transform(list_zip(sv, cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
WITH c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
cn AS (
  SELECT nid, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
  FROM (SELECT nid, unnest(nv) AS x FROM c) GROUP BY nid
),
cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1
           AS list_id,
         nid AS cid, nv AS cv2
  FROM c ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT {n_lists}
),
centn AS (SELECT cent.list_id, cn.nnorm AS cnorm
          FROM cent JOIN cn ON cn.nid = cent.cid),
adots AS (
  SELECT nid, list_id, {_COS_DOT.format(a='xn', b='xc')} AS dot
  FROM (SELECT c.nid, cent.list_id, unnest(c.nv) AS xn,
               unnest(cent.cv2) AS xc
        FROM c CROSS JOIN cent)
  GROUP BY nid, list_id
),
assigned AS (
  SELECT nid, list_id FROM (
    SELECT a.nid, a.list_id,
           row_number() OVER (PARTITION BY a.nid
                              ORDER BY a.dot / n.cnorm DESC, a.list_id) AS rn
    FROM adots a JOIN centn n USING (list_id)
  ) WHERE rn = 1
),
pts AS (
  SELECT vec_id AS nid,
         list_transform(embedding,
                        x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS xu
  FROM embeddings
),
js AS (SELECT unnest(range({m})) AS j),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(nid AS VARCHAR)), nid) - 1
           AS code, xu
  FROM pts ORDER BY md5(CAST(nid AS VARCHAR)), nid LIMIT {k}
),
cb AS (
  SELECT code, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS cv
  FROM seeds CROSS JOIN js
),
sv AS (
  SELECT nid, j, xu[j * {sub} + 1 : j * {sub} + {sub}] AS sv
  FROM pts CROSS JOIN js
),
codes AS (
  SELECT nid, j, code FROM (
    SELECT s.nid, s.j, cb.code,
           row_number() OVER (PARTITION BY s.nid, s.j
                              ORDER BY {zd2}, cb.code) AS rn
    FROM sv s JOIN cb ON s.j = cb.j
  ) WHERE rn = 1
)
SELECT a.nid, CAST(a.list_id AS BIGINT) AS list_id,
       CAST(co.j AS INT) AS j, CAST(co.code AS INT) AS code
FROM assigned a JOIN codes co USING (nid)
"""


_register(
    QuerySpec(
        name="stream_ann_index",
        survey_ids=("X3", "T2", "K2"),
        description="streaming IVF-PQ index maintenance: embeddings "
        "drain availableNow in shuffled batches, each assigned and "
        "PQ-encoded against frozen seeded quantizers and appended to "
        "the snapshot index lake; frozen quantizers make the final "
        "index content equal the one-shot batch encode for any split "
        "or arrival order",
        spark=_stream_ann_index_q,
        oracle=_ann_index_oracle(16, 8, 16, 8),
    )
)


# --------------------------------------------------------------------------
# X4: BPE merge training — the tokenizer trainer itself as a
# hash-checked DataFrame loop (operators/bpe.py).  5 rounds over the
# distinct-word table; each round's winning pair and its count are the
# output, so the oracle verifies the entire training trajectory.
# --------------------------------------------------------------------------

def _bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.bpe import bpe_merges

    # checkpoint=True (r18, VERDICT r17 item 3): sever the doubling
    # lineage per merge round — the r6 "wash" verdict predates the A/B
    # instrument; re-measured interleaved it reads 0.86× at sf0.1 and
    # 0.94× at the seeded sf1 (values unchanged — a checkpoint only
    # materializes)
    return bpe_merges(_t(spark, sf_dir, "documents"), n_merges=5, checkpoint=True)


def _bpe_oracle(n: int) -> str:
    parts = [
        """WITH words0 AS (
  SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS w,
         count(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY w
)"""
    ]
    final = []
    for i in range(n):
        parts.append(
            """p{i} AS (
  SELECT pr[1] AS lhs, pr[2] AS rhs,
         CAST(SUM(wc) AS BIGINT) AS pair_count FROM (
    SELECT wc, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS pr
    FROM (SELECT wc, string_split(trim(w), ' ') AS s FROM words{i})
    WHERE len(s) >= 2
  ) GROUP BY lhs, rhs
),
best{i} AS (
  SELECT lhs, rhs, pair_count FROM p{i}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
words{j} AS (
  SELECT replace(w, ' ' || lhs || ' ' || rhs || ' ',
                 ' ' || lhs || rhs || ' ') AS w, wc
  FROM words{i}, best{i}
)""".format(i=i, j=i + 1)
        )
        final.append(
            f"SELECT {i + 1} AS rank, lhs, rhs, pair_count FROM best{i}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(final)


_register(
    QuerySpec(
        name="bpe_merge_table",
        survey_ids=("X4",),
        description="BPE tokenizer training (5 merges over the distinct-"
        "word table): every round's winning pair and count hash-checked "
        "— the whole training trajectory, not just the result",
        spark=_bpe_train,
        oracle=_bpe_oracle(5),
    )
)


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.bpe import bpe_vocab

    # checkpoint=True: same per-round lineage cut as _bpe_train —
    # measured 0.68× at sf0.1 / 0.77× at sf1 interleaved (r18)
    return bpe_vocab(_t(spark, sf_dir, "documents"), n_merges=5, checkpoint=True)


def _bpe_vocab_oracle(n: int) -> str:
    # reuse the training CTE chain; the vocabulary is the symbol table of
    # the final words relation
    chain = _bpe_oracle(n)
    chain = chain[: chain.index("\nSELECT 1 AS rank")]
    return (
        chain
        + f"""
SELECT symbol, CAST(SUM(wc) AS BIGINT) AS n_tokens FROM (
  SELECT wc, unnest(string_split(trim(w), ' ')) AS symbol FROM words{n}
) GROUP BY symbol
"""
    )


_register(
    QuerySpec(
        name="bpe_vocab",
        survey_ids=("X4",),
        description="subword vocabulary after 5 BPE merges: surviving "
        "symbols with corpus token counts (the tokenizer's encode-side "
        "state, hash-checked)",
        spark=_bpe_vocab,
        oracle=_bpe_vocab_oracle(5),
    )
)


_BPE_SEGMENTS_VERSION = "v1-m5"


def _bpe_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured/checked query: encode against the STORED merge-table
    artifact — one corpus scan, one broadcast join, one hash aggregate
    (the 100 TB serving path; same move as curated_corpus).  The segment
    table is trained once per sf_dir on first access; the trainer cost
    lands in the artifact refresh, not the per-query path.  Oracle
    unchanged: the self-contained trainer twin (bpe_encode_docs) is
    pinned row-identical in pytest."""
    from crypto_data_ingestion_module_spark.operators.bpe import (
        bpe_encode_with_segments,
        bpe_segment_table,
    )

    d = _t(spark, sf_dir, "documents")
    seg = _serve_artifact(
        spark,
        sf_dir,
        "bpe_segments",
        _BPE_SEGMENTS_VERSION,
        lambda: bpe_segment_table(d, n_merges=5, checkpoint=True),
    )
    return bpe_encode_with_segments(d, seg)


def _bpe_encode_oracle(n: int) -> str:
    # the encode chain carries the word alongside its evolving segment
    # string (word <-> padded-w is bijective, so training on this keyed
    # table finds the identical merge sequence as _bpe_oracle)
    parts = [
        """WITH words0 AS (
  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS w, wc
  FROM (
    SELECT word, count(*) AS wc
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE regexp_matches(word, '^[a-z]+$')
    GROUP BY word
  )
)"""
    ]
    for i in range(n):
        parts.append(
            """p{i} AS (
  SELECT pr[1] AS lhs, pr[2] AS rhs, SUM(wc) AS pair_count FROM (
    SELECT wc, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS pr
    FROM (SELECT wc, string_split(trim(w), ' ') AS s FROM words{i})
    WHERE len(s) >= 2
  ) GROUP BY lhs, rhs
),
best{i} AS (
  SELECT lhs, rhs FROM p{i}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
words{j} AS (
  SELECT word, replace(w, ' ' || lhs || ' ' || rhs || ' ',
                 ' ' || lhs || rhs || ' ') AS w, wc
  FROM words{i}, best{i}
)""".format(i=i, j=i + 1)
        )
    return (
        ",\n".join(parts)
        + f""",
enc AS (
  SELECT word, CAST(len(string_split(trim(w), ' ')) AS BIGINT) AS n_sym
  FROM words{n}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
JOIN enc USING (word)
GROUP BY doc_id
"""
    )


_register(
    QuerySpec(
        name="bpe_encode_docs",
        survey_ids=("X4",),
        description="apply the trained 5-merge BPE tokenizer to every "
        "document: per-doc word count and true BPE token count — encode "
        "reads the STORED vocabulary-sized segment-table artifact "
        "(broadcast join; per-doc work never replays a merge; the "
        "self-contained trainer twin is pytest-pinned row-identical)",
        spark=_bpe_encode_q,
        oracle=_bpe_encode_oracle(5),
    )
)


# --------------------------------------------------------------------------
# X2/X3: model-free document retrieval via the hashing trick — 64-dim
# signed term-frequency vectors (feature hashing, Weinberger et al. 2009)
# computed from md5 so both engines build identical vectors, then cosine
# top-5 for a bounded query set via the feature-bucket equi-join (query
# postings are broadcast-sized; the corpus is scanned once and never
# self-joined — an ALL-pairs variant over dense 64-dim vectors would be
# O(n^2) and is exactly what the MinHash/SimHash stack exists for).
# --------------------------------------------------------------------------

def _hds_closure_max() -> int:
    """Query-side bound for the closure-matrix path (r18, VERDICT r17
    item 1): at or below this many query docs the 64-dim query matrix
    rides in the scoring kernel's closure (identical 128 MB-at-bound
    budget as ``GANN_CLOSURE_MAX``); above it the r16 feature-bucket
    join keeps the fully-distributed shape — the query side is 1% of
    ALL documents, so it grows with the corpus and an ungated driver
    collect would OOM at 100 TB.  Read from the env PER CALL (ADVICE
    r17 item 4: an import-time read silently ignores later config)."""
    import os

    return int(os.environ.get("SPARK_GRAFT_HDS_CLOSURE_MAX", "262144"))


def _hds_topk(cand: DataFrame) -> DataFrame:
    """Shared top-5 tail: rank candidates per query (cosine desc, nid
    asc) — both scoring paths feed the identical window."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def _hds_join_fallback(weights: DataFrame) -> DataFrame:
    """The r16 inverted-index scoring shape — the at-scale path above
    ``_hds_closure_max()``: query postings join the corpus postings on
    the 64 feature buckets, dots aggregate per (qid, nid).  No
    broadcast hint on the query side (it is only taken when that side
    exceeded the closure bound, i.e. precisely when broadcasting it
    would be the memory risk); norms attach by plain equi-join and the
    planner picks the strategy from real sizes."""
    norms = weights.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    qw = weights.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"), "bucket", F.col("w").alias("wq")
    )
    dots = (
        qw.join(
            weights.select(
                F.col("doc_id").alias("nid"), "bucket", F.col("w").alias("wn")
            ),
            "bucket",
        )
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.sum(F.col("wq") * F.col("wn")).cast("double").alias("dot"))
    )
    nq = norms.select(F.col("doc_id").alias("qid"), F.col("norm").alias("qn"))
    nn = norms.select(F.col("doc_id").alias("nid"), F.col("norm").alias("nn"))
    return _hds_topk(
        dots.join(nq, "qid")
        .join(nn, "nid")
        .withColumn("cosine", F.col("dot") / (F.col("qn") * F.col("nn")))
    )


def _hashed_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # md5 + regex once per DISTINCT (doc, token), weighted by the in-doc
    # count (r17, the simhash60_md5 move: Zipf token repetition makes the
    # per-instance hash the dominant term; Σ s over instances == s·cnt,
    # so the weights are bit-identical) — one extra map-side-combined
    # aggregate of (doc, token) pairs buys back ~½ the md5/regex calls
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
    )
    th = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    weights = (
        toks.select(
            "doc_id",
            F.pmod(th, F.lit(64)).cast("int").alias("bucket"),
            (
                F.when(
                    F.shiftright(th, 6).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                * F.col("cnt")
            ).alias("s"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("w"))
        .filter(F.col("w") != 0)
    )
    # r17: score as a closure-matrix kernel instead of the 64-bucket
    # inverted-index join (50 query docs × ~300k weight rows shared only
    # 64 join keys → ~14M joined rows through an Exchange + hash
    # aggregate; that join WAS the query's cost).  The bounded query
    # side (50 docs × ≤64 buckets) rides in the closure; the corpus
    # streams ONCE as per-doc (bucket, w) lists; each batch computes all
    # dots as one integer matmul and emits its per-query partial top-5
    # (lossless under the same (cosine desc, nid asc) order).  Parity:
    # weights are small integers (products < 2^40, 64-term sums exact in
    # float64), norms are the same sqrt(exact-int) the relational form
    # takes, and a pair enters the candidate set iff it shares a bucket
    # with nonzero weights on both sides — exactly the join's membership
    # rule (pairs sharing no bucket stay ABSENT, not zero-scored).
    #
    # r18 scale gate (VERDICT r17 item 1): the query side is 1% of ALL
    # documents — linear in corpus size — so the driver collect is
    # gated like graph-ANN's.  The gate count runs on the PRUNED
    # parquet scan (doc_id only, predicate pushed), an upper bound on
    # the collected query docs (the weights pipeline can only drop
    # docs), so the decision never tokenizes the corpus; above the
    # bound the r16 inverted-index join keeps the distributed shape.
    # NOTE for plan capture: the gate count (and, below it, the query-
    # weights collect) is an eager action at plan-BUILD time — see the
    # capture_plans.py docstring.
    n_query_docs = docs.filter(F.col("doc_id") % 100 == 0).count()
    if n_query_docs > _hds_closure_max():
        return _hds_join_fallback(weights)

    import numpy as np
    import pandas as pd

    qpd = weights.filter(F.col("doc_id") % 100 == 0).toPandas()
    if len(qpd) == 0:
        return spark.createDataFrame(
            [], "qid long, nid long, rank int, cosine double"
        )
    qids = np.sort(qpd["doc_id"].unique()).astype(np.int64)
    qrow = {int(q): i for i, q in enumerate(qids)}
    Q = np.zeros((len(qids), 64), dtype=np.float64)
    Q[
        [qrow[int(d)] for d in qpd["doc_id"]],
        qpd["bucket"].to_numpy().astype(np.int64),
    ] = qpd["w"].to_numpy().astype(np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    Qnz = (Q != 0).astype(np.float64)

    docvecs = weights.groupBy("doc_id").agg(
        F.collect_list(F.struct("bucket", "w")).alias("bw")
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nids = pdf["doc_id"].to_numpy().astype(np.int64)
            W = np.zeros((len(pdf), 64), dtype=np.float64)
            for i, bw in enumerate(pdf["bw"]):
                for e in bw:
                    W[i, e["bucket"]] = e["w"]
            nn = np.sqrt((W * W).sum(axis=1))
            dots = W @ Q.T
            shared = ((W != 0).astype(np.float64) @ Qnz.T) > 0
            C = (dots.T / (qn[:, None] * nn[None, :])).T
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                keep = shared[:, j] & (nids != qids[j])
                cj, ij = C[keep, j], nids[keep]
                if len(ij) == 0:
                    continue
                top = np.lexsort((ij, -cj))[:5]
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

    cand = docvecs.mapInPandas(kernel, "qid long, nid long, cosine double")
    return _hds_topk(cand)


_register(
    QuerySpec(
        name="hashed_doc_similarity",
        survey_ids=("X2", "X3"),
        description="model-free doc retrieval: 64-dim signed feature-"
        "hash vectors (md5, engine-identical) + cosine top-5 per query "
        "doc via a broadcast feature-bucket join (corpus scanned once, "
        "never self-joined)",
        spark=_hashed_doc_similarity,
        oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
), ft AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS th
  FROM toks WHERE regexp_matches(tok, '^[a-z]+$')
), weights AS (
  SELECT doc_id, CAST(th % 64 AS INT) AS bucket,
         SUM(CASE WHEN (th >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM ft GROUP BY doc_id, bucket
  HAVING SUM(CASE WHEN (th >> 6) & 1 = 1 THEN 1 ELSE -1 END) <> 0
), norms AS (
  SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS norm
  FROM weights GROUP BY doc_id
), dots AS (
  SELECT q.doc_id AS qid, n.doc_id AS nid,
         CAST(SUM(q.w * n.w) AS DOUBLE) AS dot
  FROM weights q JOIN weights n
    ON q.bucket = n.bucket AND q.doc_id <> n.doc_id
  WHERE q.doc_id % 100 = 0
  GROUP BY qid, nid
), ranked AS (
  SELECT d.qid, d.nid, d.dot / (nq.norm * nn.norm) AS cosine,
         row_number() OVER (PARTITION BY d.qid
                            ORDER BY d.dot / (nq.norm * nn.norm) DESC,
                                     d.nid) AS rank
  FROM dots d
  JOIN norms nq ON nq.doc_id = d.qid
  JOIN norms nn ON nn.doc_id = d.nid
)
SELECT qid, nid, CAST(rank AS INT) AS rank, cosine
FROM ranked WHERE rank <= 5
""",
    )
)


# --------------------------------------------------------------------------
# X4 hashed linear classifier inference (r12): the fastText-style
# quality-model scoring pass run AT the data.  Weights are a pure md5
# function of the feature bucket (stand-in for a trained table — a
# real model ships as a broadcast VALUES join with the identical plan
# shape), so inference is hash → weight → one map-side-combined SUM
# per doc: no UDF, no shuffle beyond the doc key, corpus scanned once.
# All-integer margins; the ppm normalization keeps every DIV operand
# nonnegative (Spark DIV truncates toward zero, DuckDB // floors —
# they agree only on nonnegative ints).
# --------------------------------------------------------------------------

_QC_BUCKETS = 4096


def _quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").rlike("^[a-z]+$"))
    bucket = TX.hashed_token_bucket("tok", _QC_BUCKETS)
    per = (
        toks.select("doc_id", TX.hashed_bucket_weight(bucket).alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("w").alias("score"),
        )
    )
    return per.select(
        "doc_id",
        "n_feats",
        "score",
        F.expr("1000000 * (score + 1000 * n_feats) DIV (2000 * n_feats)")
        .cast("long")
        .alias("quality_ppm"),
        (F.col("score") >= 0).alias("keep"),
    )


_register(
    QuerySpec(
        name="quality_classifier_scores",
        survey_ids=("X4",),
        description="hashed linear quality-classifier inference over "
        "every document (md5 feature hash -> integer bucket weight -> "
        "per-doc margin), all-integer ppm normalization — the "
        "model-scoring pass of a curation pipeline, hash-checked "
        "end to end",
        spark=_quality_classifier,
        oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
), ft AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_QC_BUCKETS}
           AS bucket
  FROM toks WHERE regexp_matches(tok, '^[a-z]+$')
), scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(SUM({TX.oracle_hashed_weight_sql('bucket')}) AS BIGINT)
           AS score
  FROM ft GROUP BY doc_id
)
SELECT doc_id, n_feats, score,
       CAST(1000000 * (score + 1000 * n_feats) // (2000 * n_feats)
            AS BIGINT) AS quality_ppm,
       score >= 0 AS keep
FROM scored
""",
    )
)


# --------------------------------------------------------------------------
# X4 in-engine classifier TRAINING (r13): the other half of the r12
# inference row.  A batch perceptron with a fixed unroll count in exact
# integer arithmetic (operators/linear.py) distills the SQL-expressible
# quality heuristic (functions/text.py quality_score — the teacher) into
# a linear model trained AT the data — the fastText-style curation-model
# loop (heuristic/LLM labels -> cheap linear scorer run over the whole
# corpus) with no driver-side state.  Because counts and labels are
# integers and eta=1, the recurrence is engine-order-free and the whole
# ITERATIVE training run hash-checks against unrolled DuckDB CTEs — the
# pagerank trick applied to model training.
#
# Feature choice is MEASURED, not assumed: hashed token-count features
# (the r12 inference row's space) carry no class signal on this corpus —
# the synthetic vocabulary is shared across quality classes, so the
# trained model collapses to the majority class (88% agreement = the
# positive rate) and unioning tokens in measurably SLOWS convergence
# (440/500 at 12 iters vs 484+ profile-only).  The teacher reads shape
# statistics, so the student gets them as one-hot PROFILE BANDS
# (functions/text.py profile_feature_buckets: length/word/punct-ratio/
# stopword-ratio bands, ids above the token-hash range — the weight
# table can mix both spaces).  12 batch iterations reach ~97% agreement
# (492/500 sf0.01, 4829/5000 sf0.1) vs the 88% majority floor.  The
# operator itself is feature-agnostic: tokens-in-the-frame mechanics are
# pytest-pinned (tests/test_linear_train.py).
# --------------------------------------------------------------------------

_QC_TRAIN_ITERS = 12


def _qc_feats_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared feature/label builders: profile-band features per doc +
    teacher labels (+1 iff the quality heuristic clears 0.5 —
    quality_score is bit-identical cross-engine, so the threshold is
    deterministic)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feats = (
        docs.select(
            "doc_id",
            F.explode(TX.profile_feature_buckets("text", _QC_BUCKETS)).alias(
                "b"
            ),
        )
        .groupBy("doc_id", F.col("b").cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    labels = docs.select(
        "doc_id",
        F.when(TX.quality_score("text") >= 0.5, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    return feats, labels


def _qc_train_cte(iters: int, train_where: str = "TRUE") -> str:
    """Unrolled DuckDB twin of train_perceptron_hashed: w1 is the
    all-miss first update (w0=0 makes every margin 0 and y*0 <= 0), each
    later round scores, collects the miss set, and folds the update in
    with a full outer join — zero weights are kept in intermediates
    (they contribute nothing to any margin, so dropping them only at the
    end, as the engine does, is the identity).  ``train_where``
    restricts the TRAINING split (tfeats/tlab); the full-corpus
    feats/lab stay available for scoring selects.

    ``feats``/``lab``/every ``w{{t}}`` are MATERIALIZED: DuckDB inlines
    plain CTEs, and each ``w{{t}}`` is referenced twice by level t+1, so
    an inlined unroll re-evaluates the whole history per level — 2^iters
    blowup (measured: the 12-step oracle never finished inlined,
    milliseconds materialized)."""
    cte = f"""
WITH pf AS (
  SELECT doc_id,
         unnest({TX.oracle_profile_buckets_sql('text', _QC_BUCKETS)})
           AS bucket
  FROM documents WHERE text IS NOT NULL
), feats AS MATERIALIZED (
  SELECT doc_id, CAST(bucket AS INT) AS bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM pf GROUP BY doc_id, bucket
), lab AS MATERIALIZED (
  SELECT doc_id,
         CAST(CASE WHEN {TX.oracle_quality_sql('text')} >= 0.5
              THEN 1 ELSE -1 END AS BIGINT) AS y
  FROM documents WHERE text IS NOT NULL
), tfeats AS MATERIALIZED (
  SELECT * FROM feats WHERE {train_where}
), tlab AS MATERIALIZED (
  SELECT * FROM lab WHERE {train_where}
), w1 AS MATERIALIZED (
  SELECT f.bucket, SUM(l.y * f.cnt) AS w
  FROM tfeats f JOIN tlab l USING (doc_id) GROUP BY f.bucket
)"""
    for t in range(2, iters + 1):
        p = t - 1
        cte += f""", m{t} AS (
  SELECT f.doc_id, SUM(w{p}.w * f.cnt) AS margin
  FROM tfeats f JOIN w{p} USING (bucket) GROUP BY f.doc_id
), miss{t} AS (
  SELECT l.doc_id, l.y FROM tlab l LEFT JOIN m{t} USING (doc_id)
  WHERE l.y * coalesce(m{t}.margin, 0) <= 0
), u{t} AS (
  SELECT f.bucket, SUM(m.y * f.cnt) AS dw
  FROM tfeats f JOIN miss{t} m USING (doc_id) GROUP BY f.bucket
), w{t} AS MATERIALIZED (
  SELECT coalesce(w{p}.bucket, u{t}.bucket) AS bucket,
         coalesce(w{p}.w, 0) + coalesce(u{t}.dw, 0) AS w
  FROM w{p} FULL OUTER JOIN u{t} ON w{p}.bucket = u{t}.bucket
)"""
    return cte


def _qc_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.linear import (
        train_perceptron_hashed,
    )

    feats, labels = _qc_feats_labels(spark, sf_dir)
    return train_perceptron_hashed(feats, labels, iterations=_QC_TRAIN_ITERS)


_register(
    QuerySpec(
        name="quality_classifier_train",
        survey_ids=("X4",),
        description="in-engine batch-perceptron training of the hashed "
        f"linear quality model ({_QC_TRAIN_ITERS} unrolled iterations, "
        "integer eta=1 updates, quality-heuristic teacher labels) — the "
        "iterative "
        "training recurrence itself hash-checked via unrolled CTEs, "
        "pagerank-style",
        spark=_qc_train,
        oracle=_qc_train_cte(_QC_TRAIN_ITERS)
        + f"\nSELECT bucket, CAST(w AS BIGINT) AS w"
        f" FROM w{_QC_TRAIN_ITERS} WHERE w <> 0\n",
    )
)


def _qc_trained_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.linear import (
        score_with_weights,
        train_perceptron_hashed,
    )

    feats, labels = _qc_feats_labels(spark, sf_dir)
    w = train_perceptron_hashed(feats, labels, iterations=_QC_TRAIN_ITERS)
    sc = score_with_weights(feats, w)
    margin = F.coalesce(F.col("margin"), F.lit(0).cast("long"))
    return labels.join(sc, "doc_id", "left").select(
        "doc_id",
        F.col("y").alias("teacher_y"),
        margin.alias("margin"),
        (margin >= 0).alias("keep"),
        ((F.col("y") * margin) > 0).alias("agree"),
    )


_register(
    QuerySpec(
        name="quality_classifier_trained_scores",
        survey_ids=("X4",),
        description="inference composed FROM the in-engine-trained "
        "weights: broadcast weight join + map-side-combined per-doc "
        "margin (the identical plan as the stand-in inference row), "
        "plus per-doc agreement with the teacher heuristic",
        spark=_qc_trained_scores,
        oracle=_qc_train_cte(_QC_TRAIN_ITERS)
        + f""", sc AS (
  SELECT f.doc_id, SUM(w{_QC_TRAIN_ITERS}.w * f.cnt) AS margin
  FROM feats f JOIN w{_QC_TRAIN_ITERS} USING (bucket) GROUP BY f.doc_id
)
SELECT l.doc_id, l.y AS teacher_y,
       CAST(coalesce(sc.margin, 0) AS BIGINT) AS margin,
       coalesce(sc.margin, 0) >= 0 AS keep,
       l.y * coalesce(sc.margin, 0) > 0 AS agree
FROM lab l LEFT JOIN sc USING (doc_id)
""",
    )
)


def _qc_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.linear import (
        score_with_weights,
        train_perceptron_hashed,
    )

    feats, labels = _qc_feats_labels(spark, sf_dir)
    w = train_perceptron_hashed(
        feats.filter(F.col("doc_id") % 2 == 0),
        labels.filter(F.col("doc_id") % 2 == 0),
        iterations=_QC_TRAIN_ITERS,
    )
    held = labels.filter(F.col("doc_id") % 2 == 1)
    sc = score_with_weights(feats.filter(F.col("doc_id") % 2 == 1), w)
    margin = F.coalesce(F.col("margin"), F.lit(0).cast("long"))
    return held.join(sc, "doc_id", "left").select(
        "doc_id",
        F.col("y").alias("teacher_y"),
        margin.alias("margin"),
        (margin >= 0).alias("keep"),
        ((F.col("y") * margin) > 0).alias("agree"),
    )


_register(
    QuerySpec(
        name="quality_classifier_holdout",
        survey_ids=("X4",),
        description="held-out generalization of the in-engine-trained "
        "model: train on the even-doc_id half, score the UNSEEN odd "
        "half — the train/test split measurement a real curation "
        "pipeline reports, hash-checked end to end",
        spark=_qc_holdout,
        oracle=_qc_train_cte(_QC_TRAIN_ITERS, "doc_id % 2 = 0")
        + f""", sc AS (
  SELECT f.doc_id, SUM(w{_QC_TRAIN_ITERS}.w * f.cnt) AS margin
  FROM feats f JOIN w{_QC_TRAIN_ITERS} USING (bucket)
  WHERE f.doc_id % 2 = 1
  GROUP BY f.doc_id
)
SELECT l.doc_id, l.y AS teacher_y,
       CAST(coalesce(sc.margin, 0) AS BIGINT) AS margin,
       coalesce(sc.margin, 0) >= 0 AS keep,
       l.y * coalesce(sc.margin, 0) > 0 AS agree
FROM lab l LEFT JOIN sc USING (doc_id)
WHERE l.doc_id % 2 = 1
""",
    )
)


# --------------------------------------------------------------------------
# X4+T2 streaming model SERVING (r13): score documents IN the stream
# with the in-engine-trained model — inference at ingest, the serving
# half of the curation-model loop.  The trained weight table is bounded
# (parameter count), so it ships into the stream as a LITERAL MAP
# expression and the whole scoring pass is a STATELESS projection: the
# profile bands are exactly 4 one-hot features per doc (disjoint id
# ranges, cnt = 1), so the margin is a 4-lookup sum — no groupBy, no
# state store, no watermark.  Stateless streaming == batch semantics by
# construction, which is what makes the STREAMING serving pass itself
# hash-checkable against the batch oracle (identical output contract
# to quality_classifier_trained_scores).
# 100 TB shape: model broadcast cost is the parameter count; per-doc
# work is constant; the stream never shuffles at all.
# --------------------------------------------------------------------------

def _stream_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.linear import (
        train_perceptron_hashed,
    )

    feats, labels = _qc_feats_labels(spark, sf_dir)
    w = train_perceptron_hashed(feats, labels, iterations=_QC_TRAIN_ITERS)
    # the model table is bounded by contract (<= parameter count rows)
    wmap = {r["bucket"]: r["w"] for r in w.collect()}
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inp = _staged_doc_thirds(spark, sf_dir)
    zero = F.lit(0).cast("long")
    if wmap:
        wlit = F.create_map(
            *[F.lit(v) for kv in sorted(wmap.items()) for v in kv]
        )
        lookup = lambda b: F.coalesce(wlit[b.cast("int")], zero)  # noqa: E731
    else:
        lookup = lambda b: zero  # noqa: E731
    margin = F.aggregate(
        TX.profile_feature_buckets("text", _QC_BUCKETS),
        zero,
        lambda acc, b: acc + lookup(b),
    )
    # no maxFilesPerTrigger: a STATELESS projection has no cross-batch
    # semantics to exercise, so the availableNow drain takes one
    # micro-batch and the row measures serving, not trigger machinery
    # (the cross-batch streaming disciplines are carried by
    # stream_dedup_within_watermark and stream_rollup_1h)
    scores = (
        spark.readStream.schema(docs.schema)
        .parquet(inp)
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.when(TX.quality_score("text") >= 0.5, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("teacher_y"),
            margin.alias("margin"),
            (margin >= 0).alias("keep"),
        )
        .withColumn("agree", (F.col("teacher_y") * F.col("margin")) > 0)
    )
    return drain_to_memory(scores, "stream_qc")


_register(
    QuerySpec(
        name="stream_classifier_scores",
        survey_ids=("X4", "T2"),
        description="streaming model serving: the in-engine-trained "
        "quality model scores documents IN the stream as a stateless "
        "literal-map projection (no state, no shuffle) — inference at "
        "ingest, hash-checked against the batch oracle",
        spark=_stream_classifier_scores,
        oracle=_qc_train_cte(_QC_TRAIN_ITERS)
        + f""", sc AS (
  SELECT f.doc_id, SUM(w{_QC_TRAIN_ITERS}.w * f.cnt) AS margin
  FROM feats f JOIN w{_QC_TRAIN_ITERS} USING (bucket) GROUP BY f.doc_id
)
SELECT l.doc_id, l.y AS teacher_y,
       CAST(coalesce(sc.margin, 0) AS BIGINT) AS margin,
       coalesce(sc.margin, 0) >= 0 AS keep,
       l.y * coalesce(sc.margin, 0) > 0 AS agree
FROM lab l LEFT JOIN sc USING (doc_id)
""",
    )
)


# --------------------------------------------------------------------------
# X4+T2 STREAMING model training (r14): the training half of the
# streaming model loop, next to the r13 serving row above.  The batch
# gang-perceptron's per-iteration update is an associative integer SUM
# over examples (operators/linear.py miss_updates), so an epoch that
# holds weights FIXED while example micro-batches stream past merges
# its per-batch partial updates by addition into exactly the batch
# iteration's update — for ANY batch split.  N streamed epochs ==
# N batch iterations bit-for-bit, which is what lets a streaming
# TRAINER pair against the same unrolled MATERIALIZED-CTE oracle as
# quality_classifier_train.  (Classic ONLINE updates are arrival-order
# -dependent by definition and stay out of the paired registry.)
# Own iteration count (4): the streamed model is its own definition,
# sized so the row measures the epoch-drain machinery, not 12 rounds
# of it; trainer quality at depth is carried by the batch rows.
# 100 TB shape: the example frame streams FROM THE LAKE per epoch (the
# corpus-wide feature extraction never reruns); per-batch driver
# traffic is bounded by the parameter count; weights are the bounded
# driver-side model state (the parameter-server shape).
# --------------------------------------------------------------------------

_QC_STREAM_TRAIN_ITERS = 4


def _stream_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.linear import (
        examples_frame,
    )
    from crypto_data_ingestion_module_spark.streaming.train_stream import (
        stream_train_perceptron,
    )

    feats, labels = _qc_feats_labels(spark, sf_dir)
    ex = examples_frame(feats, labels)
    inp = staged(
        "qct",
        sf_dir,
        lambda: [ex.filter(F.col("_k") % 2 == i) for i in range(2)],
    )
    w = stream_train_perceptron(
        spark,
        inp,
        ex.schema,
        iterations=_QC_STREAM_TRAIN_ITERS,
        checkpoint_root=run_dir("qct"),
    )
    return spark.createDataFrame(
        sorted(w.items()), schema="bucket int, w long"
    )


_register(
    QuerySpec(
        name="stream_classifier_train",
        survey_ids=("X4", "T2"),
        description="STREAMING model training: per-epoch perceptron "
        f"updates accumulated from example micro-batches "
        f"({_QC_STREAM_TRAIN_ITERS} availableNow epoch drains, weights "
        "frozen per epoch so partial updates merge associatively) — "
        "bit-identical to the batch trainer at the same depth, "
        "hash-checked via the same unrolled MATERIALIZED CTEs",
        spark=_stream_classifier_train,
        oracle=_qc_train_cte(_QC_STREAM_TRAIN_ITERS)
        + f"\nSELECT bucket, CAST(w AS BIGINT) AS w"
        f" FROM w{_QC_STREAM_TRAIN_ITERS} WHERE w <> 0\n",
    )
)


# --------------------------------------------------------------------------
# X4 reference-corpus n-gram coverage scoring (r13): the integer-exact
# stand-in for perplexity filtering (CCNet-style) — a real curation
# pipeline scores candidate documents against a language model trained
# on a trusted reference corpus and drops the tail.  A true LM score
# needs log-probabilities (transcendental, not cross-engine-exact); the
# pairable formulation is BIGRAM COVERAGE: the ppm fraction of a
# document's bigrams that appear >= K times in the reference corpus.
# Low coverage = the same "doesn't look like the reference
# distribution" signal, in exact integer arithmetic.
# Reference split: even doc_ids are the trusted corpus, odd doc_ids are
# the candidates (the holdout convention above).
# 100 TB shape: the reference bigram table is corpus-sized, so scoring
# is a plain shuffle equi-join on the bigram key with map-side-combined
# per-doc counts — never broadcast, never all-pairs; a Bloom prune on
# the candidate side composes exactly like decontaminate_docs_bloom.
# --------------------------------------------------------------------------

_BG_MIN_COUNT = 3


def _bigrams(tok_col: str):
    """Lowercase token bigrams built from an ALREADY-MATERIALIZED token
    array column (tokenize once — referencing the regexp expression
    inline here would re-tokenize each row up to three times: slice
    source, size, and element_at lookup).  transform's lambda index is
    0-based and element_at is 1-based, so the successor of slice
    element i is array position i + 2."""
    return F.expr(
        f"transform(slice({tok_col}, 1, greatest(size({tok_col}) - 1, 0)), "
        f"(x, i) -> concat(x, ' ', element_at({tok_col}, i + 2)))"
    )


def _bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # tokenize once into a column; CollapseProject keeps a non-cheap
    # multiply-referenced producer expression out of the consumer
    # projection, so the regexp runs once per row (plan-pinned by test)
    toks = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("_ts"),
    )
    bg = toks.select(
        "doc_id", F.explode(_bigrams("_ts")).alias("bigram")
    )
    ref_counts = (
        bg.filter(F.col("doc_id") % 2 == 0)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("ref_cnt"))
        .filter(F.col("ref_cnt") >= _BG_MIN_COUNT)
    )
    cand = bg.filter(F.col("doc_id") % 2 == 1)
    scored = (
        cand.join(ref_counts, "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("ref_cnt").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_covered"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_covered",
            F.expr("1000000 * n_covered DIV n_bigrams")
            .cast("long")
            .alias("coverage_ppm"),
        )
    )
    return scored


_register(
    QuerySpec(
        name="bigram_coverage_scores",
        survey_ids=("X4",),
        description="reference-corpus bigram coverage per candidate doc "
        "(ppm fraction of bigrams seen >= 3 times in the even-doc_id "
        "reference half) — the integer-exact CCNet-style perplexity-"
        "filter stand-in, scored with one shuffle equi-join",
        spark=_bigram_coverage,
        oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
  FROM documents WHERE text IS NOT NULL
), bg AS (
  SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS bigram
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)
), ref AS (
  SELECT bigram, count(*) AS ref_cnt FROM bg
  WHERE doc_id % 2 = 0 GROUP BY bigram
  HAVING count(*) >= {_BG_MIN_COUNT}
), cand AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN r.bigram IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_covered
  FROM bg b LEFT JOIN ref r USING (bigram)
  WHERE b.doc_id % 2 = 1
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams, n_covered,
       CAST(1000000 * n_covered // n_bigrams AS BIGINT) AS coverage_ppm
FROM cand
""",
    )
)


# --------------------------------------------------------------------------
# A2/A3 sketch breadth: Misra-Gries heavy hitters (rows-only — the
# sketch is approximate BY CONTRACT; its under-count bound and
# heavy-hitter completeness are pinned by tests/test_sketch.py against
# exact counts, the same discipline as value_quantiles_sketch).
# --------------------------------------------------------------------------

def _frequent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch import (
        frequent_items,
    )

    return frequent_items(
        _t(spark, sf_dir, "events"), "user_id", k=64, top=20
    )


_register(
    QuerySpec(
        name="frequent_users_sketch",
        survey_ids=("A2", "A3"),
        description="Misra-Gries heavy-hitter sketch over user_id: "
        "k-counter bounded-memory partials per partition, one bounded "
        "merge (mergeable, error <= n/(k+1); bound pinned in pytest)",
        spark=_frequent_users,
        oracle=None,
    )
)


# --------------------------------------------------------------------------
# A2/A3 sketch breadth, driver-facing: the exact two-pass heavy-hitter
# recipe (VERDICT r5 item 2).  Pass 1 = bounded-memory MG survivors,
# pass 2 = semi-join exact counts + the n/(k+1) threshold on the EXACT
# count, which makes the output partitioning-independent and therefore
# oracle-checkable against a plain GROUP BY ... HAVING.  Tokens of
# documents.text are the natural heavy-hitter domain here (Zipfian:
# ~30 common tokens at ~3% share each plus a rare tail), and the share
# threshold is scale-free because the generator's token distribution is
# scale-invariant.
# --------------------------------------------------------------------------

_HH_K = 49  # threshold share = 1/(k+1) = 2%


def _frequent_tokens_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch import (
        frequent_items_exact,
    )

    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    out = frequent_items_exact(toks, "tok", k=_HH_K)
    return out.select(F.col("item").alias("tok"), "cnt")


_register(
    QuerySpec(
        name="frequent_tokens_exact",
        survey_ids=("A2", "A3", "X4"),
        description="exact heavy-hitter tokens via the two-pass sketch "
        "recipe: Misra-Gries survivors (bounded memory, guaranteed to "
        "include every item above n/(k+1)) -> broadcast semi-join exact "
        "counts -> exact-count threshold; output equals plain SQL "
        "GROUP BY/HAVING while never hash-aggregating the full distinct "
        "domain",
        spark=_frequent_tokens_exact,
        oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok
), n AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM t
)
SELECT tok, CAST(cnt AS BIGINT) AS cnt
FROM t, n
WHERE cnt * {_HH_K + 1} > n
ORDER BY cnt DESC, tok
""",
    )
)


# --------------------------------------------------------------------------
# A2/A3 sketch PERSISTENCE, driver-facing (VERDICT r7 item 4): the same
# exact heavy-hitter answer, but pass 1 served from Misra-Gries partials
# STORED in the snapshot lake (operators/sketch_store.py) — the daily-job
# shape where the survivor set is read back from bounded stored partials
# and only the exact second pass touches the fact.  The telescoped MG
# bound (summed deficit over all stored partials <= n/(k+1)) guarantees
# the stored survivor union contains every item above the threshold, so
# the output is EXACTLY the plain GROUP BY/HAVING oracle, independent of
# how the partials were stored.  The store commit is replay-immune
# (applied_id = data fingerprint): repeat runs serve pass 1 from the
# lake without recomputing partials.
# --------------------------------------------------------------------------

_HH_STORE_K = 99  # threshold share = 1/(k+1) = 1%


def _frequent_tokens_from_partials(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        frequent_items_exact_from_partials,
        store_mg_partials,
    )
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        read_snapshot,
    )

    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.col("source").alias("stratum"),
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    root = _artifact_lake_root(
        sf_dir, "mg_partials", f"v1-k{_HH_STORE_K}-source"
    )
    # one daily-job-shaped commit per data fingerprint; a replayed run
    # appends nothing.  A regenerated corpus appends fresh partials into
    # the same lake — stale survivors only WIDEN the union, and the
    # exact second pass keeps the output correct either way.
    store_mg_partials(
        spark,
        toks,
        "tok",
        root,
        stratum="stratum",
        k=_HH_STORE_K,
        applied_id=_data_fingerprint(sf_dir),
    )
    partials = read_snapshot(spark, root)
    out = frequent_items_exact_from_partials(
        toks.select("tok"), partials, "tok", k=_HH_STORE_K
    )
    return out.select(F.col("item").alias("tok"), "cnt")


_register(
    QuerySpec(
        name="frequent_tokens_from_partials",
        survey_ids=("A2", "A3", "X4", "K2"),
        description="exact heavy-hitter tokens with pass 1 served from "
        "PERSISTED Misra-Gries partials in the snapshot lake (per-source "
        "strata, replay-immune commits): stored survivor union -> "
        "broadcast semi-join exact counts -> exact threshold; equals "
        "plain SQL GROUP BY/HAVING while the partial store never rescans "
        "the fact",
        spark=_frequent_tokens_from_partials,
        oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok
), n AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM t
)
SELECT tok, CAST(cnt AS BIGINT) AS cnt
FROM t, n
WHERE cnt * {_HH_STORE_K + 1} > n
ORDER BY cnt DESC, tok
""",
    )
)


# --------------------------------------------------------------------------
# A2+T2 STREAMING sketch-partial maintenance, oracle-paired (r15): the
# continuous-monitoring face of the partial lake
# (streaming/sketch_stream.py, pytest-only through r14 — the third
# r15 entry in the streaming-receipt program after curation and ANN
# maintenance).  Documents drain availableNow in three batches; each
# micro-batch appends its own bounded Misra-Gries partial to the
# snapshot lake under a stream-scoped replay identity; the serving
# step then runs the SAME two-pass exact recipe as
# frequent_tokens_from_partials with pass 1 read from the STREAMED
# partials.
# Why this is hash-checkable: per-batch MG partial CONTENT is
# batching-dependent (eviction order), but the telescoped
# completeness bound (summed deficit over all stored partials <=
# n/(k+1)) guarantees the streamed survivor UNION contains every item
# above the threshold for ANY batch split, and the exact second pass
# then makes the OUTPUT the plain GROUP BY/HAVING answer — identical
# oracle to the batch from_partials row.  Replay idempotence stays
# pytest-pinned (tests/test_sketch_stream.py).
# 100 TB shape: per batch one bounded partial (<= k rows per stratum)
# appends — the fact is never rescanned by the store; the exact pass
# is one broadcast semi-join at read time.
# --------------------------------------------------------------------------

def _stream_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        frequent_items_exact_from_partials,
    )
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        read_snapshot,
    )
    from crypto_data_ingestion_module_spark.streaming.sketch_stream import (
        stream_mg_partials,
    )

    docs = _t(spark, sf_dir, "documents")
    inp = _staged_doc_thirds(spark, sf_dir)
    scratch = run_dir("mg")
    lake = os.path.join(scratch, "mg")

    def _toks(frame: DataFrame) -> DataFrame:
        return (
            frame.filter(F.col("text").isNotNull())
            .select(
                F.col("source").alias("stratum"),
                F.explode(F.split(F.lower("text"), " ")).alias("tok"),
            )
            .filter(F.col("tok") != "")
        )

    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = stream_mg_partials(
        _toks(src),
        lake,
        os.path.join(scratch, "ck"),
        "tok",
        stratum="stratum",
        k=_HH_STORE_K,
    )
    q.awaitTermination()
    out = frequent_items_exact_from_partials(
        _toks(docs).select("tok"),
        read_snapshot(spark, lake),
        "tok",
        k=_HH_STORE_K,
    )
    return out.select(F.col("item").alias("tok"), "cnt")


_register(
    QuerySpec(
        name="stream_frequent_tokens",
        survey_ids=("A2", "A3", "X4", "T2"),
        description="exact heavy-hitter tokens with pass 1 served from "
        "STREAMED Misra-Gries partials (one bounded partial appended "
        "per availableNow micro-batch, replay-immune): the telescoped "
        "MG bound makes the streamed survivor union complete for any "
        "batch split, so the exact second pass equals plain SQL "
        "GROUP BY/HAVING",
        spark=_stream_frequent_tokens,
        oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok
), n AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM t
)
SELECT tok, CAST(cnt AS BIGINT) AS cnt
FROM t, n
WHERE cnt * {_HH_STORE_K + 1} > n
ORDER BY cnt DESC, tok
""",
    )
)


# --------------------------------------------------------------------------
# A2/A3 sketch breadth: mergeable count-distinct (HyperLogLog++) per
# (event_type, day) — the third leg of the sketch family (quantiles,
# heavy hitters, distinct) that 100 TB monitoring actually runs.
# Rows-only BY CONTRACT (HLL estimates are engine-specific); the
# relative-error bound vs exact counts is pinned in tests/test_sketch.py,
# the same discipline as value_quantiles_sketch / frequent_users_sketch.
# --------------------------------------------------------------------------

def _approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        )
    )


_register(
    QuerySpec(
        name="approx_distinct_users",
        survey_ids=("A2", "A3"),
        description="mergeable count-distinct sketch (HyperLogLog++, "
        "rsd=0.02) of users per (event_type, day) — bounded-memory "
        "partial aggregation; relative error vs exact pinned in pytest",
        spark=_approx_distinct_users,
        oracle=None,
    )
)


# --------------------------------------------------------------------------
# Iterative graph analytics: fixed-point PageRank (X2-adjacent, §2.5).
#
# The trade graph links suppliers and customers through orders (edge iff
# the supplier shipped a line item on the customer's order; both
# directions, so rank circulates).  Node encoding 2*custkey /
# 2*suppkey+1 keeps the two key spaces disjoint in one BIGINT column.
# All rank arithmetic is integer floor math in ppm units (see
# operators/graph.py:pagerank_fixed_point), so three unrolled chained
# CTEs in DuckDB reproduce the Spark loop bit-for-bit — an
# oracle-paired ITERATIVE algorithm, which float damping would forbid.
# --------------------------------------------------------------------------


def _pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.graph import (
        pagerank_fixed_point,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.lit(2) * F.col("l_suppkey") + F.lit(1)).alias("s"),
            (F.lit(2) * F.col("o_custkey")).alias("c"),
        )
        .distinct()
    )
    edges = pair.select(F.col("s").alias("src"), F.col("c").alias("dst")).union(
        pair.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    # edges are distinct by construction: pair is DISTINCT and the two
    # union branches are disjoint (src odd in one, even in the other), so
    # the loop's defensive full-edge distinct Exchange can be skipped
    r = pagerank_fixed_point(
        edges, iterations=3, scale=10**6, assume_distinct=True
    )
    return r.select("node", F.col("rank").alias("rank_micro"))


_register(
    QuerySpec(
        name="trade_graph_pagerank",
        survey_ids=("X2", "§2.5"),
        description="fixed-point PageRank (3 iterations, ppm integer "
        "arithmetic, damping 85/100) over the supplier<->customer trade "
        "graph from lineitem x orders; exact integer math makes the "
        "iterative recurrence engine-order-free and oracle-pairable",
        spark=_pagerank_q,
        oracle="""
WITH pair AS (
  SELECT DISTINCT 2*l_suppkey + 1 AS s, 2*o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT s AS src, c AS dst FROM pair
  UNION ALL
  SELECT c AS src, s AS dst FROM pair
),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
i1 AS (
  SELECT e.dst AS node, sum(r0.rank // deg.deg) AS inflow
  FROM e JOIN deg ON e.src = deg.src JOIN r0 ON e.src = r0.node
  GROUP BY e.dst
),
r1 AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(i1.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN i1 ON n.node = i1.node
),
i2 AS (
  SELECT e.dst AS node, sum(r1.rank // deg.deg) AS inflow
  FROM e JOIN deg ON e.src = deg.src JOIN r1 ON e.src = r1.node
  GROUP BY e.dst
),
r2 AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(i2.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN i2 ON n.node = i2.node
),
i3 AS (
  SELECT e.dst AS node, sum(r2.rank // deg.deg) AS inflow
  FROM e JOIN deg ON e.src = deg.src JOIN r2 ON e.src = r2.node
  GROUP BY e.dst
),
r3 AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(i3.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN i3 ON n.node = i3.node
)
SELECT node, rank AS rank_micro FROM r3
""",
    )
)


# --------------------------------------------------------------------------
# X1/X4: exact duplicate-passage removal (sub-document dedup).  Doc-level
# dedup can't shed boilerplate spans shared by otherwise-distinct pages;
# this keeps the globally-first occurrence of every repeated 8-word tile
# and reassembles the survivors (operators/text_dedup.py:
# remove_duplicate_passages — min-struct first-occurrence agg, never a
# window over the tile partition).
# --------------------------------------------------------------------------


def _dedup_passages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        remove_duplicate_passages,
    )

    return remove_duplicate_passages(_t(spark, sf_dir, "documents"), 8)


_register(
    QuerySpec(
        name="dedup_passages",
        survey_ids=("X1", "X4"),
        description="exact duplicate-passage removal: non-overlapping "
        "8-word tiles, globally-first occurrence kept (min (doc_id, "
        "tile_idx) per identical tile), per-doc reassembly + removal "
        "audit — the sub-document boilerplate-shedding pass doc-level "
        "dedup cannot do",
        spark=_dedup_passages_q,
        oracle="""
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS ws FROM documents
),
st AS (
  SELECT doc_id, ws,
         unnest(generate_series(0, CAST((len(ws) + 7) // 8 AS BIGINT) - 1))
           AS t
  FROM w WHERE len(ws) > 0
),
tiles AS (
  SELECT doc_id, t AS tile_idx,
         array_to_string(list_slice(ws, t*8 + 1, t*8 + 8), ' ') AS tile
  FROM st
),
flagged AS (
  SELECT doc_id, tile_idx, tile,
         row_number() OVER (PARTITION BY tile ORDER BY doc_id, tile_idx) = 1
           AS keep
  FROM tiles
),
per AS (
  SELECT doc_id,
         count(*) AS n_tiles,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         coalesce(
           string_agg(CASE WHEN keep THEN tile END, ' ' ORDER BY tile_idx),
           '') AS clean_text
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(per.n_tiles, 0) AS n_tiles,
       coalesce(per.n_removed, 0) AS n_removed,
       coalesce(per.clean_text, '') AS clean_text
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
""",
    )
)


# --------------------------------------------------------------------------
# A2 sketch family: KMV (bottom-k θ-sketch) distinct-count estimation —
# the ORACLE-PAIRED sketch (HLL's estimate is engine-internal, hence
# rows-only; KMV's estimator is md5 order statistics + exact integer
# floor division, reproducible bit-for-bit in plain SQL).
# --------------------------------------------------------------------------

_KMV_K = 64


def _distinct_users_kmv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch import (
        kmv_distinct_estimate,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_distinct_estimate(ev, "user_id", _KMV_K, ("event_type",))


_register(
    QuerySpec(
        name="distinct_users_kmv",
        survey_ids=("A2", "A3"),
        description=f"KMV/theta-sketch distinct users per event type "
        f"(bottom-{_KMV_K} md5 order statistics, exact-below-k, "
        f"(k-1)*2^48 DIV h_k estimator in exact integer math) — the "
        "mergeable count-distinct sketch that IS oracle-pairable",
        spark=_distinct_users_kmv_q,
        oracle=f"""
WITH dist AS (SELECT DISTINCT event_type, user_id AS item FROM events),
hashed AS (
  SELECT event_type, item,
         ('0x' || substring(md5(CAST(item AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM dist
),
rk AS (
  SELECT event_type, item, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h, item) AS r
  FROM hashed
),
agg AS (
  SELECT event_type, count(*) AS n_kept,
         max(CASE WHEN r = {_KMV_K} THEN h END) AS h_k
  FROM rk WHERE r <= {_KMV_K} GROUP BY event_type
)
SELECT event_type, n_kept,
       CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                 ELSE ({_KMV_K - 1} * {1 << 48}) // h_k END AS BIGINT)
         AS distinct_est
FROM agg
""",
    )
)


# --------------------------------------------------------------------------
# X3: Johnson–Lindenstrauss Rademacher projection (64 → 16 dims).  Same
# seeded-md5-sign construction as the LSH planes; micro-rounded inputs
# make every output coordinate an exact integer sum, so the projection
# is oracle-paired end to end (operators/projection.py).
# --------------------------------------------------------------------------


def _random_projection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.projection import (
        rademacher_project,
    )

    return rademacher_project(
        _t(spark, sf_dir, "embeddings"), d=64, out_dim=16, seed=7
    )


_register(
    QuerySpec(
        name="embedding_random_projection",
        survey_ids=("X3", "X5"),
        description="Johnson-Lindenstrauss Rademacher projection 64->16 "
        "dims (seeded md5-parity signs, exact integer micro-unit sums, "
        "map-only/shuffle-free) - the dimensionality-reduction front end "
        "of the similarity stack",
        spark=_random_projection_q,
        oracle="""
WITH sgn AS (
  SELECT i, j,
         CASE WHEN ('0x' || substr(md5(i || ':' || j || ':7'), 1, 1))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM generate_series(0, 63) g1(i), generate_series(0, 15) g2(j)
),
el AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(unnest(embedding) * 1e6) AS BIGINT) AS xm
  FROM embeddings
),
y AS (
  SELECT el.vec_id, sgn.j, sum(el.xm * sgn.s) AS p
  FROM el JOIN sgn ON el.i = sgn.i
  GROUP BY el.vec_id, sgn.j
)
SELECT vec_id,
       string_agg(CAST(CAST(p AS BIGINT) AS VARCHAR), ',' ORDER BY j)
         AS proj_csv
FROM y GROUP BY vec_id
""",
    )
)


# --------------------------------------------------------------------------
# X3: projected-ANN composition — JL prune (32-dim integer L2) + exact
# fixed-point cosine rerank of the m=192 survivors.  Both stages are
# deterministic integer math with (distance, id) tie-breaks, so the
# APPROXIMATE search is oracle-paired end to end; recall vs brute force
# is a measured pytest property, not a parity risk.  (These embeddings
# are isotropic random unit vectors — JL's hardest ranking case, since
# neighbors are barely closer than the bulk; real embedding manifolds
# cluster and prune far better.  m=192 is the smallest sweep setting
# with fixture recall >= 0.9 — VERDICT r9 item 3: a shipped default
# that drops 38% of true neighbors was not acceptable even with the
# honest worst-case explanation.  Widening m, not out_dim, keeps the
# corpus-proportional prune cost unchanged; m is a per-query constant.)
# --------------------------------------------------------------------------


def _ann_projected_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.projection import (
        projected_ann_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return projected_ann_topk(emb, queries, d=64, out_dim=32, seed=7, m=192, k=8)


_register(
    QuerySpec(
        name="ann_projected_topk",
        survey_ids=("X3",),
        description="two-stage ANN: Johnson-Lindenstrauss 32-dim integer "
        "L2 prune to 192 candidates per query (vec_id%100==0), exact "
        "fixed-point cosine rerank to top-8 - the projection-accelerated "
        "member of the ANN family (LSH/IVF/PQ/JL)",
        spark=_ann_projected_q,
        oracle=f"""
WITH sgn AS (
  SELECT i, j,
         CASE WHEN ('0x' || substr(md5(i || ':' || j || ':7'), 1, 1))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM generate_series(0, 63) g1(i), generate_series(0, 31) g2(j)
),
el AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(unnest(embedding) * 1e6) AS BIGINT) AS xm
  FROM embeddings
),
y AS (
  SELECT el.vec_id, sgn.j, sum(el.xm * sgn.s) AS p
  FROM el JOIN sgn ON el.i = sgn.i
  GROUP BY el.vec_id, sgn.j
),
d2 AS (
  SELECT yq.vec_id AS qid, yc.vec_id AS nid,
         sum((yq.p - yc.p) * (yq.p - yc.p)) AS d2p
  FROM y yq JOIN y yc ON yq.j = yc.j AND yq.vec_id <> yc.vec_id
  WHERE yq.vec_id % 100 = 0
  GROUP BY qid, nid
),
cand AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid ORDER BY d2p, nid) AS pr
    FROM d2
  ) WHERE pr <= 192
),
qn AS (
  SELECT qid, sqrt({_COS_DOT.format(a='x', b='x')}) AS qnorm
  FROM (SELECT vec_id AS qid, unnest(embedding) AS x FROM embeddings
        WHERE vec_id % 100 = 0)
  GROUP BY qid
),
cn AS (
  SELECT nid, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
  FROM (SELECT vec_id AS nid, unnest(embedding) AS x FROM embeddings)
  GROUP BY nid
),
dots AS (
  SELECT qid, nid, {_COS_DOT.format(a='xq', b='xn')} AS dot
  FROM (
    SELECT c.qid, c.nid, unnest(eq.embedding) AS xq, unnest(en.embedding) AS xn
    FROM cand c
    JOIN embeddings eq ON c.qid = eq.vec_id
    JOIN embeddings en ON c.nid = en.vec_id
  ) GROUP BY qid, nid
),
ranked AS (
  SELECT d.qid, d.nid, d.dot / (qn.qnorm * cn.nnorm) AS cosine,
         row_number() OVER (PARTITION BY d.qid
                            ORDER BY d.dot / (qn.qnorm * cn.nnorm) DESC, d.nid)
           AS rank
  FROM dots d JOIN qn ON d.qid = qn.qid JOIN cn ON d.nid = cn.nid
)
SELECT qid, nid, CAST(rank AS INT) AS rank, cosine FROM ranked WHERE rank <= 8
""",
    )
)


# --------------------------------------------------------------------------
# A2 sketch family: Count-Min point-frequency estimates — like KMV,
# built on the portable md5 hash so counters (exact integer sums) and
# estimates (exact MINs) are oracle-pairable.  Query set: a seeded
# md5-rank sample of 20 distinct tokens; output carries the exact count
# alongside so the overestimate-only property is visible in the answer.
# --------------------------------------------------------------------------

_CM_D, _CM_W = 4, 512


def _token_cm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch import (
        cm_counters,
        cm_point_estimates,
    )

    d = _t(spark, sf_dir, "documents")
    toks = (
        d.where(F.col("text").isNotNull())
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    counters = cm_counters(toks, "tok", _CM_D, _CM_W)
    # seeded 20-token sample via orderBy+limit = TakeOrdered (distributed
    # per-partition top-k, no single-partition window sort of the vocab)
    qtok = (
        toks.select("tok")
        .distinct()
        .orderBy(F.md5(F.concat(F.lit("q#"), F.col("tok"))), F.col("tok"))
        .limit(20)
    )
    est = cm_point_estimates(counters, qtok, "tok", _CM_D, _CM_W)
    exact = toks.groupBy(F.col("tok").alias("item")).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    return est.join(exact, "item").select("item", "cm_est", "exact_cnt")


_register(
    QuerySpec(
        name="token_freq_cm",
        survey_ids=("A2", "X4"),
        description="Count-Min point-frequency estimates (depth 4 x "
        "width 512, portable md5 buckets) for a seeded sample of 20 "
        "tokens, exact counts alongside - the 4th sketch family "
        "(MG/HLL/KMV/CM), oracle-paired because counters are exact "
        "integer sums and estimates exact MINs",
        spark=_token_cm_q,
        oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
),
tk AS (SELECT tok FROM toks WHERE tok <> ''),
counters AS (
  SELECT s, ('0x' || substr(md5(s || ':' || tok), 1, 12))::BIGINT % {_CM_W} AS b,
         count(*) AS c
  FROM tk, generate_series(0, {_CM_D - 1}) g(s)
  GROUP BY s, b
),
qtok AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY md5('q#' || tok), tok) AS r
    FROM (SELECT DISTINCT tok FROM tk)
  ) WHERE r <= 20
),
qb AS (
  SELECT tok, s, ('0x' || substr(md5(s || ':' || tok), 1, 12))::BIGINT % {_CM_W} AS b
  FROM qtok, generate_series(0, {_CM_D - 1}) g(s)
),
est AS (
  SELECT qb.tok AS item, min(c.c) AS cm_est
  FROM qb JOIN counters c ON qb.s = c.s AND qb.b = c.b
  GROUP BY qb.tok
),
ex AS (SELECT tok AS item, count(*) AS exact_cnt FROM tk GROUP BY tok)
SELECT e.item, CAST(e.cm_est AS BIGINT) AS cm_est, ex.exact_cnt
FROM est e JOIN ex ON e.item = ex.item
""",
    )
)


# --------------------------------------------------------------------------
# A2/K2: KMV distinct count served from PERSISTED bottom-k partials —
# the KMV twin of frequent_tokens_from_partials.  Per-day partials live
# in the snapshot lake; the answer re-ranks the stored union (KMV merge
# law: any globally-bottom-k hash is bottom-k within its own day, so
# the union always contains the global bottom-k).  Unlike the MG path
# there is no exact second pass to absorb staleness, so the refresh is
# a snapshot_overwrite keyed by the events fingerprint: a regenerated
# corpus REPLACES the partials atomically; a replayed build commits
# nothing.
# --------------------------------------------------------------------------


def _events_fingerprint(sf_dir: str) -> str:
    import os

    p = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(p)
        return f"{st.st_size}-{st.st_mtime_ns}"
    except OSError:
        return "nostat"


def _kmv_from_partials_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        kmv_distinct_over_range,
        kmv_partials,
    )
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_refresh,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("user_id").alias("u"),
    )
    root = _artifact_lake_root(sf_dir, "kmv_partials", "v1-k64-day")
    # version-salted, newest-entry-gated refresh (ADVICE r9): a source
    # REVERT to a previously-seen fingerprint commits a fresh overwrite
    # instead of serving stale partials off ledger membership.
    snapshot_refresh(
        spark,
        root,
        f"kmv-{_events_fingerprint(sf_dir)}",
        lambda: kmv_partials(ev, "u", "day", k=64),
        partition_cols=("day",),
    )
    return kmv_distinct_over_range(spark, root, k=64)


_register(
    QuerySpec(
        name="distinct_users_kmv_from_partials",
        survey_ids=("A2", "A3", "K2"),
        description="global distinct-user KMV estimate served from "
        "PERSISTED per-day bottom-64 partials in the snapshot lake "
        "(fingerprint-keyed overwrite refresh, replay-immune): stored "
        "union re-ranked by the KMV merge law, never re-reading the "
        "fact - equals the one-shot sketch and the plain-SQL oracle "
        "bit-for-bit",
        spark=_kmv_from_partials_q,
        oracle=f"""
WITH dist AS (SELECT DISTINCT user_id AS item FROM events),
hashed AS (
  SELECT item,
         ('0x' || substring(md5(CAST(item AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM dist
),
rk AS (
  SELECT h, row_number() OVER (ORDER BY h, item) AS r FROM hashed
)
SELECT count(*) AS n_kept,
       CAST(CASE WHEN count(*) < 64 THEN count(*)
                 ELSE (63 * {1 << 48}) // max(CASE WHEN r = 64 THEN h END)
            END AS BIGINT) AS distinct_est
FROM rk WHERE r <= 64
""",
    )
)


# --------------------------------------------------------------------------
# A2/K2: Count-Min point frequencies served from PERSISTED per-source
# counter partials — same fingerprint-keyed overwrite refresh as the
# KMV lake (CM also lacks an exact second pass, so staleness must be
# replaced, not absorbed); the range reader sums counters per (s, b)
# and answers exact MINs, never re-reading the fact.
# --------------------------------------------------------------------------


def _token_cm_from_partials_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        cm_estimates_over_range,
        cm_sketch_partials,
    )
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_refresh,
    )

    d = _t(spark, sf_dir, "documents")
    toks = (
        d.where(F.col("text").isNotNull())
        .select(
            F.col("source").alias("stratum"),
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    root = _artifact_lake_root(sf_dir, "cm_partials", f"v1-d{_CM_D}w{_CM_W}-source")
    # version-salted, newest-entry-gated refresh (ADVICE r9): CM
    # counters are sums with no exact second pass, so a fingerprint
    # revert must REPLACE the lake, not no-op on ledger membership.
    snapshot_refresh(
        spark,
        root,
        f"cm-{_data_fingerprint(sf_dir)}",
        lambda: cm_sketch_partials(toks, "tok", "stratum", _CM_D, _CM_W),
        partition_cols=("stratum",),
    )
    qtok = (
        toks.select("tok")
        .distinct()
        .orderBy(F.md5(F.concat(F.lit("q#"), F.col("tok"))), F.col("tok"))
        .limit(20)
    )
    return cm_estimates_over_range(
        spark, root, qtok, "tok", _CM_D, _CM_W
    ).select("item", "cm_est")


_register(
    QuerySpec(
        name="token_freq_cm_from_partials",
        survey_ids=("A2", "X4", "K2"),
        description="Count-Min point frequencies served from PERSISTED "
        "per-source counter partials in the snapshot lake (fingerprint-"
        "keyed overwrite refresh): range reader sums counters per (s,b) "
        "- the CM merge - and answers exact MINs without re-reading the "
        "fact; equals the one-shot sketch and plain SQL bit-for-bit",
        spark=_token_cm_from_partials_q,
        oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
),
tk AS (SELECT tok FROM toks WHERE tok <> ''),
counters AS (
  SELECT s, ('0x' || substr(md5(s || ':' || tok), 1, 12))::BIGINT % {_CM_W} AS b,
         count(*) AS c
  FROM tk, generate_series(0, {_CM_D - 1}) g(s)
  GROUP BY s, b
),
qtok AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY md5('q#' || tok), tok) AS r
    FROM (SELECT DISTINCT tok FROM tk)
  ) WHERE r <= 20
),
qb AS (
  SELECT tok, s, ('0x' || substr(md5(s || ':' || tok), 1, 12))::BIGINT % {_CM_W} AS b
  FROM qtok, generate_series(0, {_CM_D - 1}) g(s)
)
SELECT qb.tok AS item, CAST(min(c.c) AS BIGINT) AS cm_est
FROM qb JOIN counters c ON qb.s = c.s AND qb.b = c.b
GROUP BY qb.tok
""",
    )
)


# --------------------------------------------------------------------------
# X4: positional-index phrase search — the adjacency query the tf-only
# inverted index cannot answer.  Bigrams come from ONE lead() window
# over the positional postings (no positional self-join); the phrase
# shortlist is a bounded broadcast.
# --------------------------------------------------------------------------


def _phrase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.search import (
        phrase_topk_docs,
    )

    return phrase_topk_docs(
        _t(spark, sf_dir, "documents"), n_phrases=5, topk=10
    )


_register(
    QuerySpec(
        name="phrase_topk_docs",
        survey_ids=("X4",),
        description="positional-index phrase search: the corpus's 5 most "
        "frequent bigram phrases (ties by text) and each phrase's top-10 "
        "documents by occurrence count - one lead() window over the "
        "positional postings, no document rescans",
        spark=_phrase_q,
        oracle="""
WITH toks AS (
  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos, unnest(ws) AS term
  FROM (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS ws
        FROM documents)
),
bg AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, term AS w1,
           lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks
  ) WHERE w2 IS NOT NULL
),
top AS (
  SELECT w1, w2 FROM (
    SELECT w1, w2,
           row_number() OVER (ORDER BY count(*) DESC, w1, w2) AS r
    FROM bg GROUP BY w1, w2
  ) WHERE r <= 5
),
hits AS (
  SELECT bg.w1, bg.w2, bg.doc_id, count(*) AS hits
  FROM bg JOIN top USING (w1, w2)
  GROUP BY bg.w1, bg.w2, bg.doc_id
)
SELECT w1, w2, doc_id, CAST(hits AS BIGINT) AS hits, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY w1, w2 ORDER BY hits DESC, doc_id
  ) AS rank FROM hits
) WHERE rank <= 10
""",
    )
)


# --------------------------------------------------------------------------
# X3/X4: reciprocal-rank fusion of the lexical (BM25) and dense (cosine)
# rankers over the shared conjunctive candidate set — the standard
# hybrid-retrieval combiner, in exact integer parts-per-million
# (1000000 DIV (60 + rank)) so the fusion is oracle-paired bit-for-bit.
# --------------------------------------------------------------------------


def _rrf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from crypto_data_ingestion_module_spark.operators.search import (
        hybrid_rerank,
        rrf_fuse,
    )

    h = hybrid_rerank(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        _SEARCH_TERMS,
        query_vec_id=0,
        k=1_000_000_000,
    )
    ra = h.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    rb = h.select("doc_id", "rank")
    return rrf_fuse(ra, rb, id_col="doc_id", k=10, c=60)


def _rrf_oracle() -> str:
    from crypto_data_ingestion_module_spark.operators.search import (
        BM25_LITE_EXPR,
    )

    terms_sql = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    return f"""
WITH postings AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS t
        FROM documents)
  WHERE t IN ({terms_sql})
  GROUP BY doc_id, t
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
dl AS (SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS dl
       FROM documents),
stats AS (SELECT count(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          FROM dl),
bm25 AS (
  SELECT doc_id,
         (CAST(SUM(CAST(round(t_score * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
          / 1000000.0) AS bm25
  FROM (
    SELECT p.doc_id, {BM25_LITE_EXPR} AS t_score
    FROM postings p
    JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  ) GROUP BY doc_id HAVING count(*) = {len(_SEARCH_TERMS)}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT b.doc_id, b.bm25, e.embedding AS nv
  FROM bm25 b JOIN embeddings e ON e.vec_id = b.doc_id
),
qn AS (SELECT sqrt({_COS_DOT.format(a='x', b='x')}) AS qnorm
       FROM (SELECT unnest(qv) AS x FROM q)),
cn AS (SELECT doc_id, sqrt({_COS_DOT.format(a='x', b='x')}) AS nnorm
       FROM (SELECT doc_id, unnest(nv) AS x FROM cand) GROUP BY doc_id),
dots AS (
  SELECT doc_id, {_COS_DOT.format(a='xq', b='xn')} AS dot
  FROM (SELECT c.doc_id, unnest(q.qv) AS xq, unnest(c.nv) AS xn
        FROM cand c CROSS JOIN q)
  GROUP BY doc_id
),
rb AS (
  SELECT c2.doc_id,
         row_number() OVER (
           ORDER BY d.dot / (qn.qnorm * cn.nnorm) DESC, c2.doc_id
         ) AS rank_cos
  FROM cand c2
  JOIN dots d ON d.doc_id = c2.doc_id
  JOIN cn ON cn.doc_id = c2.doc_id
  CROSS JOIN qn
),
ra AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25
  FROM cand
),
fused AS (
  SELECT ra.doc_id,
         (1000000 // (60 + ra.rank_bm25)) + (1000000 // (60 + rb.rank_cos))
           AS rrf_ppm
  FROM ra JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm, CAST(rank AS INT) AS rank
FROM (
  SELECT doc_id, rrf_ppm,
         row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= 10
"""


_register(
    QuerySpec(
        name="hybrid_rrf_topk",
        survey_ids=("X3", "X4"),
        description="reciprocal-rank fusion of BM25 and cosine rankers "
        "over the conjunctive candidate set: rrf_ppm = 1000000 DIV "
        "(60 + rank_bm25) + 1000000 DIV (60 + rank_cosine), fused top-10",
        spark=_rrf_q,
        oracle=_rrf_oracle(),
    )
)


# --------------------------------------------------------------------------
# A2/A3: histogram-sketch quantiles, ORACLE-PAIRED — upgrades the
# quantile-sketch story from rows-only (value_quantiles_sketch uses
# Spark's engine-specific approx_percentile) to hash-checked: on a
# fixed power-of-two grid every step is float-exact in both engines
# (v/8 is an exact IEEE division, bucket edges are exact doubles,
# cumulative counts are integers), so the ESTIMATOR itself — not just
# its error bound — is verified cross-engine.  One-bucket-width error
# vs true quantiles stays pinned in tests/test_sketch_store.py.
# --------------------------------------------------------------------------

_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 1024.0, 128  # width 8.0: exact in IEEE
_HQ_QS = (0.5, 0.9, 0.99)


def _value_quantiles_hist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.sketch_store import (
        histogram_partials,
        quantiles_from_histogram,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    )
    hist = histogram_partials(
        ev, "value", _HQ_LO, _HQ_HI, _HQ_BINS, stratum="day"
    )
    return quantiles_from_histogram(
        hist, _HQ_QS, _HQ_LO, _HQ_HI, _HQ_BINS
    )


_register(
    QuerySpec(
        name="value_quantiles_from_histogram",
        survey_ids=("A2", "A3"),
        description="quantile estimates (p50/p90/p99 of events.value) "
        "from fixed-grid histogram partials: per-day bucket counts merge "
        "by exact summation, estimate = upper edge of the first bucket "
        "reaching q*n - power-of-two width makes the whole estimator "
        "hash-exact cross-engine, not just error-bounded",
        spark=_value_quantiles_hist_q,
        oracle=f"""
WITH v AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
b AS (
  SELECT CASE WHEN v < {_HQ_LO} THEN -1
              WHEN v >= {_HQ_HI} THEN {_HQ_BINS}
              ELSE least(CAST(floor((v - {_HQ_LO}) / 8.0) AS BIGINT),
                         {_HQ_BINS - 1})
         END AS bucket,
         count(*) AS c
  FROM v GROUP BY 1
),
cum AS (
  SELECT bucket,
         sum(c) OVER (ORDER BY bucket) AS cum,
         sum(c) OVER () AS n
  FROM b
),
qs(q) AS (VALUES (0.5), (0.9), (0.99))
SELECT CAST(qs.q AS DOUBLE) AS q,
       {_HQ_LO} + (min(cum.bucket) + 1) * 8.0 AS estimate
FROM qs, cum
-- CAST to DOUBLE: VALUES(0.5) is DECIMAL in DuckDB; the Spark side
-- multiplies doubles, and a decimal-vs-double product could flip a
-- cum == q*n boundary tie between engines
WHERE cum.cum >= CAST(qs.q AS DOUBLE) * cum.n
GROUP BY qs.q
""",
    )
)


# --------------------------------------------------------------------------
# X3: MMR diversified top-k — the standard RAG diversity re-ranker,
# greedy over a bounded candidate set, oracle-paired by unrolling the
# k=3 greedy steps (the quantized-recurrence discipline: λ=0.5 is an
# EXACT IEEE multiply, sims are exact fixed-point cosines, greatest()
# over exact doubles is engine-exact, argmax ties break by id).
# --------------------------------------------------------------------------


def _mmr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.similarity import (
        mmr_select,
    )

    return mmr_select(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, m=16, k=3
    )


def _mmr_oracle() -> str:
    dq = _COS_DOT.format(a="x", b="x")
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qn AS (SELECT sqrt({dq}) AS qnorm FROM (SELECT unnest(qv) AS x FROM q)),
cn AS (SELECT nid, sqrt({dq}) AS nnorm
       FROM (SELECT vec_id AS nid, unnest(embedding) AS x
             FROM embeddings WHERE vec_id <> 0) GROUP BY nid),
dots AS (
  SELECT nid, {_COS_DOT.format(a='xq', b='xn')} AS dot
  FROM (SELECT e.vec_id AS nid, unnest(q.qv) AS xq,
               unnest(e.embedding) AS xn
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
  GROUP BY nid
),
cand AS (
  SELECT d.nid, d.dot / (qn.qnorm * cn.nnorm) AS simq
  FROM dots d JOIN cn USING (nid) CROSS JOIN qn
  ORDER BY simq DESC, nid LIMIT 16
),
pv AS (SELECT c.nid, e.embedding AS v
       FROM cand c JOIN embeddings e ON e.vec_id = c.nid),
pdots AS (
  SELECT a, b, {_COS_DOT.format(a='xa', b='xb')} AS dot
  FROM (SELECT p1.nid AS a, p2.nid AS b, unnest(p1.v) AS xa,
               unnest(p2.v) AS xb
        FROM pv p1 JOIN pv p2 ON p1.nid <> p2.nid)
  GROUP BY a, b
),
pn AS (SELECT nid, sqrt({dq}) AS nrm
       FROM (SELECT nid, unnest(v) AS x FROM pv) GROUP BY nid),
pair AS (
  SELECT d.a, d.b, d.dot / (na.nrm * nb.nrm) AS sim
  FROM pdots d JOIN pn na ON na.nid = d.a JOIN pn nb ON nb.nid = d.b
),
s1 AS (SELECT nid, 0.5 * simq AS mmr_score
       FROM cand ORDER BY simq DESC, nid LIMIT 1),
st2 AS (
  SELECT c.nid, 0.5 * c.simq - 0.5 * p.sim AS mmr_score
  FROM cand c
  JOIN pair p ON p.a = c.nid AND p.b = (SELECT nid FROM s1)
),
s2 AS (SELECT nid, mmr_score FROM st2
       ORDER BY mmr_score DESC, nid LIMIT 1),
st3 AS (
  SELECT c.nid, 0.5 * c.simq - 0.5 * greatest(p1.sim, p2.sim) AS mmr_score
  FROM cand c
  JOIN pair p1 ON p1.a = c.nid AND p1.b = (SELECT nid FROM s1)
  JOIN pair p2 ON p2.a = c.nid AND p2.b = (SELECT nid FROM s2)
),
s3 AS (SELECT nid, mmr_score FROM st3
       ORDER BY mmr_score DESC, nid LIMIT 1)
SELECT CAST(1 AS INT) AS rank, nid, mmr_score FROM s1
UNION ALL
SELECT CAST(2 AS INT) AS rank, nid, mmr_score FROM s2
UNION ALL
SELECT CAST(3 AS INT) AS rank, nid, mmr_score FROM s3
"""


_register(
    QuerySpec(
        name="mmr_diversified_topk",
        survey_ids=("X3",),
        description="maximal-marginal-relevance diversified top-3 of the "
        "query's 16 nearest neighbors (lambda=0.5 exact IEEE multiply, "
        "exact fixed-point cosines, greedy steps unrolled like the "
        "fixed-point PageRank) - the RAG diversity re-ranker, "
        "oracle-paired end to end",
        spark=_mmr_q,
        oracle=_mmr_oracle(),
    )
)


# --------------------------------------------------------------------------
# X2: ORACLE-PAIRED MinHash LSH — the md5 twin of the fast xxhash64
# pipeline (minhash_lsh_pairs stays rows-only BY CONTRACT; this row
# hash-checks the identical banded machinery end to end, the same
# twin relationship simhash60_md5 has to the SimHash fingerprints).
# --------------------------------------------------------------------------


_MINHASH_MD5_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS ws FROM documents
),
sh AS (
  SELECT doc_id AS id, unnest(list_distinct(
    CASE WHEN len(ws) >= 3
         THEN list_transform(range(1, len(ws) - 1),
                             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         ELSE [array_to_string(ws, ' ')] END)) AS shingle
  FROM w
),
ab AS (
  SELECT id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS a,
         ('0x' || substr(md5(shingle), 13, 12))::BIGINT AS b
  FROM sh
),
hs AS (
  SELECT id, i, min((a + i * b) % 281474976710656) AS h
  FROM ab, generate_series(0, 15) t(i)
  GROUP BY id, i
),
sig AS (SELECT id, list(h ORDER BY i) AS sig FROM hs GROUP BY id),
bnd AS (
  SELECT s.id, t.b || ':' || array_to_string(
           list_transform(range(1, 5),
                          r -> CAST(s.sig[t.b * 4 + r] AS VARCHAR)), ',')
         AS bkey
  FROM sig s, generate_series(0, 3) t(b)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
  FROM bnd a JOIN bnd b2 ON a.bkey = b2.bkey AND a.id < b2.id
),
m AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) AS n_match
  FROM cand c
  JOIN hs ha ON ha.id = c.id_a
  JOIN hs hb ON hb.id = c.id_b AND hb.i = ha.i
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, CAST(n_match AS INT) AS n_match,
       CAST(n_match AS DOUBLE) / 16.0 AS est_jaccard
FROM m
"""


def _minhash_md5_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        minhash_lsh_pairs_md5,
    )

    return minhash_lsh_pairs_md5(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, shingle_n=3
    )


_register(
    QuerySpec(
        name="minhash_lsh_pairs_md5",
        survey_ids=("X2",),
        description="MinHash LSH candidate pairs on a portable md5-derived "
        "hash family (one md5 per shingle, 16 Kirsch-Mitzenmacher minima, "
        "4 bands of 4, CSV band keys): the whole "
        "banded pipeline - shingles, per-hash minima, band join, "
        "matching-fraction estimate - hash-checked against plain SQL",
        spark=_minhash_md5_q,
        oracle=_MINHASH_MD5_ORACLE,
    )
)



# --------------------------------------------------------------------------
# X2+T2 STREAMING dedup pair log, oracle-paired (r15: the fourth and
# final entry in the round's streaming-receipt program —
# streaming/dedup_stream.py held the last pytest-only pair-log sink).
# Documents drain availableNow in three batches; each micro-batch
# probes the accumulated md5-MinHash band index
# (incremental_minhash_md5_pairs — the oracle-pairable Kirsch–
# Mitzenmacher family; the xxhash64 production twin stays rows-only by
# the same contract as minhash_lsh_pairs) and appends its band rows,
# pair log and index both snapshot lakes (a replay is skipped by the
# manifest ledger).
# Why this is hash-checkable: band keys are pure per-document
# functions, so an unordered pair surfaces exactly once — in the batch
# carrying its LATER side — and the accumulated pair log over ANY
# batch split equals minhash_lsh_pairs_md5's one-shot pair set; the
# row reuses that oracle verbatim.
# 100 TB shape: per batch one equi-join of the batch's band rows
# against the index on bkey — O(batch + collisions), never all-pairs,
# never a corpus rescan.
# --------------------------------------------------------------------------

def _stream_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from crypto_data_ingestion_module_spark.streaming.dedup_stream import (
        read_dedup_pairs_md5,
        stream_dedup_ingest_md5,
    )

    docs = _t(spark, sf_dir, "documents")
    inp = _staged_doc_thirds(spark, sf_dir)
    scratch = run_dir("dedup_pairs")
    lake = os.path.join(scratch, "lake")
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = stream_dedup_ingest_md5(
        src,
        lake_root=lake,
        checkpoint=os.path.join(scratch, "ck"),
        num_hashes=16,
        bands=4,
        shingle_n=3,
    )
    q.awaitTermination()
    return read_dedup_pairs_md5(spark, lake).select(
        "id_a", "id_b", "n_match", "est_jaccard"
    )


_register(
    QuerySpec(
        name="stream_dedup_pairs",
        survey_ids=("X2", "T2"),
        description="streaming near-dup pair log on the md5-MinHash "
        "band index: each availableNow micro-batch probes the "
        "accumulated index and appends its band rows (replay replaces "
        "its own partition); pure per-document band keys emit every "
        "pair exactly once, so the accumulated log equals the one-shot "
        "minhash_lsh_pairs_md5 pair set for any batch split",
        spark=_stream_dedup_pairs_q,
        oracle=_MINHASH_MD5_ORACLE,
    )
)
