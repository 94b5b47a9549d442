"""Incremental near-dup vs from-scratch equivalence.

The LSH invariant: batch-by-batch ingestion must find EXACTLY the pairs
a from-scratch run over the full corpus finds (banding is
order-independent), with at-least-one-new-side scoping per batch.
"""

from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.incremental import (
    incremental_near_dup,
)
from crypto_data_ingestion_module_spark.operators.text_dedup import (
    minhash_lsh_pairs,
)
from crypto_data_ingestion_module_spark.session import load_table
from tests.conftest import SF_SMALL


def _pairs_set(df):
    return {
        (r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in df.collect()
    }


def test_incremental_equals_from_scratch(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)

    p1, idx1 = incremental_near_dup(b1, None)
    p2, _ = incremental_near_dup(b2, idx1)

    full = minhash_lsh_pairs(docs)
    assert _pairs_set(p1) | _pairs_set(p2) == _pairs_set(full)
    # batch-2 pairs all touch a batch-2 doc
    assert all(r.id_b >= 250 for r in p2.collect())
    # the two batches' pair sets are disjoint (each pair reported once,
    # in the batch that completed it)
    assert not (_pairs_set(p1) & _pairs_set(p2))
