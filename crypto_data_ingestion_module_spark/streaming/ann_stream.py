"""Incremental ANN-index maintenance: stream embeddings into an IVF-PQ
index lake.

A growing corpus needs its IVF-PQ index to grow WITHOUT retraining or
re-encoding what is already indexed.  Standard discipline (FAISS/Milvus
alike): the
quantizers are FROZEN — coarse centroids and PQ codebooks come from a
reference corpus and are retrained offline when drift warrants — and
each arriving batch is encoded against them and appended to its lists.

foreachBatch per micro-batch:
- assign each new vector's ``list_id`` (frozen seeded centroids), and
- PQ-encode it (frozen seeded codebooks),
then append ``(nid, list_id, codes)`` — the ~32x-compressed serving form
— to a snapshot lake partitioned by ``list_id``, with the batch id in the
manifest's ``applied_ids`` ledger, so an at-least-once replay appends
nothing instead of duplicating rows (the same discipline as
streaming/dedup_stream's fingerprint index).

Because the quantizers are frozen, streaming N batches produces
EXACTLY the rows batch-encoding their union would (pinned by test) —
the index never forks from its batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.sinks.snapshot import (
    read_snapshot,
    snapshot_append,
)
from crypto_data_ingestion_module_spark.streaming.identity import (
    start_ledgered_sink,
)


def index_batch(
    batch: DataFrame,
    reference: DataFrame,
    lake_root: str,
    batch_id: int | str,
    n_lists: int = 16,
    m: int = 8,
    k_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> None:
    """Encode + assign one batch against the frozen quantizers and append
    it to the index lake (idempotent per batch id).

    The append is one snapshot commit partitioned by ``list_id``, with
    the batch id in the manifest's replay ledger — a re-delivered batch
    appends NOTHING, and searchers scanning the index mid-append see a
    whole version, never a partial batch."""
    from crypto_data_ingestion_module_spark.operators.pq import (
        pq_encode,
        seeded_codebook,
    )
    from crypto_data_ingestion_module_spark.operators.similarity import (
        _ivf_seed_assign_normed,
        _seed_centroids,
        with_norm,
    )

    ref = with_norm(
        reference.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
        ),
        "nv",
        exact=True,
        long_safe=True,
    ).withColumnRenamed("_norm", "nnorm")
    cent = _seed_centroids(ref, n_lists)
    cb = seeded_codebook(reference, m, k_codes, vec_col, id_col)

    new = with_norm(
        batch.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        exact=True,
        long_safe=True,
    ).withColumnRenamed("_norm", "nnorm")
    assigned = _ivf_seed_assign_normed(new, cent, True).select(
        "nid", "list_id"
    )
    codes = (
        pq_encode(batch, cb, m, vec_col, id_col, dim)
        .groupBy("nid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("j"), F.col("code")))
            ).alias("_c")
        )
        .select(
            "nid", F.transform(F.col("_c"), lambda s: s["code"]).alias("codes")
        )
    )
    snapshot_append(
        batch.sparkSession,
        lake_root,
        assigned.join(codes, "nid"),
        partition_cols=("list_id",),
        applied_id=f"ann-{batch_id}",
    )


def read_index(spark: SparkSession, lake_root: str) -> DataFrame:
    return read_snapshot(spark, lake_root)


def stream_index_embeddings(
    source: DataFrame,
    reference: DataFrame,
    lake_root: str,
    checkpoint: str,
    n_lists: int = 16,
    m: int = 8,
    k_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Start incremental index maintenance over an embedding stream."""
    return start_ledgered_sink(
        source,
        checkpoint,
        lambda batch_df, bid: index_batch(
            batch_df,
            reference,
            lake_root,
            bid,
            n_lists,
            m,
            k_codes,
            vec_col,
            id_col,
            dim,
        ),
        available_now,
    )
