"""Streaming sketch-partial maintenance: continuously append bounded
Misra-Gries partials to the sketch-partial lake
(operators/sketch_store.py) from a structured stream.

The batch shape of the store is a daily job; the 100 TB monitoring
reality is a CONTINUOUS feed where each micro-batch contributes its own
bounded partial and readers merge over any range without ever touching
the fact.  MG tolerates arbitrary re-batching: a micro-batch partial is
just one more stored partial, and the telescoped completeness bound
(summed deficit <= n_range/(k+1) over ALL stored partials of the range)
is batching-independent, so ``frequent_items_exact_from_partials`` over
streamed partials EQUALS the one-shot two-pass operator over the union
(the ``stream_frequent_tokens`` registry row and pinned in tests).

foreachBatch per micro-batch: one ``snapshot_append`` with a
stream-scoped ``applied_id`` (``streaming.identity.stream_qid`` + batch
id — the same idempotence discipline as streaming/ann_stream.py), so an
at-least-once re-delivered micro-batch appends NOTHING and the partial
lake never double-counts, while a deleted-and-recreated checkpoint path
gets a FRESH identity so its batch 0 cannot collide with the previous
incarnation's ledger entries (ADVICE r8).

The reference has no sketch or streaming surface (crypto_collector.py
is a single-process pandas loop); SURVEY §2.5 / A2 / T2-lane capability
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.operators.sketch_store import (
    store_mg_partials,
)
from crypto_data_ingestion_module_spark.streaming.identity import (
    start_ledgered_sink,
)


def stream_mg_partials(
    source: DataFrame,
    root: str,
    checkpoint: str,
    col: str,
    stratum: str = "day",
    k: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the MG heavy-hitter partial lake from a stream: each
    micro-batch appends its own bounded ``(stratum, item, count_lower)``
    partial, replay-immune per batch id."""

    return start_ledgered_sink(
        source,
        checkpoint,
        lambda batch_df, bid: store_mg_partials(
            batch_df.sparkSession,
            batch_df,
            col,
            root,
            stratum=stratum,
            k=k,
            applied_id=f"mg-{bid}",
        ),
        available_now,
    )
