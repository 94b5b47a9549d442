"""Streaming join-view maintenance: feed operators/ivm.py from
Structured Streaming sources via foreachBatch.

Each micro-batch of a side stream applies the IVM delta rule through
:func:`operators.ivm.maintain_join_view` with a stream-scoped batch id
(``streaming.identity.stream_qid`` + micro-batch id — the same
idempotence discipline as streaming/sketch_stream.py), so an
at-least-once re-delivered micro-batch is a three-lake no-op and the
view never double-counts.

Concurrency contract: ONE maintainer at a time.  The delta rule reads
both sides' pre-states; two maintainers applying OPPOSITE sides
concurrently could each compute a delta that misses the other's
in-flight rows (the ΔA ⋈ ΔB cross term belongs to exactly one of
them).  Streams of the two sides must therefore be scheduled
sequentially (e.g. alternating availableNow drains, as the tests do) or
share an external lock — the same single-writer discipline the rollup
maintainer documents.  Snapshot-lake commit retries protect the
physical commits either way; this contract is about delta
COMPLETENESS, not manifest atomicity.

The reference has no streaming or join-view surface; §2.8 / K2-lane
capability extension composing two existing pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.operators.ivm import (
    LEFT,
    RIGHT,
    maintain_join_view,
)
from crypto_data_ingestion_module_spark.streaming.identity import (
    start_ledgered_sink,
)


def stream_join_view(
    source: DataFrame,
    side: str,
    lake_root: str,
    on: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain one SIDE of the materialized join view from a stream.

    ``side`` is ``"left"`` or ``"right"``; every micro-batch becomes an
    append-only IVM batch for that side (the other side's batch is
    None).  Empty micro-batches are skipped entirely — no ledger entry,
    no version bump.
    """
    if side not in (LEFT, RIGHT):
        raise ValueError(f"side must be {LEFT!r} or {RIGHT!r}, got {side!r}")

    return start_ledgered_sink(
        source,
        checkpoint,
        lambda batch_df, bid: maintain_join_view(
            batch_df.sparkSession,
            lake_root,
            batch_df if side == LEFT else None,
            batch_df if side == RIGHT else None,
            on,
            f"{side}-{bid}",
        ),
        available_now,
    )
