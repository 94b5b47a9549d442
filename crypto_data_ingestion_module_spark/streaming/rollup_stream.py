"""Streaming continuous aggregate: tick stream → incremental candle lake.

``operators.rollup`` in ``foreachBatch``: every micro-batch merges its
algebraic candle partials into the touched date partitions only.  This
is the third maintenance discipline the streaming layer offers, and the
one the others can't replace:

- ``streaming.stateful`` builds candles in STATE STORES — lowest
  latency, but state is watermark-bounded and lost to the checkpoint.
- ``streaming.live`` keep-last-MERGES already-final candle rows.
- this module maintains candles AS AGGREGATES of raw ticks with no
  watermark bound at all: a tick arriving a month late still lands in
  its bucket, because merge is associative and the bucket's partial is
  re-merged, not overwritten — the continuous-aggregate pattern of
  timeseries stores applied to the reference's candle lake
  (crypto_collector.py:523-558 save path, re-expressed as maintenance).

Exactly-once: foreachBatch is at-least-once, and partial-merging is
additive, so idempotence comes from the snapshot lake's ``applied_ids``
ledger (``maintain_rollup_snapshot``) — a replayed batch id is a no-op
by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from crypto_data_ingestion_module_spark.operators.rollup import (
    maintain_rollup_snapshot,
)
from crypto_data_ingestion_module_spark.streaming.identity import (
    start_ledgered_sink,
)


def stream_rollup(
    source: DataFrame,
    lake_root: str,
    checkpoint: str,
    interval_ms: int,
    keys: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    price_col: str = "value",
    volume_col: str | None = None,
    tiebreak_col: str = "event_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Start continuous candle maintenance over a tick stream.

    Every micro-batch is ONE atomic manifest swap on the snapshot lake
    (``maintain_rollup_snapshot``); the commit cost is independent of
    how many dates the batch touches.  The manifest's applied-ids
    ledger, keyed ``rollup-{qid}-{n}`` (streaming/identity.py), makes
    at-least-once foreachBatch delivery never double-merge, and a stream
    on a fresh checkpoint never collides with an earlier one's ids.
    Read the lake back with ``operators.rollup.read_rollup_snapshot``.
    """

    return start_ledgered_sink(
        source,
        checkpoint,
        lambda batch_df, bid: maintain_rollup_snapshot(
            batch_df.sparkSession,
            batch_df,
            lake_root,
            interval_ms,
            batch_id=bid,
            keys=keys,
            ts_col=ts_col,
            price_col=price_col,
            volume_col=volume_col,
            tiebreak_col=tiebreak_col,
        ),
        available_now,
    )
