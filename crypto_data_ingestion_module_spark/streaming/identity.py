"""Stream-scoped ledger identity and the one foreachBatch sink every
lake-writing stream starts through (:func:`start_ledgered_sink`).

The snapshot-lake replay ledger dedupes on ``applied_id = f"{qid}-
{batch_id}"`` (Delta's txnAppId discipline).  A qid of
``md5(checkpoint_path)`` alone would drop data silently: delete and
recreate the SAME checkpoint path against an existing lake and the new
stream restarts batch ids at 0 under the old qid, so its first
micro-batches collide with the previous incarnation's ledger entries
and are skipped as replays.

So the checkpoint's own creation marker is folded into the hash.  Spark
writes ``<checkpoint>/metadata`` (a StreamMetadata JSON holding the
query ``id``) when the query starts, BEFORE any batch executes; the id
is minted once per checkpoint-directory creation and persists across
restarts of the same directory.  That is exactly the identity we need:
restart of the same checkpoint -> same qid (replay dedup keeps
working); recreated checkpoint path -> fresh qid (no collision).

``stream_qid`` must be called from INSIDE the foreachBatch sink — at
plan-build time a brand-new checkpoint has no metadata file yet, so
the marker would read empty there and restarts would change identity.
:func:`start_ledgered_sink` does that for its callers.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import urllib.parse
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

_log = logging.getLogger(__name__)
_warned_fallback: set[str] = set()


def stream_qid(checkpoint: str) -> str:
    """12-hex stream identity: md5(checkpoint path + creation marker).

    The metadata file is read through a plain ``open()``, so a
    ``file:`` scheme prefix (Spark's default on a local FS) is stripped
    first — without that, every ``file:/...`` checkpoint would silently
    fall back to the path-only hash and reinstate the recycled-path
    collision this module exists to fix (ADVICE r9).  Genuinely remote
    checkpoints (hdfs:, s3a:, ...) still fall back to path-only
    identity, but now emit a one-time warning per path instead of
    degrading invisibly.
    """
    local = checkpoint
    if local.startswith("file:"):
        # Proper URI parsing (ADVICE r10): file:///p and file:/p both
        # yield path /p with empty netloc; file://host/p has a non-empty
        # netloc we cannot read locally, so it keeps the (warned)
        # path-only fallback below rather than misreading /host/p.
        # unquote() recovers percent-encoded paths (e.g. %20 spaces).
        parsed = urllib.parse.urlparse(local)
        if parsed.netloc in ("", "localhost"):
            local = urllib.parse.unquote(parsed.path)
    marker = ""
    try:
        with open(os.path.join(local, "metadata")) as fh:
            marker = json.load(fh).get("id", "")
    except (OSError, ValueError):
        marker = ""
    if not marker and checkpoint not in _warned_fallback:
        _warned_fallback.add(checkpoint)
        _log.warning(
            "stream_qid: no readable metadata at %s; falling back to "
            "path-only identity (recycled-checkpoint-path ledger "
            "collisions are possible on this stream)",
            checkpoint,
        )
    return hashlib.md5(f"{checkpoint}|{marker}".encode()).hexdigest()[:12]


def start_ledgered_sink(
    source: DataFrame,
    checkpoint: str,
    commit: Callable[[DataFrame, str], object],
    available_now: bool = True,
) -> StreamingQuery:
    """Start ``source`` into a foreachBatch sink that calls
    ``commit(batch_df, f"{stream_qid(checkpoint)}-{batch_id}")`` for
    every non-empty micro-batch.

    ``commit`` writes through ``sinks.snapshot`` with that id (plus its
    own prefix) as the ``applied_id``, so an at-least-once re-delivered
    micro-batch is skipped by the manifest ledger.  Empty micro-batches
    commit nothing and leave no ledger entry.  ``available_now`` drains
    what the source holds and stops."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            commit(batch_df, f"{stream_qid(checkpoint)}-{batch_id}")

    writer = source.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
