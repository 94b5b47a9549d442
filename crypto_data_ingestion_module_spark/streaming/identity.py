"""Stream-scoped ledger identity shared by every foreachBatch sink.

The snapshot-lake replay ledger dedupes on ``applied_id = f"{qid}-
{batch_id}"`` (Delta's txnAppId discipline).  qid used to be
``md5(checkpoint_path)`` alone, which has a silent-drop footgun
(ADVICE r8): delete and recreate the SAME checkpoint path against an
existing partial lake and the new stream restarts batch ids at 0 under
the old qid — its first micro-batches collide with the previous
incarnation's ledger entries and are dropped as replays.

Fix: fold the checkpoint's own creation marker into the hash.  Spark
writes ``<checkpoint>/metadata`` (a StreamMetadata JSON holding the
query ``id``) when the query starts, BEFORE any batch executes; the id
is minted once per checkpoint-directory creation and persists across
restarts of the same directory.  That is exactly the identity we need:
restart of the same checkpoint -> same qid (replay dedup keeps
working); recreated checkpoint path -> fresh qid (no collision).

``stream_qid`` must be called from INSIDE the foreachBatch sink — at
plan-build time a brand-new checkpoint has no metadata file yet, so
the marker would read empty there and restarts would change identity.

Transition note: lakes written before this change carry path-only ids.
A stream restarted across the upgrade re-scopes its ids, so one batch
replayed exactly across the upgrade boundary can append twice.  Whether
a consumer absorbs that depends on its merge algebra:

* keep-last upsert — idempotent by key: absorbed.
* MG partials — a duplicate partial only WIDENS the pass-1 candidate
  set; the exact second pass keeps the answer correct: absorbed.

The same transition window re-opens at the r10→r11 URI-parsing upgrade
(ADVICE r11): checkpoints addressed as ``file:`` URIs with
percent-encoded characters in the path (``%20`` etc.), or with the
``file://localhost/...`` netloc form, previously failed the naive
prefix-strip, read no metadata marker, and used path-only identity.
urlparse/unquote now resolves them to the real local path, so those
streams FIND their metadata marker and change qid across this upgrade —
one batch replayed exactly across the boundary can append twice, with
the same per-consumer algebra as above.  Plain paths and
``file:/...``/``file:///...`` URIs without percent-encoding are
unaffected (byte-identical identity before and after).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import urllib.parse

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
