"""Fixtures of the streaming registry rows: staged landing zones, per-run
scratch dirs and availableNow memory-sink drains.

Each ``stream_*`` row pairs a streaming discipline with its batch oracle
by draining a small, explicitly ordered landing zone.  The landing zone
is the FIXTURE, not the operator under test: it is built once per
(process, row, sf_dir) so repeated runs measure the stream, not the
setup write.  Lakes and checkpoints are fresh per run (a reused one
would make availableNow a no-op), and a run's lake must outlive the
call (the returned DataFrame reads it lazily), so each run removes the
previous run's dir instead.

Every dir made here is listed in ``_DIRS``, the process's only registry
of streaming scratch, and swept at interpreter exit.  This module must
not import ``plans.queries`` (``queries`` imports it while building the
registry).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ``("staged", name, sf_dir)`` -> staged root, ``("run", name)`` -> the
#: last run's scratch dir
_DIRS: dict[tuple[str, ...], str] = {}


def _sweep() -> None:
    while _DIRS:
        shutil.rmtree(_DIRS.popitem()[1], ignore_errors=True)


atexit.register(_sweep)


def staged(
    name: str, sf_dir: str, make_parts: Callable[[], Sequence[DataFrame]]
) -> str:
    """The landing dir of row ``name`` over ``sf_dir``: each frame of
    ``make_parts()`` as one parquet file, ``0.parquet``, ``1.parquet``,
    … with ascending mtimes in list order.  The file source replays
    oldest-mtime-first, so the list order IS the arrival order (one
    micro-batch per file under ``maxFilesPerTrigger=1``).
    ``make_parts`` runs only on a cache miss."""
    key = ("staged", name, sf_dir)
    if key not in _DIRS:
        root = tempfile.mkdtemp(prefix=f"sgraft_stream_{name}_")
        inp = os.path.join(root, "in")
        os.makedirs(inp)
        try:
            now = time.time()
            for i, part in enumerate(make_parts()):
                tmp = os.path.join(root, f"_w{i}")
                part.coalesce(1).write.mode("overwrite").parquet(tmp)
                (f,) = [x for x in os.listdir(tmp) if x.endswith(".parquet")]
                dst = os.path.join(inp, f"{i}.parquet")
                shutil.move(os.path.join(tmp, f), dst)
                os.utime(dst, (now + 600 * i, now + 600 * i))
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise
        _DIRS[key] = root
    return os.path.join(_DIRS[key], "in")


def run_dir(name: str) -> str:
    """A fresh scratch dir for one run of row ``name``; the previous
    run's dir is removed."""
    old = _DIRS.pop(("run", name), None)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=f"sgraft_stream_{name}_run_")
    _DIRS[("run", name)] = d
    return d


def drain_to_memory(stream_df: DataFrame, prefix: str) -> DataFrame:
    """Drain ``stream_df`` with an availableNow trigger into an
    append-mode memory sink and return the sink's table.

    Memory sinks pin their rows in driver memory for the lifetime of the
    temp view, so the previous runs' ``{prefix}_*`` views are dropped
    first (their results are consumed before a row is re-invoked).  The
    checkpoint is never resumed and is removed even when the run
    raises."""
    spark = stream_df.sparkSession
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith(prefix + "_"):
            spark.catalog.dropTempView(t.name)
    run_id = uuid.uuid4().hex[:12]
    tbl = f"{prefix}_{run_id}"
    ckpt = os.path.join(tempfile.gettempdir(), f"sgraft_{prefix}_ckpt_{run_id}")
    try:
        (
            stream_df.writeStream.format("memory")
            .queryName(tbl)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(tbl)


def split_at_midpoint(df: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """``df`` as two time-disjoint halves split at the epoch-ms midpoint
    of its ``ts`` range, plus the range's max in epoch ms.  Landed lower
    half first, batch i's minimum ts is never below the watermark carried
    out of batch i-1, so no real row is ever late."""
    ms = F.unix_millis("ts")
    lo, hi = df.agg(F.min(ms), F.max(ms)).collect()[0]
    mid = (lo + hi) // 2
    return df.filter(ms < mid), df.filter(ms >= mid), hi
