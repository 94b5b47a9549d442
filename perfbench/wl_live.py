"""The live phase of ``backfill``: the paper's streaming mode, time-compressed.

Once the backfill has landed its range, one ``live_collection_stream``
query commits a cycle per 15-minute boundary into the same lake, as the
reference's collector goes live after catching up.  Ticks arrive as one
small JSON file per boundary; the benchmark keeps one tick queued behind
the running cycle, so the 1-second trigger never idles (closed loop, one
caller).  The stream starts three hours after the backfilled range: its
first cycle (query start-up, on the 03:00 boundary) is set-up, and the
run then measures whole simulated hours of four cycles each.  Hour and
4-hour boundaries open their gates on the fixed schedule of the
reference: in the first measured hour 03:15, 03:30 and 03:45 are
15m-only cycles and 04:00 opens the 15m, 1h and 4h gates, so the median
cycle is a 15m-only one.  The query is stopped only when every fed tick
has committed, so no cycle is ever cancelled half-way.

After the stream stops, each committed cycle's window is read back with
``read_snapshot(time_range=...)``, ``READ_PASSES`` times over, and
checked against what its gates allow.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from crypto_data_ingestion_module_spark.functions.timeutil import (
    parse_interval_ms,
    should_collect_ms,
)
from crypto_data_ingestion_module_spark.sources.venues import CANDLES_PER_DAY

from harness import Checks, dir_bytes, median

EXCHANGES = ("coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus")
INTERVALS = tuple(CANDLES_PER_DAY)
CYCLE_MS = parse_interval_ms("15m")
#: The start-up cycle's boundary, after the end of the backfilled range.
START_OFFSET_MS = parse_interval_ms("1h") * 3
MAX_CYCLE_WAIT_S = 120
#: Reads of each cycle window after the stream.
READ_PASSES = 2
HOUR_CYCLES = 4


def gated(boundary_ms: int) -> list[str]:
    return [i for i in INTERVALS if should_collect_ms(boundary_ms, i)]


def _iso(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.000Z"
    )


class Stream:
    """One live query over a lake, fed tick by tick."""

    def __init__(self, ctx, symbols, first_boundary_ms: int, lake: str, name: str):
        self.ctx = ctx
        self.symbols = symbols
        self.first = first_boundary_ms
        self.lake = lake
        self.ticks = os.path.join(ctx.work, f"{name}-ticks")
        self.staging = os.path.join(ctx.work, f"{name}-staging")
        self.checkpoint = os.path.join(ctx.work, f"{name}-checkpoint")
        for d in (self.ticks, self.staging):
            os.makedirs(d)
        self.fed = 0
        self._mtime0 = time.time_ns() - 3_600 * 10**9

    def boundary(self, k: int) -> int:
        return self.first + k * CYCLE_MS

    def feed(self) -> None:
        """Publish tick ``fed`` atomically, with a strictly later mtime
        than every earlier tick so the file source takes them in order."""
        name = f"tick-{self.fed:06d}.json"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"timestamp": _iso(self.boundary(self.fed))}) + "\n")
        stamp = self._mtime0 + self.fed * 10**9
        os.utime(tmp, ns=(stamp, stamp))
        os.replace(tmp, os.path.join(self.ticks, name))
        self.fed += 1

    def run(self, cycles: int) -> dict:
        """Start-up cycle plus ``cycles`` measured ones, then stop."""
        from crypto_data_ingestion_module_spark.sources.fetch import MockExchangeAdapter
        from crypto_data_ingestion_module_spark.streaming.live import (
            live_collection_stream,
        )

        spark, total = self.ctx.spark, 1 + cycles
        source = (
            spark.readStream.schema("timestamp timestamp")
            .option("maxFilesPerTrigger", 1)
            .json(self.ticks)
        )
        self.feed()
        self.feed()
        t0 = time.perf_counter()
        query = live_collection_stream(
            spark, MockExchangeAdapter(), self.symbols, list(INTERVALS),
            self.lake, self.checkpoint, tick_seconds=1, ticks=source,
        )
        progress: list[dict] = []
        deadline = None
        t_first = None
        try:
            while True:
                progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
                done = len(progress)
                if query.exception() is not None:
                    raise RuntimeError(f"live stream failed: {query.exception()}")
                if done and t_first is None:
                    t_first = time.perf_counter()
                if done >= total:
                    break
                if self.fed < min(done + 2, total):
                    self.feed()
                if deadline is None or done > deadline[0]:
                    deadline = (done, time.perf_counter() + MAX_CYCLE_WAIT_S)
                elif time.perf_counter() > deadline[1]:
                    raise TimeoutError(f"cycle {done} did not commit in time")
                time.sleep(0.02)
            end = time.perf_counter()
        finally:
            query.stop()
        return {"progress": progress, "startup": t_first - t0, "window": end - t_first,
                "run_id": str(query.runId)}


def _window_counts(spark, lake: str, boundary_ms: int) -> dict[str, int]:
    from crypto_data_ingestion_module_spark.sinks.snapshot import read_snapshot

    lo_us = (boundary_ms - CYCLE_MS) * 1000
    df = read_snapshot(spark, lake, time_range=(lo_us, boundary_ms * 1000 - 1))
    return {r["interval"]: r["count"] for r in df.groupBy("interval").count().collect()}


def _expected_window(boundaries: list[int], boundary_ms: int, per_interval: int):
    lo = boundary_ms - CYCLE_MS
    out: dict[str, int] = {}
    for b in boundaries:
        for ivl in gated(b):
            if lo <= b - parse_interval_ms(ivl) < boundary_ms:
                out[ivl] = out.get(ivl, 0) + per_interval
    return out


def check_windows(spark, lake: str, boundaries: list[int], per_interval: int,
                  check: Checks, reads: list[float] | None = None,
                  passes: int = 1) -> None:
    """Each committed cycle's window holds exactly what its gates allow;
    ``passes`` reads of every window, each timed into ``reads``."""
    for _ in range(passes):
        for b in boundaries:
            t = time.perf_counter()
            got = _window_counts(spark, lake, b)
            if reads is not None:
                reads.append(time.perf_counter() - t)
            want = _expected_window(boundaries, b, per_interval)
            check(got == want, f"window {_iso(b)} holds {got}, gates allow {want}")


def run_live(ctx, lake: str, symbols, end_ms: int, hours: int, check: Checks) -> dict:
    """Go live on ``lake``, whose history ends at ``end_ms``: start-up
    cycle plus ``hours`` simulated hours, then the window reads and
    checks.  Traced, each window read also runs once under a
    ``range_read`` span, and the result carries the per-layer metrics."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        current_version,
        read_manifest,
        snapshot_files,
        snapshot_files_in_range,
    )

    spark, tracer = ctx.spark, ctx.tracer
    per_interval = len(symbols) * len(EXCHANGES)
    stream = Stream(ctx, symbols, end_ms + START_OFFSET_MS, lake, "stream")
    with tracer.span("stream", "streaming.live"):
        out = stream.run(HOUR_CYCLES * hours)
    boundaries = [stream.boundary(k) for k in range(stream.fed)]
    if tracer.enabled:
        for b in boundaries:
            lo_us = (b - CYCLE_MS) * 1000
            with tracer.span("range_read", "sinks.snapshot.read") as c:
                _window_counts(spark, lake, b)
            c["files_kept"] = len(
                snapshot_files_in_range(spark, lake, (lo_us, b * 1000 - 1))
            )
            c["files_total"] = len(snapshot_files(spark, lake))
    reads: list[float] = []
    check_windows(spark, lake, boundaries, per_interval, check, reads, READ_PASSES)
    manifest = read_manifest(spark, lake, current_version(spark, lake))
    committed = sorted(
        int(a.split("-", 1)[1]) for a in manifest["applied_ids"]
        if a.startswith("cycle-")
    )
    check(committed == boundaries,
          f"committed cycles {len(committed)} != fed ticks {len(boundaries)}")
    check(len(out["progress"]) == len(boundaries),
          f"{len(out['progress'])} progress records for {len(boundaries)} ticks")

    cycles = [p["durationMs"]["triggerExecution"] / 1000 for p in out["progress"][1:]]
    res = {
        "startup": out["startup"],
        "cycle_p50_s": median(cycles),
        "detail": {
            "live.cycle_p50_s": (median(cycles), "s"),
            "live.cycles_per_min": (len(cycles) * 60 / out["window"], "cycles/min"),
            "live.range_read_p50_s": (median(reads), "s"),
            "live.cycles": (len(cycles), "count"),
        },
        "layer": {},
        "post": None,
    }
    if not tracer.enabled:
        return res

    files = snapshot_files(spark, lake)
    spans = [s for s in tracer.spans if s.name == "range_read"]
    prog = out["progress"]
    res["layer"] = {
        "cycle.addBatch_ms": median([p["durationMs"]["addBatch"] for p in prog]),
        "cycle.walCommit_ms": median([p["durationMs"]["walCommit"] for p in prog]),
        "cycle.queryPlanning_ms": median([p["durationMs"]["queryPlanning"] for p in prog]),
        "range_read.s": median([s.seconds for s in spans]),
        "range_read.files_kept": median([s.counts["files_kept"] for s in spans]),
        "range_read.files_total": median([s.counts["files_total"] for s in spans]),
        "lake.files": len(files),
        "lake.bytes": dir_bytes([os.path.join(lake, f) for f in files]),
        "lake.versions": current_version(spark, lake),
    }
    run_id = out["run_id"]

    def post(jobs: dict) -> dict:
        per_batch: dict[str, dict] = {}
        for rec in jobs.values():
            props = rec["props"]
            if props.get("spark.jobGroup.id") != run_id:
                continue
            b = per_batch.setdefault(
                props.get("streaming.sql.batchId", "?"),
                {"jobs": 0, "tasks": 0, "cpu_s": 0.0},
            )
            b["jobs"] += 1
            b["tasks"] += rec["tasks"]
            b["cpu_s"] += rec["cpu_s"]
        vals = list(per_batch.values()) or [{"jobs": 0, "tasks": 0, "cpu_s": 0.0}]
        return {
            "cycle.jobs": median([v["jobs"] for v in vals]),
            "cycle.tasks": median([v["tasks"] for v in vals]),
            "cycle.cpu_s": median([v["cpu_s"] for v in vals]),
        }

    res["post"] = post
    return res
