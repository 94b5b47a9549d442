#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about six minutes on 4 cores).

    python3 perfbench/selftest.py

Asserts that:

- every workload, untraced and traced, prints every metric of its list
  with its unit, and a correct verdict;
- a lake with one candle dropped fails the correctness check of the
  backfill calls and of the live phase;
- without the engine's sources beside it, the benchmark exits non-zero
  and prints no result.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

import run


def _shrink() -> None:
    """Tiny sizes: the 6h and 1d intervals (the ones with injected errors)
    for backfill, two rows and one warm-up pass for query_headline."""
    import wl_backfill
    import wl_query

    wl_backfill.INTERVALS = ("6h", "1d")
    wl_query.ROWS = wl_query.ROWS[-2:]
    wl_query.WARM_PASSES = 1


def _metrics_printed() -> None:
    bench = run.load_benchmark()
    for workload in (w["name"] for w in bench["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            names = {m["name"]: m["unit"] for m in bench[kind]}
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = run.main(["--workload", workload, "--seed", "7",
                               "--seconds", "1", "--trace", str(trace)])
            assert rc == 0, f"{workload} trace={trace} exited {rc}"
            res = json.loads(out.getvalue().strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, (workload, trace, res)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == names, f"{workload} trace={trace}: metrics differ"
            print(f"ok: {workload} trace={trace} prints {len(got)} metrics")


def _corruption_detected() -> None:
    import harness
    import wl_backfill
    import wl_live
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        read_snapshot,
        snapshot_delete,
    )
    from pyspark.sql import functions as F

    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run._pin_environment(work)
    spark, _ = harness.start_session(work, traced=False)
    try:
        ctx = run.Context(spark, harness.Tracer(spark, False, "selftest"), work, 7, 1)

        grid = wl_backfill.Grid(7)
        inputs = wl_backfill._grid_inputs(ctx, grid)
        lake = os.path.join(work, "backfill-lake")
        cold = wl_backfill._call_backfill(ctx, inputs, lake, grid.end_ms)
        clean = harness.Checks()
        wl_backfill.verify(spark, grid, {"cold": cold}, lake, clean)
        assert clean.failed == 0, clean.errors
        victim = read_snapshot(spark, lake).first()
        snapshot_delete(spark, lake, (F.col("symbol") == victim.symbol)
                        & (F.col("exchange") == victim.exchange)
                        & (F.col("interval") == victim.interval)
                        & (F.col("timestamp") == victim.timestamp))
        rows = wl_backfill._progress(read_snapshot(spark, lake)).collect()
        dirty = harness.Checks()
        wl_backfill.verify(spark, grid, {"cold": (rows, cold[1])}, lake, dirty)
        assert dirty.failed > 0, "backfill check missed a dropped candle"
        print(f"ok: backfill check flags a dropped candle: {dirty.errors[0]}")

        stream = wl_live.Stream(ctx, grid.symbols,
                                grid.end_ms + wl_live.START_OFFSET_MS, lake, "selftest")
        stream.run(1)
        boundaries = [stream.boundary(k) for k in range(stream.fed)]
        per_interval = len(grid.symbols) * len(wl_live.EXCHANGES)
        clean = harness.Checks()
        wl_live.check_windows(spark, lake, boundaries, per_interval, clean)
        assert clean.failed == 0, clean.errors
        ts_us = (boundaries[0] - wl_live.CYCLE_MS) * 1000
        snapshot_delete(spark, lake, (F.unix_micros("timestamp") == ts_us)
                        & (F.col("exchange") == "kucoin"))
        dirty = harness.Checks()
        wl_live.check_windows(spark, lake, boundaries, per_interval, dirty)
        assert dirty.failed > 0, "live check missed a dropped candle"
        print(f"ok: live check flags a dropped candle: {dirty.errors[0]}")
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _fails_without_engine() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(run.ROOT, ".perfbench_work")) as d:
        shutil.copy(run.BENCHMARK_JSON, d)
        shutil.copytree(run.HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "backfill",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=170,
        )
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    print("ok: without the engine the benchmark exits", p.returncode, "and prints nothing")


def main() -> int:
    os.makedirs(os.path.join(run.ROOT, ".perfbench_work"), exist_ok=True)
    _fails_without_engine()
    sys.path.insert(0, run.ROOT)
    _shrink()
    _corruption_detected()
    _metrics_printed()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
