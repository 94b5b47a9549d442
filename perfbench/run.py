#!/usr/bin/env python3
"""Benchmark of the ingest engine: one workload per run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout.  The run drives the engine only
through its public functions, in one process on ``local[nproc]``, with
one caller.  With ``--trace 0`` the last line of standard output is the
JSON result with every end-to-end metric; with ``--trace 1`` the run
replays the workload with spans around each layer call and the last line
carries every per-layer metric instead (spans are written to
``.perfbench_traces/``).  The line before it holds the workload's own
named metrics.  Everything the run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "crypto_data_ingestion_module_spark"
#: The workloads and the metric catalogue: each run prints every
#: ``end_to_end`` metric (``--trace 0``) or every ``per_layer`` one
#: (``--trace 1``) listed there.
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

#: Heap of the one Spark JVM: well under the 15 GB of a 4-core box (the
#: package default, 24g, assumes a large host).
JVM_HEAP = "4g"


def _pin_environment(work: str) -> None:
    """Process-wide settings the engine reads, fixed before Spark starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR should anything have cached one


class Context:
    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds


#: Span names (or name prefixes, as ``query`` for ``query.<row>``) whose
#: event-log counters are reported per layer, and the counters reported.
SPAN_COUNTERS: dict[str, tuple[str, ...]] = {
    "manifest": ("cpu_s",),
    "incremental_manifest": ("cpu_s",),
    "fetch": ("cpu_s",),
    "upsert": ("cpu_s", "gc_s", "shuffle_bytes"),
    "progress": ("cpu_s",),
    "query": ("cpu_s",),
}


def load_benchmark() -> dict:
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def _span_layer_metrics(spans) -> dict[str, float]:
    return {
        f"{prefix}.{key}": sum(
            s.counts.get(key, 0.0) for s in spans
            if s.name == prefix or s.name.startswith(prefix + ".")
        )
        for prefix, keys in SPAN_COUNTERS.items()
        for key in keys
    }


def main(argv: list[str] | None = None) -> int:
    bench = load_benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ beside perfbench/: run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _pin_environment(work)
    sys.path.insert(0, ROOT)

    import harness
    import wl_backfill
    import wl_query

    traced = bool(args.trace)
    module = {"backfill": wl_backfill, "query_headline": wl_query}[args.workload]
    spark = res = None
    try:
        spark, start_s = harness.start_session(work, traced)
        tracer = harness.Tracer(spark, traced, f"{args.workload}-{args.seed}")
        ctx = Context(spark, tracer, work, args.seed, args.seconds)
        res = module.run(ctx)
        rss = harness.jvm_peak_rss_mb(spark)
    except Exception:
        traceback.print_exc()
        res = None
    finally:
        if spark is not None:
            harness.stop_session(spark)
    if res is None:
        shutil.rmtree(work, ignore_errors=True)
        return 1

    checks = res["checks"]
    for err in checks.errors:
        print(f"correctness: {err}", file=sys.stderr)
    attempted, failed = max(1, checks.attempted), checks.failed
    detail = dict(res["detail"])
    detail["setup_s"] = (start_s + res["setup"], "s")
    detail["fail_ratio"] = (failed / attempted, "ratio")

    if traced:
        jobs = harness.event_log_counters(work)
        harness.span_counters(tracer.spans, jobs)
        layer = {"session.start_s": start_s, "session.jvm_peak_rss_mb": rss}
        layer.update(res["layer"])
        layer.update(_span_layer_metrics(tracer.spans))
        if res.get("post") is not None:
            layer.update(res["post"](jobs))
        out_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
            {"layer_metrics": layer},
        )
        values = {
            m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"])
            for m in bench["per_layer"]
        }
    else:
        e2e = dict(res["e2e"], setup_s=detail["setup_s"][0])
        values = {m["name"]: (float(e2e[m["name"]]), m["unit"])
                  for m in bench["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass

    def fmt(d):
        return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "named": fmt(detail)}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": fmt(values),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
