"""Session lifecycle, tracing and statistics shared by the workloads.

Tracing follows the benchmark's rule: spans are recorded here, around the
calls the benchmark makes into each package layer, never inside the
package.  Each span runs under its own Spark job group; job and task
counts come from ``SparkContext.statusTracker``, and CPU, GC and shuffle
bytes per span from the Spark event log, which a traced session writes
uncompressed and unrolled so the stdlib ``json`` module can read it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import SparkSession


def median(values) -> float:
    return float(statistics.median(values))


class Checks:
    """Correctness verdicts of one run; each check is one attempted op."""

    def __init__(self):
        self.attempted = 0
        self.errors: list[str] = []

    def __call__(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.errors.append(what)
        return ok

    @property
    def failed(self) -> int:
        return len(self.errors)


def start_session(work: str, traced: bool) -> tuple[SparkSession, float]:
    """Build the benchmark's own session with the engine's build-time
    conf, then hand it to ``session.get_spark`` (which reuses it and
    applies the runtime conf).  Returns the session and its start time."""
    from crypto_data_ingestion_module_spark.session import BUILD_CONF, get_spark

    t0 = time.perf_counter()
    tmp = os.path.join(work, "tmp")
    builder = SparkSession.builder.master(
        f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    ).appName("perfbench")
    for k, v in BUILD_CONF.items():
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.eventLog.enabled", str(traced).lower())
    )
    if traced:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", logdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    builder.getOrCreate()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        status = dict(line.split(":", 1) for line in fh)
    return int(status["VmHWM"].split()[0]) / 1024.0  # kB


def stop_session(spark: SparkSession) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into package layers.

    Disabled, ``span`` only yields a throw-away dict, so the untraced path
    runs the same code with no job groups and no bookkeeping."""

    def __init__(self, spark: SparkSession, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        sp = Span(
            name, layer, time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            group=f"{self.run_id}-{idx}",
        )
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp.counts
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                sc.setJobGroup(outer.group, outer.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.jobs = sorted(sc.statusTracker().getJobIdsForGroup(sp.group))
            sp.counts.setdefault("jobs", len(sp.jobs))
            sp.counts.setdefault("tasks", self._tasks(sp.jobs))

    def _tasks(self, jobs: list[int]) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str, key: str | None = None) -> float:
        spans = self.by_name(name)
        if key is None:
            return sum(s.seconds for s in spans)
        return sum(s.counts.get(key, 0) for s in spans)

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {
                "name": s.name, "layer": s.layer, "run_id": self.run_id,
                "start": s.start, "end": s.end, "parent": s.parent,
                "jobs": s.jobs, "counts": s.counts,
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh, indent=1, default=str)


def event_log_counters(work: str) -> dict[int, dict[str, float]]:
    """Per-job task count, executor CPU s, GC s, shuffle bytes and job
    properties, read from the (stopped) session's event log."""
    (path,) = glob.glob(os.path.join(work, "eventlog", "*"))
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0,
                    "props": ev.get("Properties") or {},
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                rec = jobs[jid]
                rec["tasks"] += 1
                rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                rec["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0) + sr.get(
                    "Remote Bytes Read", 0
                ) + sr.get("Local Bytes Read", 0)
    return jobs


def span_counters(spans: list[Span], jobs: dict[int, dict]) -> None:
    """Fold event-log job counters into each span's counts."""
    for sp in spans:
        for key in ("cpu_s", "gc_s", "shuffle_bytes"):
            sp.counts[key] = sum(jobs.get(j, {}).get(key, 0.0) for j in sp.jobs)


def dir_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)
