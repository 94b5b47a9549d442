"""``query_headline``: headline registry rows over seeded tables.

Read-only LLM-data operators (dedup, similarity) and a relational row.
They exercise ``plans.queries`` and ``operators.*`` and bypass
``sources.*`` and ``sinks.snapshot``, so this workload is the control for
ingest-path changes.

``ROWS`` is a subset of ``bench.HEADLINE``, one row per family the
workload stands for (LLM-data dedup, vector similarity, relational): the
cold pass over all 14 rows alone takes longer than a whole run of this
workload may.  Set-up generates the tables and runs ``WARM_PASSES``
untimed passes: the first is cold, and the next ones still run up to a
third slower than later ones while the JVM compiles the hot paths.  The
timed section then runs ``max(MIN_PASSES, round(--seconds /
PASS_SECONDS))`` whole passes, in an order the seed shuffles, so a given
``--seconds`` always measures the same work, and reports per-row
medians.

Each execution runs the row's full plan and folds every output column
into one order-insensitive hash aggregate (row count plus the sum of
``xxhash64`` over the row, floats rounded to 6 places), so one job both
forces the whole query and yields the value checked against
``pins.json``.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harness import Checks, median
import querydata

#: The heaviest row first: ``followup_s`` is its median.
ROWS: tuple[str, ...] = (
    "dedup_clusters",
    "cosine_topk",
    "pricing_summary",
)

WARM_PASSES = 3
MIN_PASSES = 3
#: Nominal seconds of one warm pass over ``ROWS``.
PASS_SECONDS = 2.5

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def _stable(col, dtype):
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.round(col.cast("double"), 6)
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.FloatType, T.DoubleType)
    ):
        return F.transform(col, lambda x: F.round(x.cast("double"), 6))
    return col


def result_digest(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a query result."""
    cols = [_stable(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"] or 0)


def run(ctx) -> dict:
    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS

    spark, tracer = ctx.spark, ctx.tracer
    with open(PINS) as fh:
        pins = json.load(fh)
    check = Checks()

    def execute(name: str) -> float:
        t = time.perf_counter()
        got = result_digest(QUERY_SPECS[name].spark(spark, data))
        wall = time.perf_counter() - t
        check(list(got) == pins.get(name), f"{name}: got {got}, pinned {pins.get(name)}")
        return wall

    t0 = time.perf_counter()
    data = os.path.join(ctx.work, "qdata")
    querydata.generate(data)
    # cold and warming passes (Python workers, codegen, plan caches, JIT)
    for _ in range(WARM_PASSES):
        for name in ROWS:
            execute(name)
    setup = time.perf_counter() - t0

    order = list(ROWS)
    random.Random(ctx.seed).shuffle(order)

    passes = max(MIN_PASSES, round(ctx.seconds / PASS_SECONDS))

    def timed_passes(traced: bool) -> dict[str, list[float]]:
        walls: dict[str, list[float]] = {n: [] for n in order}
        for _ in range(passes):
            for name in order:
                span = (tracer.span(f"query.{name}", "plans.queries") if traced
                        else contextlib.nullcontext())
                with span:
                    walls[name].append(execute(name))
        return walls

    walls = timed_passes(False)
    per_row = {n: median(v) for n, v in walls.items()}
    e2e = {
        "main_s": sum(per_row.values()),
        "followup_s": per_row[ROWS[0]],
        "items_per_s": passes * len(order) / sum(sum(v) for v in walls.values()),
    }
    detail = {"query.headline_s": (e2e["main_s"], "s"),
              "query.passes": (passes, "count")}
    layer: dict[str, float] = {}
    if tracer.enabled:
        twalls = timed_passes(True)
        for n in order:
            spans = tracer.by_name(f"query.{n}")
            layer[f"query.{n}_s"] = median([s.seconds for s in spans])
            layer[f"query.{n}.tasks"] = median([s.counts["tasks"] for s in spans])
        layer["trace.overhead_s"] = (
            sum(median(v) for v in twalls.values()) - e2e["main_s"]
        )
    return {"e2e": e2e, "setup": setup, "detail": detail, "layer": layer,
            "checks": check}
