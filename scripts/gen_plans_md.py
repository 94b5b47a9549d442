#!/usr/bin/env python3
"""Regenerate PLANS.md: the formatted physical plan of every headline
query (and a few load-bearing non-headline shapes), committed so plan
shapes are reviewable without running Spark.  Plans are rendered at
sf0.001 (shapes are SF-independent; AQE final shapes may differ at
runtime — plan_audit.py checks the red flags, this file shows the
declarative shape Catalyst chose)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EXTRA = (
    "ohlcv_resample_1h",      # flagship entry()
    "revenue_cube",           # partial-rollup Expand placement
    "trade_graph_pagerank",   # unrolled iterative shape
    "ann_ivfpq_topk",         # bucket-pruned ANN serving
    "merge_upsert_keep_last", # keep-last MERGE
    "forecast_revenue_change",# pushdown pin
)


def main() -> int:
    from bench import HEADLINE

    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS
    from crypto_data_ingestion_module_spark.session import get_spark

    spark = get_spark("plans-md")
    spark.sparkContext.setLogLevel("ERROR")
    names = list(dict.fromkeys(list(HEADLINE) + list(EXTRA)))
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        "Generated by `scripts/gen_plans_md.py` at sf0.001; regenerate",
        "after changing any of these queries.  `scripts/plan_audit.py`",
        "checks the whole registry for red flags; this file makes the",
        "headline shapes human-reviewable (WholeStageCodegen spans,",
        "PushedFilters, Exchange placement, broadcast choices).",
        "",
    ]
    for name in names:
        df = QUERY_SPECS[name].spark(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(names)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
