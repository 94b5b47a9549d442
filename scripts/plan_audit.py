"""Physical-plan red-flag audit over the whole query registry.

For every registered query, renders the executed plan at the given SF
(no job runs — plans only) and greps for the anti-patterns this repo
bans:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` outside the known
  allowlist (single-row scalar-threshold joins, the task-grid
  generator, deliberate brute-force baselines);
- ``BatchEvalPython`` — a row-at-a-time Python UDF in any plan
  (Arrow ``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``
  are the sanctioned Python paths and are NOT flagged);
- ``repeated-python-exec`` — one of those Arrow Python exec nodes
  appearing more than once in one executed plan (same node, same
  function, same columns once expression ids are stripped): each copy
  re-runs its kernel, e.g. a frame filtered per key and unioned back;
- events/lineitem scans whose ``ReadSchema`` carries every column (no
  pruning — usually a ``select`` forgotten before a wide operator).

Exit 1 on unallowed findings; prints a per-flag summary.  Run after
adding operators: ``python3 scripts/plan_audit.py [sf_dir]``.
"""
from __future__ import annotations

import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# Queries where a nested-loop/cartesian is the DESIGN, with the reason.
NL_ALLOW = {
    "rich_idle_customers": "single-row scalar threshold crossJoin",
    "important_parts": "single-row scalar threshold crossJoin",
    "excess_share_suppliers": "single-row scalar threshold crossJoin",
    "cosine_topk": "deliberate brute-force baseline over bounded queries",
    "pattern_topk_windows": "bounded query-pattern broadcast",
    "backfill_chunk_manifest": "task-grid generator (symbols x intervals)",
    "type_cooccurrence_lift": "single-row n_users literal",
    "max_drawdown": "single-row all-time-high join",
    "bpe_merge_table": "single-row best-pair broadcast per merge round",
    "bpe_vocab": "single-row best-pair broadcast per merge round",
    "bpe_encode_docs": "single-row best-pair broadcast per merge round",
    "vocab_stats": "single-row n_docs aggregate broadcast",
    "conjunctive_search_bm25": "single-row corpus-stats broadcast",
    "hybrid_search_rerank": "corpus stats + one query vector broadcast",
    "funnel_conversions": "single-row stage-total aggregates",
    "merge_upsert_keep_last": "single-row max-ingest-seq stamp broadcast",
    "ann_ivfpq_topk": "k-row centroid/codebook tables broadcast",
    "frequent_tokens_exact": "single-row scalar (total n) threshold crossJoin",
    "frequent_tokens_from_partials": "single-row scalar (total n) threshold crossJoin",
    "stream_frequent_tokens": "single-row scalar (total n) threshold crossJoin",
    "decontaminate_docs_bloom": "single-row Bloom-bitset broadcast (value-not-literal ship)",
    "lsh_pair_recall": "three single-row pair-set counts crossJoined into the one metrics row",
    "semdedup_pair_recall": "three single-row pair-set counts crossJoined into the one metrics row",
    "hybrid_rrf_topk": "corpus stats + one query vector broadcast (hybrid_rerank shape)",
    "mmr_diversified_topk": "bounded m=16 candidate set: m x m pairwise sims + k one-row selected-pick broadcasts",
}

# Full-width scans that are legitimately full-width (all columns used).
WIDE_ALLOW = {
    "dedup_keep_last",
    "interval_boundary_gate",
    "epoch_conversions",
    "merge_upsert_keep_last",
    "time_range_filter",
}

PYTHON_EXEC = re.compile(
    r"\b(?:MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)\b.*"
)

# Queries whose plan repeats a Python exec node today, with the reason
# (each is a re-run kernel still to remove, not a design choice).
REPEAT_ALLOW = {
    "ann_lsh_topk": "LSH bucket UDF hashes the corpus and its query subset from one table",
    "ann_lsh_seed_topk": "LSH bucket UDF hashes the corpus and its query subset from one table",
    "hybrid_rrf_per_query": "LSH bucket UDF hashes the corpus and its query subset from one table",
    "ann_recall_mrr": "metric row reads the approximate top-k in more than one branch",
    "mmr_diversified_topk": "scored candidate set feeds both the pairwise and the selection branch",
    "semdedup_pair_recall": "pair-set metrics count the candidate pairs and join them to the truth",
}


def repeated_python_exec(plan: str) -> list[str]:
    """Python exec nodes that occur more than once in ``plan``."""
    nodes = Counter(
        re.sub(r"#\d+L?", "", m.group(0)).strip() for m in PYTHON_EXEC.finditer(plan)
    )
    return [node for node, n in nodes.items() if n > 1]


def main() -> int:
    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS
    from crypto_data_ingestion_module_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    findings: list[tuple[str, str, str]] = []
    for name, spec in sorted(QUERY_SPECS.items()):
        try:
            df = spec.spark(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            findings.append((name, "plan-error", str(e)[:120]))
            continue
        if "BatchEvalPython" in plan:
            findings.append((name, "row-at-a-time-udf", "BatchEvalPython"))
        repeated = repeated_python_exec(plan)
        if repeated and name not in REPEAT_ALLOW:
            findings.append((name, "repeated-python-exec", repeated[0][:80]))
        if (
            re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan)
            and name not in NL_ALLOW
        ):
            findings.append((name, "nested-loop-join", "not allowlisted"))
        if name not in WIDE_ALLOW:
            for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
                cols = m.group(1)
                if cols.count(",") >= 5 and "props" in cols and "user_id" in cols:
                    findings.append(
                        (name, "unpruned-events-scan", cols[:80])
                    )
                    break
    if findings:
        print(f"PLAN FLAGS: {len(findings)}")
        for name, kind, detail in findings:
            print(f"  {name}: {kind} ({detail})")
        return 1
    print(f"all {len(QUERY_SPECS)} query plans clean at {SF_DIR}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
