"""Physical-plan audit: print the formatted plans of the headline contract
queries and grep them for the properties that matter at 100 TB —
PushedFilters reaching the parquet scan, pruned ReadSchema, broadcast
joins on small dims, and WholeStageCodegen coverage.

    python tools/plan_audit.py [sf_dir] [query ...]

The machine-checked subset lives in tests/test_plans.py; this tool is the
human-readable report."""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

AUDIT = [
    "text_token_counts", "text_stats", "tpch_q1", "order_enrich_broadcast",
    "asof_prev_event", "dedup_minhash_pairs", "similarity_topk",
    "er_candidate_pairs", "url_dedup", "pii_scrub", "text_repetition",
    "dedup_keep_best", "eval_blanc",
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> None:
    from character_identification_spark.driver_contract import QUERIES
    from character_identification_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or AUDIT
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        flags = {
            "pushed_filters": "PushedFilters: [" in plan
            and "PushedFilters: []" not in plan,
            "broadcast_join": "BroadcastHashJoin" in plan
            or "BroadcastNestedLoopJoin" in plan,
            "whole_stage_codegen": "WholeStageCodegen" in plan,
            "n_exchanges": plan.count("Exchange"),
        }
        print(f"\n================ {name} {flags}")
        print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
