"""Regenerate tests/runtime_budgets.json (guard: tests/test_runtime_metrics.py).

Runs each barrier-bearing query under the TEST session shape
(local[8], shuffle_partitions=8, sf0.01 — the same fixture the guard
asserts under) and records its runtime totals from the status store:
records read from sources and shuffle bytes written. These are the
signals plan-text guards lost behind the r14 localCheckpoint barriers
(VERDICT r14 item 2): a pushdown / semi-join-prune / join-explosion
regression below a barrier is invisible to .explain() but inflates
these totals.

Regenerate DELIBERATELY (like scripts/gen_plan_goldens.py) after an
intentional plan change: python scripts/gen_runtime_budgets.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "tests", "runtime_budgets.json")
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_DIR", "/root/testdata/sf0.01")

# The barrier-bearing queries (r14 §5/§14: localCheckpoint hides their
# tails from plan text) plus the two whose guards were explicitly
# regenerated around barriers (scan-hygiene pushed:false, NLJ
# whitelist exit).
GUARDED = [
    "dedup_lsh_components",
    "rec_eval_ndcg",
    "dedup_recall_eval",
    "dedup_containment",
    "dedup_incremental",
    "dedup_cross_modal",
    # same barrier class: _containment_best_match materializes its
    # candidates and member grams (run_materialize), so its scan
    # profile is {} and the runtime guard is its only volume guard
    "dedup_fragments_incremental",
    # the flagship: its scan profile keeps only the widest scan of each
    # table, so it cannot tell one scan from several; source records
    # can (its budget is one scan per table)
    "feature_assembly",
]


def main() -> None:
    from customer_churn_prediction_spark.plans import get_queries
    from customer_churn_prediction_spark.plans.audit import run_with_metrics
    from customer_churn_prediction_spark.session import get_spark

    spark = get_spark(
        app_name="ccp-runtime-budgets", master="local[8]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    from customer_churn_prediction_spark.plans import registry

    # registered + staged (dedup_fragments_incremental lives in the
    # staged tier but carries the same checkpoint barriers)
    queries = {**registry.get_staged_queries(), **get_queries()}
    out: dict[str, dict] = {}
    for name in GUARDED:
        # one warm pass (codegen/JIT, at-rest ingests), then the
        # measured pass — matching the guard's own measurement
        run_with_metrics(
            spark, lambda: queries[name](spark, SF_DIR), f"warm-{name}"
        )
        out[name] = run_with_metrics(
            spark, lambda: queries[name](spark, SF_DIR), f"budget-{name}"
        )
        print(name, out[name])
    with open(OUT, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
