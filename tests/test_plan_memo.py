"""The registered-query plan memo: lazy plans only, never data.

Pins the contracts that keep the memo an optimization rather than
result caching:

1. A memo hit is a LAZY plan — every execution re-reads the parquet
   sources in full (identical source-record counts across repeated
   executions of the same memoized frame).
2. Re-ingesting a table at the same path misses the memo: its version
   is every catalog table's mtime (``memo.table_version``).
3. A build that performed a per-run materialization is NEVER
   memoized: the wrapper compares ``checkpointing.materialize_count()``
   before and after the build, so the dedup verify tails, iterative
   loops and rec-eval shared frames — whose plans hang off per-run
   blocks — rebuild on every call. Model literals from the fit memos
   do not count as materializations and stay memoized. Query modules
   must route every checkpoint through ``checkpointing`` so the
   counter sees it.
4. The plan guards give the same answer on a memo hit whether or not
   the memoized frame has executed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from customer_churn_prediction_spark.plans import registry
from customer_churn_prediction_spark.plans.audit import (
    count_shuffle_exchanges,
    run_with_metrics,
    scan_profiles,
    static_plan_string,
)

from .conftest import SF_SMOKE


def test_memo_hit_recomputes_from_parquet(spark):
    queries = registry.get_queries()
    df1 = queries["rfm_groupby"](spark, SF_SMOKE)
    df2 = queries["rfm_groupby"](spark, SF_SMOKE)
    assert df2 is df1, "second build must be a memo hit"
    m1 = run_with_metrics(spark, lambda: df1, "memo-exec-1")
    m2 = run_with_metrics(spark, lambda: df2, "memo-exec-2")
    assert m1["input_records"] > 0
    assert m2["input_records"] == m1["input_records"], (
        "a memoized plan must re-read its sources in full on every "
        "execution — equal source-record counts"
    )


def test_memo_misses_on_reingest(spark, tmp_path):
    sf_copy = str(tmp_path / "sf_memo")
    os.makedirs(sf_copy)
    from customer_churn_prediction_spark.catalog import TABLES

    for t in TABLES:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{sf_copy}/{t}.parquet")
    queries = registry.get_queries()
    df1 = queries["rfm_groupby"](spark, sf_copy)
    shutil.copy(f"{SF_SMOKE}/orders.parquet", f"{sf_copy}/orders.parquet")
    os.utime(f"{sf_copy}/orders.parquet", (1, 1))
    df2 = queries["rfm_groupby"](spark, sf_copy)
    assert df2 is not df1, "re-ingested table must miss the memo"


def test_plan_guards_ignore_prior_execution(spark):
    """Executing a memoized adaptive plan makes its string print the
    final AND the initial plan; the guards must read the planned shape
    only, so a memo hit audits the same before and after a run. A
    scalar subquery's own adaptive plan prints the same way inside the
    root's plan once it has run, and must audit the same too."""
    df = registry.get_queries()["rfm_groupby"](spark, SF_SMOKE)
    # No registered query plans a ScalarSubquery, so the subquery case
    # is one over the registered frame.
    above_mean = df.where(
        F.col("frequency") > df.agg(F.avg("frequency")).scalar()
    )

    def audit(frame):
        return (
            static_plan_string(frame),
            count_shuffle_exchanges(frame),
            scan_profiles(frame, SF_SMOKE),
        )

    before = [audit(df), audit(above_mean)]
    assert all(shuffles > 0 and scans for _, shuffles, scans in before)
    assert "Subquery" in before[1][0]
    df.toPandas()
    above_mean.toPandas()
    again = registry.get_queries()["rfm_groupby"](spark, SF_SMOKE)
    assert again is df, "second build must be a memo hit"
    assert [audit(again), audit(above_mean)] == before


def test_checkpoint_barrier_queries_are_not_memoized(spark):
    queries = registry.get_queries()
    a = queries["dedup_lsh_components"](spark, SF_SMOKE)
    b = queries["dedup_lsh_components"](spark, SF_SMOKE)
    assert b is not a, (
        "a build that materialized per-run blocks must be rebuilt "
        "from parquet on every call"
    )


def test_stored_forms_are_not_memoized(spark):
    queries = registry.get_queries()
    a = queries["ann_ivf_materialized"](spark, SF_SMOKE)
    b = queries["ann_ivf_materialized"](spark, SF_SMOKE)
    assert b is not a, (
        "ingest-backed constructors run the idempotent warehouse check "
        "per call by design"
    )


def test_model_literal_queries_are_memoized(spark):
    """createDataFrame model literals (fitted centroids/LUTs through
    the sanctioned fit memos) are LogicalRDDs in plan text but NOT
    per-run state — the counter-based exclusion must still memoize
    them (ann_recall_matrix was wrongly excluded by plan-text
    sniffing during r15 development)."""
    queries = registry.get_queries()
    a = queries["ann_recall_matrix"](spark, SF_SMOKE)
    b = queries["ann_recall_matrix"](spark, SF_SMOKE)
    assert b is a


def test_query_modules_never_call_localcheckpoint_directly():
    """The memo's safety rests on every per-run materialization being
    COUNTED: query modules must route through
    checkpointing.run_materialize / loop_checkpoint, never
    .localCheckpoint directly (a raw call would be invisible to the
    counter and its plan could be wrongly memoized)."""
    import glob
    import os

    root = os.path.join(
        os.path.dirname(__file__), "..", "customer_churn_prediction_spark"
    )
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel == "checkpointing.py":
            continue
        src = open(path).read()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".localCheckpoint(" in code:
                offenders.append(f"{rel}:{i}")
    assert not offenders, (
        "route these through checkpointing.run_materialize / "
        f"loop_checkpoint: {offenders}"
    )
