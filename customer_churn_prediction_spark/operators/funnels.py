"""Funnel conversion and cohort retention — the product-analytics
pair every churn team runs next to the model.

**Funnel** (``funnel_conversion``): how many users progress through
an ORDERED step sequence (view → click → purchase), where each step
must happen strictly after the previous one. Per user this is a chain
of conditional-minimum timestamps — one hash aggregate over the event
scan, no self-joins (the naive k-way self-join funnel explodes at
scale; the min-chain is the standard rewrite):

    t1 = min(ts | type = step1)
    t2 = min(ts | type = step2 AND ts > t1)   -- needs t1 first

A strictly-ordered chain can't be done in ONE aggregate pass (t2's
predicate references t1), so it runs as k−1 chained aggregates over
the SAME per-user event list collected once — here instead we keep it
relational: collect each user's (ts, type) pairs into an array ONCE
(bounded by per-user event count, the same bound sessionization has)
and fold the step chain with expression-only array ops. One shuffle.

**Cohort retention** (``cohort_retention``): group customers by the
month of their FIRST order (the cohort), then for each months-since
offset count how many placed an order — the classic retention
triangle, flattened to rows. Two hash aggregates over one scan:
per-customer first month, then per (cohort, age) distinct-customer
counts, plus a window to attach cohort size and the retention rate.

Staged query surface (registry candidates for a later round; driver
budget full in r5) — tests/test_funnels.py enforces oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import EVENTS_START, FEAT_END_EXCL, FEAT_START
from .rfm import feature_orders

FUNNEL_STEPS = ["view", "click", "purchase"]
# A short window keeps the funnel selective (the full 30-day window
# sees every active user complete every step eventually).
FUNNEL_END_EXCL = "2024-01-03"


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per funnel step: users reaching it (strictly ordered),
    conversion from the previous step and from the top."""
    e = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit(EVENTS_START).cast("timestamp"))
        & (F.col("ts") < F.lit(FUNNEL_END_EXCL).cast("timestamp"))
        & F.col("event_type").isin(FUNNEL_STEPS)
    )
    return funnel_frame(e)


def funnel_frame(e: DataFrame) -> DataFrame:
    """Core plan over any (user_id, ts, event_type) frame."""
    # one array of (ts, type) per user — single shuffle
    per_user = e.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("evts")
    )
    # fold the chain: t_k = min ts of step k strictly after t_{k-1}.
    # Each step is added in its OWN withColumn stage so the reference
    # to the previous step is an ordinary column, never an implicit
    # lateral select alias (conf-dependent resolution).
    reached = per_user
    prev = None
    for i, step in enumerate(FUNNEL_STEPS):
        after = "" if prev is None else f" and x.ts > {prev}"
        reached = reached.withColumn(
            f"t{i}",
            F.expr(
                f"array_min(transform(filter(evts, "
                f"x -> x.event_type = '{step}'{after}), x -> x.ts))"
            ),
        )
        prev = f"t{i}"
    reached = reached.drop("evts")
    counts = reached.agg(
        *[
            F.count(F.col(f"t{i}")).alias(f"n{i}")
            for i in range(len(FUNNEL_STEPS))
        ]
    )
    # flatten to one row per step via stack over the 1-row aggregate
    stack_args = ", ".join(
        f"{i}, '{step}', n{i}" for i, step in enumerate(FUNNEL_STEPS)
    )
    long = counts.select(
        F.expr(
            f"stack({len(FUNNEL_STEPS)}, {stack_args})"
        ).alias("step_idx", "step", "n_users")
    )
    w = Window.partitionBy().orderBy("step_idx")
    return long.select(
        "step_idx",
        "step",
        "n_users",
        F.round(
            F.coalesce(
                F.try_divide(
                    F.col("n_users"), F.lag("n_users").over(w)
                ),
                F.lit(1.0),
            ),
            6,
        ).alias("step_conversion"),
        F.round(
            F.try_divide(F.col("n_users"), F.first("n_users").over(w)), 6
        ).alias("overall_conversion"),
    ).orderBy("step_idx")


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_month, months_since, n_active, cohort_size, retention)
    rows over the feature window."""
    monthly = feature_orders(spark, sf_dir).select(
        F.col("o_custkey").alias("c_custkey"),
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
    ).distinct()
    w_c = Window.partitionBy("c_custkey")
    aged = monthly.select(
        "c_custkey",
        F.min("month").over(w_c).alias("cohort_month"),
        (
            F.months_between(F.col("month"), F.min("month").over(w_c))
        ).cast("int").alias("months_since"),
    )
    grid = aged.groupBy("cohort_month", "months_since").agg(
        F.countDistinct("c_custkey").alias("n_active")
    )
    w_cohort = Window.partitionBy("cohort_month").orderBy("months_since")
    return grid.select(
        # string month: DATE stringifies differently through the two
        # engines' pandas bridges (date vs datetime64)
        F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"),
        "months_since",
        "n_active",
        F.first("n_active").over(w_cohort).alias("cohort_size"),
        F.round(
            F.col("n_active") / F.first("n_active").over(w_cohort), 6
        ).alias("retention"),
    ).orderBy("cohort_month", "months_since")


# The oracle unrolls exactly three chained aggregates (r0/r1/r2); the
# Spark side iterates FUNNEL_STEPS generically, so pin the contract.
assert len(FUNNEL_STEPS) == 3, "FUNNEL_ORACLE is written for 3 steps"

FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, event_type FROM events
  WHERE ts >= TIMESTAMP '{EVENTS_START}'
    AND ts <  TIMESTAMP '{FUNNEL_END_EXCL}'
    AND event_type IN ({", ".join(f"'{s}'" for s in FUNNEL_STEPS)})
),
-- the chained strictly-after minima, one step at a time
r0 AS (
  SELECT user_id,
         min(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END) AS t0
  FROM e GROUP BY user_id
),
r1 AS (
  SELECT e.user_id, r0.t0,
         min(CASE WHEN e.event_type = '{FUNNEL_STEPS[1]}'
                   AND e.ts > r0.t0 THEN e.ts END) AS t1
  FROM e JOIN r0 ON r0.user_id = e.user_id
  GROUP BY e.user_id, r0.t0
),
r2 AS (
  SELECT e.user_id, r1.t0, r1.t1,
         min(CASE WHEN e.event_type = '{FUNNEL_STEPS[2]}'
                   AND e.ts > r1.t1 THEN e.ts END) AS t2
  FROM e JOIN r1 ON r1.user_id = e.user_id
  GROUP BY e.user_id, r1.t0, r1.t1
),
counts AS (
  SELECT CAST(count(t0) AS BIGINT) AS n0,
         CAST(count(t1) AS BIGINT) AS n1,
         CAST(count(t2) AS BIGINT) AS n2
  FROM r2
),
long AS (
  SELECT * FROM (
    SELECT 0 AS step_idx, '{FUNNEL_STEPS[0]}' AS step, n0 AS n_users FROM counts
    UNION ALL
    SELECT 1, '{FUNNEL_STEPS[1]}', n1 FROM counts
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[2]}', n2 FROM counts)
)
SELECT step_idx, step, n_users,
  round(coalesce(CAST(n_users AS DOUBLE)
    / nullif(lag(n_users) OVER (ORDER BY step_idx), 0), 1.0), 6)
    AS step_conversion,
  round(CAST(n_users AS DOUBLE)
    / nullif(first_value(n_users) OVER (ORDER BY step_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 6)
    AS overall_conversion
FROM long
ORDER BY step_idx
"""

COHORT_ORACLE = f"""
WITH monthly AS (
  SELECT DISTINCT o_custkey AS c_custkey,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
           AS month
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{FEAT_END_EXCL}'
),
aged AS (
  SELECT c_custkey,
         min(month) OVER (PARTITION BY c_custkey) AS cohort_month,
         CAST(date_diff('month',
              min(month) OVER (PARTITION BY c_custkey), month) AS INTEGER)
           AS months_since
  FROM monthly
),
grid AS (
  SELECT cohort_month, months_since,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_active
  FROM aged GROUP BY 1, 2
)
SELECT strftime(cohort_month, '%Y-%m') AS cohort_month,
  months_since, n_active,
  CAST(first_value(n_active) OVER (PARTITION BY cohort_month
       ORDER BY months_since
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cohort_size,
  round(CAST(n_active AS DOUBLE)
    / first_value(n_active) OVER (PARTITION BY cohort_month
        ORDER BY months_since
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
    AS retention
FROM grid
ORDER BY cohort_month, months_since
"""

QUERIES = {
    "funnel_conversion": funnel_conversion,
    "cohort_retention": cohort_retention,
}
ORACLES = {
    "funnel_conversion": FUNNEL_ORACLE,
    "cohort_retention": COHORT_ORACLE,
}
