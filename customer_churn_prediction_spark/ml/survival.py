"""Kaplan–Meier survival curve over customer activity span.

Survival analysis is the churn question asked properly: not "who
churned by the cutoff" (the binary label the reference trains on,
``RF/randomforest_churn.scala:212-227``) but "how long do customers
stay active, accounting for the ones still active at the cutoff"
(right-censoring). Per customer: duration = days between first and
last feature-window order; event = the churn label (1 = churned =
observed, 0 = retained = censored). The KM estimator over the
duration grid is then

    S(t) = prod_{t_i <= t} (1 - d_i / n_i)

with d_i churn events at duration t_i and n_i the at-risk count.

Plan shape: per-customer (duration, event) comes out of the SAME
single-scan conditional aggregation as the monitoring tier (J4
rewrite — label and features from one pushed-down range); the curve
itself is a per-duration aggregate (hundreds of rows at most —
durations are integer days) plus ordered windows over that aggregate:
n_i = total − running count of earlier durations, and the running
product is ``exp(running sum(ln(1 − d/n)))``. Every cumulative runs
over the tiny grid, never over customers.

Determinism: d_i, n_i, c_i are integers; the only cross-engine floats
are ln/exp of exact integer ratios accumulated IN FRAME ORDER (ordered
running sums are sequential in both engines), rounded to 6dp on
output. d_i = n_i (everyone at risk churns at the last duration)
makes ln(0) = −inf and S = 0 in both engines.

Staged query surface (registry candidate for a later round; driver
budget full in r5) — tests/test_survival.py enforces oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import FEAT_END_EXCL, FEAT_START, LABEL_END_EXCL, LABEL_START
from ..operators import labeling


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, duration_days, event) in one scan + one aggregate:
    the event is the churn label (``labeling.labelled_customers``)."""
    feat_day = F.when(labeling.in_feature_window(), F.to_date("o_orderdate"))
    return labeling.labelled_customers(
        spark, sf_dir,
        F.datediff(F.max(feat_day), F.min(feat_day)).alias("duration_days"),
    ).withColumnRenamed("label", "event")


def survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KM curve: one row per distinct duration, with at-risk,
    event, censored counts and the survival estimate."""
    return km_curve(_spans(spark, sf_dir))


def km_curve(spans: DataFrame) -> DataFrame:
    """Core estimator over any (duration_days, event) frame."""
    grid = (
        spans.groupBy("duration_days")
        .agg(
            F.sum("event").alias("n_events"),
            (F.count(F.lit(1)) - F.sum("event")).alias("n_censored"),
            F.count(F.lit(1)).alias("_n_here"),
        )
    )
    w_all = Window.partitionBy()
    w_before = Window.partitionBy().orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.partitionBy().orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_risk = F.sum("_n_here").over(w_all) - F.coalesce(
        F.sum("_n_here").over(w_before), F.lit(0)
    )
    with_risk = grid.select(
        "duration_days",
        "n_events",
        "n_censored",
        n_risk.alias("n_risk"),
    )
    # d == n (everyone at risk churns) => survival 0 from here on.
    # Spark's log(0) is NULL (ANSI off) while DuckDB's ln(0) is -inf,
    # so the zero case is made explicit in BOTH engines.
    log_term = F.when(
        F.col("n_events") == F.col("n_risk"), F.lit(float("-inf"))
    ).otherwise(
        F.log(F.lit(1.0) - F.col("n_events") / F.col("n_risk"))
    )
    return with_risk.select(
        "duration_days",
        "n_risk",
        "n_events",
        "n_censored",
        F.round(F.exp(F.sum(log_term).over(w_cum)), 6).alias("survival"),
    ).orderBy("duration_days")


SURVIVAL_ORACLE = f"""
WITH spans AS (
  SELECT o_custkey,
    CAST(date_diff('day',
      CAST(min(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                    THEN o_orderdate END) AS DATE),
      CAST(max(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                    THEN o_orderdate END) AS DATE)) AS INTEGER)
      AS duration_days,
    1 - max(CASE WHEN o_orderdate >= TIMESTAMP '{LABEL_START}'
                 THEN 1 ELSE 0 END) AS event
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{LABEL_END_EXCL}'
  GROUP BY o_custkey
  HAVING count(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                    THEN 1 END) > 0
),
grid AS (
  SELECT duration_days,
         CAST(sum(event) AS BIGINT) AS n_events,
         CAST(count(*) - sum(event) AS BIGINT) AS n_censored,
         count(*) AS _n_here
  FROM spans GROUP BY duration_days
),
risked AS (
  SELECT duration_days, n_events, n_censored,
    CAST(sum(_n_here) OVER ()
         - coalesce(sum(_n_here) OVER (ORDER BY duration_days
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM grid
)
SELECT duration_days, n_risk, n_events, n_censored,
  round(exp(sum(CASE WHEN n_events = n_risk THEN CAST('-infinity' AS DOUBLE)
                     ELSE ln(1.0 - CAST(n_events AS DOUBLE) / n_risk) END)
        OVER (ORDER BY duration_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
    AS survival
FROM risked
ORDER BY duration_days
"""

QUERIES = {"survival_km": survival_km}
ORACLES = {"survival_km": SURVIVAL_ORACLE}
