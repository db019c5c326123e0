"""Aggregation operators (SURVEY.md §2.4, A1-A8).

Determinism contract with the oracle (see assembly.py): money sums
round to their 2dp grid; averages of money round to 6dp (far from any
decimal tie the float error could straddle); ratios of integers stay
unrounded (bit-deterministic IEEE division).

``eval_confusion`` is the pure-SQL contingency form of the reference's
MulticlassMetrics evaluation (A8, ``RF/utils.scala:49-57``) applied to
a deterministic rule model, so precision/recall/F1 become
oracle-checkable without an ML fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import ASOF, FEAT_END_EXCL, FEAT_START
from .labeling import LABEL_ORACLE, in_feature_window, labelled_customers
from .rfm import feature_orders

_WINDOW_PRED_SQL = (
    f"o_orderdate >= TIMESTAMP '{FEAT_START}' "
    f"AND o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'"
)


def groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (RF/randomforest_churn.scala:58): groupBy().agg(sum())."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("value_sum"))
    )


def groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (RF/randomforest_churn.scala:84): groupBy().count()."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .count()
    )


def avg_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (RF/randomforest_churn.scala:130): groupBy mean, rounded."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


APPROX_DISTINCT_RSD = 0.02


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 scale variant: approx_count_distinct (HLL++) next to the exact
    count. At 100 TB the approximate form avoids the exact-distinct
    shuffle explosion.

    Oracle pairing (the estimate itself is engine-specific, but the
    ERROR CONTRACT is not): emit ``within_band`` = |approx − exact| ≤
    3·rsd·exact, computed in-query. The DuckDB oracle computes the
    exact count and asserts the band holds (TRUE) — so a hash match
    verifies both the exact path and that the sketch honors its
    advertised accuracy, without ever comparing two different HLL
    implementations bit-for-bit. 3·rsd on HLL++'s near-Gaussian error
    is a ≥99.7% bound per group; the pytest error-band test
    (tests/test_rfm.py) shows it holding with margin on this data."""
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct(
                "user_id", APPROX_DISTINCT_RSD
            ).alias("approx_users"),
        )
    )
    band = 3 * APPROX_DISTINCT_RSD * F.col("exact_users")
    return agg.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= band).alias(
            "within_band"
        ),
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (free Spark extension; absent in the reference §2.4 note):
    order counts + revenue by (status, priority) with subtotals."""
    return (
        feature_orders(spark, sf_dir)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (the relational form of the reference's 13 flag-joins,
    J4 → max(when) note at SURVEY §2.3): order counts by status with
    one column per priority. Values are listed explicitly — an
    unlisted pivot needs an extra distinct-collect job and makes the
    output schema data-dependent, both wrong at scale."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(_PRIORITIES))
        .count()
        .na.fill(0)
    )


def percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (p25/p50/p75) of l_quantity per return flag.
    Integer-valued input makes the linear interpolation exact in
    binary (quarter fractions of ints), so both engines agree
    bit-for-bit. The approx path at 100 TB is approx_percentile
    (t-digest) — same call shape, bounded memory."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.5).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
    )


def eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/M10 as pure SQL: confusion counts + accuracy/precision/recall/F1
    for the rule model ``pred = 1 if recency > 90`` against the churn
    label. Ratios of bigint counts are emitted unrounded (IEEE-exact).
    The rule's feature-window recency and the label come from one
    aggregate over both windows (``labeling.labelled_customers``)."""
    last_feat_order = F.max(F.when(in_feature_window(), F.to_date("o_orderdate")))
    recency = F.datediff(F.lit(ASOF).cast("date"), last_feat_order)
    scored = labelled_customers(
        spark, sf_dir, (recency > 90).cast("int").alias("pred")
    )
    cm = scored.agg(
        F.sum(((F.col("pred") == 1) & (F.col("label") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("label") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("pred") == 0) & (F.col("label") == 0)).cast("long")).alias("tn"),
        F.sum(((F.col("pred") == 0) & (F.col("label") == 1)).cast("long")).alias("fn"),
    )
    # try_divide, not '/': a scoring window with zero predicted (or
    # zero actual) positives has tp+fp = 0 (tp+fn = 0) — under ANSI a
    # plain divide RAISES there, while the DuckDB oracle's division
    # yields NULL. Undefined ratio -> NULL is the metric's contract
    # (scikit-learn's zero_division warning case); values are
    # bit-identical wherever the denominator is nonzero.
    return cm.select(
        "tp", "fp", "tn", "fn",
        ((F.col("tp") + F.col("tn")) / (F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn"))).alias("accuracy"),
        F.try_divide(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        F.try_divide(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
        F.try_divide(2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")).alias("f1"),
    )


QUERIES = {
    "groupby_sum": groupby_sum,
    "groupby_count": groupby_count,
    "avg_by_segment": avg_by_segment,
    "approx_distinct_users": approx_distinct_users,
    "grouping_sets_revenue": grouping_sets_revenue,
    "pivot_status_priority": pivot_status_priority,
    "percentile_quantity": percentile_quantity,
    "eval_confusion": eval_confusion,
}

ORACLES = {
    "groupby_sum": """
SELECT user_id, round(sum(value), 2) AS value_sum FROM events GROUP BY user_id
""",
    "groupby_count": """
SELECT o_orderstatus, o_orderpriority, count(*) AS count
FROM orders GROUP BY 1, 2
""",
    "avg_by_segment": """
SELECT c_mktsegment, round(avg(c_acctbal), 6) AS avg_acctbal,
       count(*) AS n_customers
FROM customer GROUP BY 1
""",
    # The HLL estimate is engine-specific; the contract it must honor
    # is not. The oracle recomputes the exact side and asserts the
    # in-query error band came out TRUE for every group.
    "approx_distinct_users": """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS within_band
FROM events GROUP BY event_type
""",
    "grouping_sets_revenue": f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders WHERE {_WINDOW_PRED_SQL}
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    "pivot_status_priority": """
SELECT o_orderstatus,
"""
    + ",\n".join(
        f"  CAST(sum(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS BIGINT)"
        f' AS "{p}"'
        for p in _PRIORITIES
    )
    + """
FROM orders GROUP BY o_orderstatus
""",
    "percentile_quantity": """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75
FROM lineitem GROUP BY l_returnflag
""",
    "eval_confusion": f"""
WITH labeled AS ({LABEL_ORACLE}),
recency AS (
  SELECT o_custkey AS c_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ASOF}') AS INTEGER) AS recency
  FROM orders WHERE {_WINDOW_PRED_SQL} GROUP BY o_custkey
),
cm AS (
  SELECT
    CAST(sum(CASE WHEN r.recency > 90 AND l.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN r.recency > 90 AND l.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN r.recency <= 90 AND l.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    CAST(sum(CASE WHEN r.recency <= 90 AND l.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM recency r JOIN labeled l USING (c_custkey)
)
SELECT tp, fp, tn, fn,
       (tp + tn) / CAST(tp + fp + tn + fn AS DOUBLE) AS accuracy,
       tp / CAST(tp + fp AS DOUBLE) AS precision,
       tp / CAST(tp + fn AS DOUBLE) AS recall,
       2 * tp / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
FROM cm
""",
}
