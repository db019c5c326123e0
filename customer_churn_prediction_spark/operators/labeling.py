"""Churn labeling — the reference's label join (J3).

Reference (``RF/randomforest_churn.scala:212-227``): customers active
in the feature window are left-joined against the distinct buyers of
the later label window with a constant ``label = 0`` column; the nulls
left by the outer join are filled with 1 (churned).

The two windows are adjacent, so one pushed-down range covers both and
the label is one CASE-split aggregate per customer: no second scan, no
outer join, no fill. ``labelled_customers`` is that aggregate, defined
once here for ``label_churn``, ``eval_confusion``, the monitoring score
(``ml/monitoring._scored_customers``) and the survival spans
(``ml/survival._spans``), which add their own aggregates to it.

Plus the class-balance report (A5, ``RF/randomforest_churn.scala:221``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import FEAT_END_EXCL, FEAT_START, LABEL_END_EXCL, LABEL_START


def window_orders(
    spark: SparkSession, sf_dir: str, end_excl: str = LABEL_END_EXCL
) -> DataFrame:
    """Orders from the start of the feature window up to ``end_excl``
    (by default the end of the adjacent label window), in one range
    the scan can push down."""
    return load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(FEAT_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end_excl).cast("timestamp"))
    )


def in_feature_window() -> Column:
    """True for a ``window_orders`` row of the feature window, false
    for one of the label window."""
    return F.col("o_orderdate") < F.lit(FEAT_END_EXCL).cast("timestamp")


def labelled_customers(
    spark: SparkSession, sf_dir: str, *features: Column
) -> DataFrame:
    """(c_custkey, *features, label) for each customer with an order in
    the feature window, in one aggregate over ``window_orders``.
    ``features`` are aggregates over those orders; ``label`` is 1
    (churned) when none of them falls in the label window, else 0."""
    in_feat = in_feature_window()
    return (
        window_orders(spark, sf_dir)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            *features,
            (1 - F.max((~in_feat).cast("int"))).alias("label"),
            F.max(in_feat).alias("active"),
        )
        .where("active")
        .drop("active")
    )


def label_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One CASE-split aggregate: the churn label of each active customer."""
    return labelled_customers(spark, sf_dir)


def class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (RF/randomforest_churn.scala:221): label -> count, sorted."""
    return label_churn(spark, sf_dir).groupBy("label").count().orderBy("label")


_ACTIVE_SQL = f"""
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{FEAT_END_EXCL}'
"""
_BUYERS_SQL = f"""
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{LABEL_START}'
    AND o_orderdate <  TIMESTAMP '{LABEL_END_EXCL}'
"""

LABEL_ORACLE = f"""
WITH active AS ({_ACTIVE_SQL}), buyers AS ({_BUYERS_SQL})
SELECT a.c_custkey,
       CAST(CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END AS INTEGER) AS label
FROM active a LEFT JOIN buyers b USING (c_custkey)
"""

QUERIES = {
    "label_churn": label_churn,
    "label_class_balance": class_balance,
}

ORACLES = {
    "label_churn": LABEL_ORACLE,
    "label_class_balance": f"""
SELECT label, count(*) AS count FROM ({LABEL_ORACLE}) GROUP BY 1 ORDER BY 1
""",
}
