"""Churn labeling — the reference's label join (J3).

Reference (``RF/randomforest_churn.scala:212-227``): customers active
in the feature window are left-joined against the distinct buyers of
the later label window with a constant ``label = 0`` column; the nulls
left by the outer join are filled with 1 (churned). Churned customers
are the outer join's anti-join side and retained ones its semi-join
side, so one labelled frame carries both.

Plus the class-balance report (A5, ``RF/randomforest_churn.scala:221``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import FEAT_END_EXCL, FEAT_START, LABEL_END_EXCL, LABEL_START
from .rfm import feature_orders


def _active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        feature_orders(spark, sf_dir)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )


def _label_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit(LABEL_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(LABEL_END_EXCL).cast("timestamp"))
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )


def label_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful: outer join + na.fill(1) => churn label."""
    active = _active_customers(spark, sf_dir)
    buyers = _label_buyers(spark, sf_dir).withColumn("label", F.lit(0))
    return active.join(buyers, "c_custkey", "left").na.fill(1, ["label"])


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
WITH active AS ({_ACTIVE_SQL}), buyers AS ({_BUYERS_SQL})
SELECT CAST(CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END AS INTEGER) AS label,
       count(*) AS count
FROM active a LEFT JOIN buyers b USING (c_custkey)
GROUP BY 1 ORDER BY 1
""",
}
