"""RFM (recency / frequency / monetary) feature operators.

Reference semantics: ``RF/randomforest_churn.scala:61-76`` computes,
per customer over the feature window, last/first purchase date (window
max/min), monetary (window sum, rounded 2dp), max basket (window max),
items count (window count) via unbounded-partition window functions
followed by ``distinct()``; frequency is a separate
``groupBy().agg(countDistinct(TML_NUM_ID))`` at ``:74-76``.

The engine computes the same six values with one groupBy aggregation
(``rfm_groupby``): a single partial+final hash aggregate whose
map-side combine shrinks the shuffle to one row per customer, where
the window idiom shuffles every order row into a per-customer sort
before deduplicating. The feature-window filter and the six aggregates
are shared with ``operators/assembly.py``, which extends them with the
90-day, weekend and channel features in the same aggregate.

Star-schema mapping (FIXTURES.md §A): USR_NUM_ID→o_custkey,
ORDER_DATE→o_orderdate, TRADE_AMOUNT→o_totalprice, TML_NUM_ID→o_orderkey.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import ASOF, FEAT_END_EXCL, FEAT_START

# Columns produced (aliases shared with the oracle SQL).
_FINAL_COLS = [
    "c_custkey",
    "recency",
    "shop_duration",
    "frequency",
    "monetary",
    "max_amount",
    "items_count",
]


def feature_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders restricted to the feature window.

    The predicate compares the raw timestamp column against literals so
    it reaches the parquet scan (PushedFilters) and prunes date
    partitions on a partitioned layout.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(
        (F.col("o_orderdate") >= F.lit(FEAT_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(FEAT_END_EXCL).cast("timestamp"))
    )


def rfm_aggs() -> list[Column]:
    """The six per-customer RFM aggregates over feature-window orders,
    in ``_FINAL_COLS`` order."""
    asof = F.lit(ASOF).cast("date")
    return [
        F.datediff(asof, F.max(F.to_date("o_orderdate"))).alias("recency"),
        F.datediff(asof, F.min(F.to_date("o_orderdate"))).alias("shop_duration"),
        F.countDistinct("o_orderkey").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        F.round(F.max("o_totalprice"), 2).alias("max_amount"),
        F.count("o_orderkey").alias("items_count"),
    ]


def rfm_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM via a single hash aggregation (the scale form)."""
    return (
        feature_orders(spark, sf_dir)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(*rfm_aggs())
        .select(*_FINAL_COLS)
    )


RFM_ORACLE = f"""
SELECT
  o_custkey                                             AS c_custkey,
  CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                 DATE '{ASOF}') AS INTEGER)             AS recency,
  CAST(date_diff('day', CAST(min(o_orderdate) AS DATE),
                 DATE '{ASOF}') AS INTEGER)             AS shop_duration,
  count(DISTINCT o_orderkey)                            AS frequency,
  round(sum(o_totalprice), 2)                           AS monetary,
  round(max(o_totalprice), 2)                           AS max_amount,
  count(o_orderkey)                                     AS items_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
  AND o_orderdate <  TIMESTAMP '{FEAT_END_EXCL}'
GROUP BY o_custkey
"""

QUERIES = {
    "rfm_groupby": rfm_groupby,
}

ORACLES = {
    "rfm_groupby": RFM_ORACLE,
}
