"""Churn feature-table assembly — the engine's flagship query.

Rebuilds the reference's ``churnPreprocessing``
(``RF/randomforest_churn.scala:40-203``): a per-customer feature table
combining RFM base features, a 90-day recent slice, lineitem-detail
features (items/shops/promotions), a weekend-shopping ratio, a
shopping-channel label (U1 udf → pure ``when`` chain), customer/nation
dimensions, and per-category membership flags (J4), with the
reference's null policy (strings → "unknow", numerics → 0,
``RF/randomforest_churn.scala:180,200``).

The reference builds one small aggregate frame per feature family and
left-joins them all on the customer key (``:169-198``, J2). Here
conditional aggregation collapses those families into exactly two hash
aggregates — one over the feature-window orders (``rfm``'s six
aggregates plus the recent, weekend and channel columns), one over the
orders⋈lineitem⋈part detail — plus broadcast dimension joins. Each
source table is scanned once, and map-side partial aggregation shrinks
each of the two wide shuffles to one row per customer per side.

Determinism contract with the DuckDB oracle: sums of money are rounded
to their decimal grid (2dp for prices, 4dp for price*discount);
ratio columns are emitted UNROUNDED — both engines perform the same
IEEE-754 division on bit-identical operands, whereas decimal rounding
of a ratio can straddle a tie differently per engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import ASOF, FEAT_END_EXCL, FEAT_START, RECENT_START
from .rfm import feature_orders, rfm_aggs

# p_type vocabulary of the star schema plays the reference's 13
# product-category groups (RF/randomforest_churn.scala:140-152).
FLAG_TYPES = ("PROMO", "ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD")

FINAL_COLS = [
    "c_custkey",
    "recency",
    "shop_duration",
    "frequency",
    "monetary",
    "max_amount",
    "items_count",
    "monetary3",
    "frequence3",
    "max_amount3",
    "avg_amount",
    "item_count_turn",
    "avg_piece_amount",
    "lineitem_count",
    "quantity_sum",
    "shops_count",
    "promote_items_count",
    "save_amount",
    "promote_percent",
    "week_percent",
    "shop_channel",
    "c_mktsegment",
    "n_name",
] + [f"{t.lower()}_group" for t in FLAG_TYPES]


def _detail(
    orders: DataFrame, lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """orders ⋈ lineitem ⋈ part over the caller's (feature-window)
    orders.

    The part side is an explicit broadcast (J1): parts are a dimension
    table orders of magnitude smaller than lineitem at any scale.
    """
    orders = orders.select("o_orderkey", "o_custkey")
    lineitem = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    part = part.select("p_partkey", "p_type")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    )


def _dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation dimension attributes (broadcast-sized)."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left"
    ).select("c_custkey", "c_mktsegment", "n_name")


def _recent(col: str):
    return F.col(col) >= F.lit(RECENT_START).cast("timestamp")


def _finalize(df: DataFrame) -> DataFrame:
    """Ratio columns + the reference's null-fill policy (strings first)."""
    df = (
        df.withColumn("avg_amount", F.col("monetary") / F.col("frequency"))
        .withColumn("item_count_turn", F.col("lineitem_count") / F.col("frequency"))
        .withColumn("avg_piece_amount", F.col("monetary") / F.col("quantity_sum"))
        .withColumn(
            "promote_percent",
            F.col("promote_items_count") / F.col("lineitem_count"),
        )
    )
    # RF/randomforest_churn.scala:200 — string fill, then numeric fill.
    return df.na.fill("unknow").na.fill(0).select(*FINAL_COLS)


def _orders_agg(o: DataFrame) -> DataFrame:
    """Single-pass per-customer aggregate over orders (base + recent +
    weekend + channel), using conditional aggregation for the 90-day
    slice instead of the reference's second scan
    (RF/randomforest_churn.scala:155-167)."""
    dow = F.dayofweek("o_orderdate")
    return o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        *rfm_aggs(),
        F.round(
            F.sum(F.when(_recent("o_orderdate"), F.col("o_totalprice"))), 2
        ).alias("monetary3"),
        F.countDistinct(
            F.when(_recent("o_orderdate"), F.col("o_orderkey"))
        ).alias("frequence3"),
        F.round(
            F.max(F.when(_recent("o_orderdate"), F.col("o_totalprice"))), 2
        ).alias("max_amount3"),
        F.avg(dow.isin(1, 7).cast("int")).alias("week_percent"),
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("_urgent"),
        F.max((F.col("o_orderpriority") == "2-HIGH").cast("int")).alias("_high"),
    )


def _channel(df: DataFrame) -> DataFrame:
    """U1 analog (RF/randomforest_churn.scala:117-122): two membership
    flags → 3-way channel label, else null → later filled 'unknow'.
    Pure ``when`` chain — no UDF."""
    return df.withColumn(
        "shop_channel",
        F.when((F.col("_urgent") == 1) & (F.col("_high") == 1), "both")
        .when(F.col("_urgent") == 1, "urgent_only")
        .when(F.col("_high") == 1, "high_only"),
    ).drop("_urgent", "_high")


def feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer churn feature table: two hash aggregates + broadcast dims.

    The orders aggregate and the detail aggregate are left-joined on
    the customer key, then the dimensions; ``_finalize`` adds the
    ratios and the null fill."""
    orders = feature_orders(spark, sf_dir)
    orders_feats = _channel(_orders_agg(orders))

    d = _detail(
        orders,
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )
    detail_aggs = [
        F.count(F.lit(1)).alias("lineitem_count"),
        F.round(F.sum("l_quantity"), 2).alias("quantity_sum"),
        F.countDistinct("l_suppkey").alias("shops_count"),
        F.sum((F.col("l_discount") > 0).cast("int")).alias("promote_items_count"),
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("save_amount"),
    ] + [
        F.max((F.col("p_type") == t).cast("int")).alias(f"{t.lower()}_group")
        for t in FLAG_TYPES
    ]
    detail_feats = d.groupBy(F.col("o_custkey").alias("c_custkey")).agg(*detail_aggs)

    out = (
        orders_feats.join(detail_feats, "c_custkey", "left")
        .join(_dims(spark, sf_dir), "c_custkey", "left")
    )
    return _finalize(out)


_FLAG_AGGS_SQL = ",\n      ".join(
    f"max(CASE WHEN p_type = '{t}' THEN 1 ELSE 0 END) AS {t.lower()}_group"
    for t in FLAG_TYPES
)
_FLAG_COALESCE_SQL = ",\n  ".join(
    f"COALESCE(d.{t.lower()}_group, 0) AS {t.lower()}_group" for t in FLAG_TYPES
)

ASSEMBLY_ORACLE = f"""
WITH feat_orders AS (
  SELECT * FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{FEAT_END_EXCL}'
),
base AS (
  SELECT
    o_custkey AS c_custkey,
    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ASOF}') AS INTEGER) AS recency,
    CAST(date_diff('day', CAST(min(o_orderdate) AS DATE), DATE '{ASOF}') AS INTEGER) AS shop_duration,
    count(DISTINCT o_orderkey) AS frequency,
    round(sum(o_totalprice), 2) AS monetary,
    round(max(o_totalprice), 2) AS max_amount,
    count(o_orderkey) AS items_count,
    round(sum(CASE WHEN o_orderdate >= TIMESTAMP '{RECENT_START}' THEN o_totalprice END), 2) AS monetary3,
    count(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '{RECENT_START}' THEN o_orderkey END) AS frequence3,
    round(max(CASE WHEN o_orderdate >= TIMESTAMP '{RECENT_START}' THEN o_totalprice END), 2) AS max_amount3,
    avg(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END) AS week_percent,
    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS urgent,
    max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS high
  FROM feat_orders
  GROUP BY o_custkey
),
detail AS (
  SELECT
    o.o_custkey AS c_custkey,
    count(*) AS lineitem_count,
    round(sum(l.l_quantity), 2) AS quantity_sum,
    count(DISTINCT l.l_suppkey) AS shops_count,
    CAST(sum(CASE WHEN l.l_discount > 0 THEN 1 ELSE 0 END) AS BIGINT) AS promote_items_count,
    round(sum(l.l_extendedprice * l.l_discount), 4) AS save_amount,
      {_FLAG_AGGS_SQL}
  FROM feat_orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY o.o_custkey
)
SELECT
  b.c_custkey,
  b.recency,
  b.shop_duration,
  b.frequency,
  b.monetary,
  b.max_amount,
  b.items_count,
  COALESCE(b.monetary3, 0) AS monetary3,
  b.frequence3,
  COALESCE(b.max_amount3, 0) AS max_amount3,
  b.monetary / CAST(b.frequency AS DOUBLE) AS avg_amount,
  COALESCE(d.lineitem_count / CAST(b.frequency AS DOUBLE), 0) AS item_count_turn,
  COALESCE(b.monetary / d.quantity_sum, 0) AS avg_piece_amount,
  COALESCE(d.lineitem_count, 0) AS lineitem_count,
  COALESCE(d.quantity_sum, 0) AS quantity_sum,
  COALESCE(d.shops_count, 0) AS shops_count,
  COALESCE(d.promote_items_count, 0) AS promote_items_count,
  COALESCE(d.save_amount, 0) AS save_amount,
  COALESCE(d.promote_items_count / CAST(d.lineitem_count AS DOUBLE), 0) AS promote_percent,
  b.week_percent,
  CASE WHEN b.urgent = 1 AND b.high = 1 THEN 'both'
       WHEN b.urgent = 1 THEN 'urgent_only'
       WHEN b.high = 1 THEN 'high_only'
       ELSE 'unknow' END AS shop_channel,
  COALESCE(c.c_mktsegment, 'unknow') AS c_mktsegment,
  COALESCE(n.n_name, 'unknow') AS n_name,
  {_FLAG_COALESCE_SQL}
FROM base b
LEFT JOIN detail d USING (c_custkey)
LEFT JOIN customer c ON c.c_custkey = b.c_custkey
LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
"""

QUERIES = {
    "feature_assembly": feature_assembly,
}

ORACLES = {
    "feature_assembly": ASSEMBLY_ORACLE,
}
