"""Scans, filters, predicates, sorts, limits, set operations.

Covers SURVEY.md §2.2 (P1-P9), §2.6 (O1-O3 + the set ops the
reference lacks but Spark provides), and the HAVING / IN-list
predicates (P6, P7). Every predicate compares raw columns against
literals so it pushes down to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import FEAT_END_EXCL, FEAT_START
from .rfm import feature_orders

_WINDOW_PRED_SQL = (
    f"o_orderdate >= TIMESTAMP '{FEAT_START}' "
    f"AND o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'"
)


def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1/P4/P5: projection + equality & date-range predicates.

    Reference shape: RF/randomforest_churn.scala:43-45 (SQL scan with
    to_date BETWEEN) and :83 (inequality filter).
    """
    return (
        feature_orders(spark, sf_dir)
        .where(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


def having_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (RF/randomforest_churn.scala:90-92): agg + filter-on-aggregate
    == SQL HAVING; customers who purchased on more than one day."""
    return (
        feature_orders(spark, sf_dir)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.countDistinct(F.to_date("o_orderdate")).alias("purchase_days"))
        .filter(F.col("purchase_days") > 1)
    )


def isin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (RF/randomforest_churn.scala:134): IN-list membership."""
    return (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size").isin(1, 5, 10, 15))
        .where(F.col("p_type").isin("PROMO", "ECONOMY"))
        .select("p_partkey", "p_name", "p_type", "p_size")
    )


def na_fill_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 (RF/randomforest_churn.scala:180,200): typed na.fill after an
    outer join — strings -> 'unknow', numerics -> 0, in that order."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    agg = (
        feature_orders(spark, sf_dir)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderpriority").alias("last_priority"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )
    return customer.join(agg, "c_custkey", "left").na.fill("unknow").na.fill(0)


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with deterministic tie-break (sort + limit)."""
    return (
        feature_orders(spark, sf_dir)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


def set_ops_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except over PROMO- vs ECONOMY-part buyers."""
    orders = feature_orders(spark, sf_dir).select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    detail = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)

    def buyers(ptype: str) -> DataFrame:
        return (
            detail.where(F.col("p_type") == ptype)
            .select(F.col("o_custkey").alias("c_custkey"))
            .distinct()
        )

    promo, economy = buyers("PROMO"), buyers("ECONOMY")
    return (
        promo.intersect(economy).withColumn("tag", F.lit("both"))
        .unionAll(promo.subtract(economy).withColumn("tag", F.lit("promo_only")))
        .unionAll(economy.subtract(promo).withColumn("tag", F.lit("economy_only")))
    )


def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (RF/randomforest_churn.scala:72): projection + distinct."""
    return (
        feature_orders(spark, sf_dir)
        .select(F.col("o_custkey").alias("c_custkey"), "o_orderpriority")
        .distinct()
    )


_SALT_BUCKETS = 8


def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern: salted equi-join. The fact side gets a
    deterministic salt from its join key (crc32 % B); the dimension
    side is exploded B-fold so every (key, salt) pair exists; the join
    runs on the composite key, splitting a hot key's rows across B
    reducers. The result is provably identical to the plain join
    (oracle = unsalted SQL); AQE's skew-join split is the automatic
    alternative, but explicit salting also fixes skewed AGGREGATIONS
    and pre-AQE engines, so the engine exposes it as an operator."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salted_fact = orders.withColumn(
        "salt", F.crc32(F.col("o_custkey").cast("string")) % _SALT_BUCKETS
    )
    salted_dim = customer.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)]))
    ).withColumn("salt", F.col("salt").cast("long"))
    joined = salted_fact.join(
        salted_dim,
        (salted_fact.o_custkey == salted_dim.c_custkey)
        & (salted_fact.salt == salted_dim.salt),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


SAMPLE_FRACTION = 0.1
STRATA_FRACTIONS = {"F": 0.05, "O": 0.2, "P": 0.5}


def hash_threshold(fraction: float) -> str:
    """4-hex-char cut for ``md5-prefix < threshold`` sampling. The
    achieved rate is round(fraction * 16^4) / 16^4 — within 1/65536 of
    the requested fraction, and exactly the same rows in any engine.
    Any fraction whose threshold rounds to 16^4 (that includes every
    fraction >= 1, and e.g. 0.9999925) returns 'g', which compares
    above every hex prefix (byte-wise string compare, identical in
    Spark and DuckDB) → keep all; the 5-char '10000' would sort BELOW
    'abcd' and silently turn a ~100% sample into ~6%."""
    n = round(fraction * 0x10000)
    if n >= 0x10000:
        return "g"
    return format(n, "04x")


def sampled_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O4 sampling surface: uniform and per-stratum sampling via a
    deterministic md5-prefix filter (row is in-sample iff the first 4
    hex chars of md5(key) fall below the fraction's threshold).

    Unlike seeded ``df.sample`` — whose per-partition RNG draws are
    engine- and partitioning-specific — the hash filter selects the
    SAME rows in any engine and any partitioning, which makes it both
    DuckDB-oracle-able and the scale-correct form: at 100 TB a sample
    must be reproducible across retries, repartitions, and engine
    versions, and a key-hash filter is the standard way (it also pushes
    down as a pure map — no shuffle, no RNG state per task).

    One scan, one aggregate: exact totals, uniform-sample counts, and
    stratified counts come from conditional sums over the same pass
    (the previous form was three aggregates + two joins)."""
    uni_thr = hash_threshold(SAMPLE_FRACTION)
    strat_thr = F.lit("0000")  # statuses outside the strata map: rate 0
    for status, frac in STRATA_FRACTIONS.items():
        strat_thr = (
            F.when(F.col("o_orderstatus") == status,
                   F.lit(hash_threshold(frac))).otherwise(strat_thr)
        )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.substring(
            F.md5(F.col("o_orderkey").cast("string")), 1, 4
        ).alias("hk"),
        strat_thr.alias("strat_thr"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("hk") < uni_thr, 1).otherwise(0)
        ).alias("n_uniform_10pct"),
        F.sum(
            F.when(F.col("hk") < F.col("strat_thr"), 1).otherwise(0)
        ).alias("n_stratified"),
    )


_BUYERS_CTE = f"""
detail AS (
  SELECT o.o_custkey, p.p_type
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE {_WINDOW_PRED_SQL}
),
promo AS (SELECT DISTINCT o_custkey AS c_custkey FROM detail WHERE p_type = 'PROMO'),
economy AS (SELECT DISTINCT o_custkey AS c_custkey FROM detail WHERE p_type = 'ECONOMY')
"""

QUERIES = {
    "scan_filter_project": scan_filter_project,
    "having_repurchase": having_repurchase,
    "isin_filter": isin_filter,
    "na_fill_left_join": na_fill_left_join,
    "topk_orders": topk_orders,
    "set_ops_buyers": set_ops_buyers,
    "distinct_pairs": distinct_pairs,
    "salted_join_revenue": salted_join_revenue,
    "sampled_orders": sampled_orders,
}

_STRAT_THR_CASE = "CASE o_orderstatus " + " ".join(
    f"WHEN '{s}' THEN '{hash_threshold(f)}'"
    for s, f in STRATA_FRACTIONS.items()
) + " ELSE '0000' END"

ORACLES = {
    "scan_filter_project": f"""
SELECT o_orderkey, o_custkey, o_totalprice,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date
FROM orders WHERE {_WINDOW_PRED_SQL} AND o_orderstatus = 'F'
""",
    "having_repurchase": f"""
SELECT o_custkey AS c_custkey,
       count(DISTINCT CAST(o_orderdate AS DATE)) AS purchase_days
FROM orders WHERE {_WINDOW_PRED_SQL}
GROUP BY o_custkey HAVING count(DISTINCT CAST(o_orderdate AS DATE)) > 1
""",
    "isin_filter": """
SELECT p_partkey, p_name, p_type, p_size FROM part
WHERE p_size IN (1, 5, 10, 15) AND p_type IN ('PROMO', 'ECONOMY')
""",
    "na_fill_left_join": f"""
SELECT c.c_custkey,
       COALESCE(a.last_priority, 'unknow') AS last_priority,
       COALESCE(a.order_cnt, 0) AS order_cnt
FROM customer c
LEFT JOIN (
  SELECT o_custkey AS c_custkey, max(o_orderpriority) AS last_priority,
         count(*) AS order_cnt
  FROM orders WHERE {_WINDOW_PRED_SQL} GROUP BY o_custkey
) a USING (c_custkey)
""",
    "topk_orders": f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE {_WINDOW_PRED_SQL}
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    "set_ops_buyers": f"""
WITH {_BUYERS_CTE}
SELECT c_custkey, 'both' AS tag FROM (SELECT * FROM promo INTERSECT SELECT * FROM economy)
UNION ALL
SELECT c_custkey, 'promo_only' AS tag FROM (SELECT * FROM promo EXCEPT SELECT * FROM economy)
UNION ALL
SELECT c_custkey, 'economy_only' AS tag FROM (SELECT * FROM economy EXCEPT SELECT * FROM promo)
""",
    "distinct_pairs": f"""
SELECT DISTINCT o_custkey AS c_custkey, o_orderpriority
FROM orders WHERE {_WINDOW_PRED_SQL}
""",
    # The salted join must equal the PLAIN join — that's the point.
    "salted_join_revenue": """
SELECT c.c_mktsegment, count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    "sampled_orders": f"""
WITH base AS (
  SELECT o_orderstatus,
         substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS hk
  FROM orders
)
SELECT o_orderstatus,
       count(*) AS n_total,
       CAST(count(*) FILTER (WHERE hk < '{hash_threshold(SAMPLE_FRACTION)}')
            AS BIGINT) AS n_uniform_10pct,
       CAST(count(*) FILTER (WHERE hk < {_STRAT_THR_CASE})
            AS BIGINT) AS n_stratified
FROM base GROUP BY o_orderstatus
""",
}
