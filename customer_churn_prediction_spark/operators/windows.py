"""Window-function operators (SURVEY.md §2.5, W1-W5 + extensions).

The reference only uses unbounded-partition windows (no ORDER BY),
which the engine computes as one groupBy (``rfm.rfm_groupby``). Here
we add the ranking/analytic extensions SURVEY flags as free in Spark:
row_number dedup (the natural form of the reference's window+distinct
idiom), lag-based purchase gaps, and an ordered running-total frame.

Ordering ties are always broken by a unique key so results are
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import FEAT_END_EXCL, FEAT_START
from .rfm import feature_orders

_WINDOW_PRED_SQL = (
    f"o_orderdate >= TIMESTAMP '{FEAT_START}' "
    f"AND o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'"
)


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() = 1 dedup — the scalable rewrite of the reference's
    window+distinct idiom (RF/randomforest_churn.scala:61-72)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        feature_orders(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey").alias("last_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_order_date"),
            "o_totalprice",
        )
    )


def purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytics: per-customer average days between consecutive
    orders (avg of ints => IEEE-deterministic double)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = feature_orders(spark, sf_dir).withColumn(
        "gap_days",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ),
    )
    return (
        gaps.where(F.col("gap_days").isNotNull())
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.avg("gap_days").alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
            F.count(F.lit(1)).alias("n_gaps"),
        )
    )


def running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered cumulative frame (rows unbounded preceding .. current);
    2dp rounding pins the running double sum to its decimal grid."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return feature_orders(spark, sf_dir).select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).cast("long").alias("order_seq"),  # long: parity with DuckDB row_number
    )


SEQ_LEN = 8


def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event sequences — the input shape a sequential /
    behavioral model trains on (the dataloader step that turns an
    event log into ordered training rows): the last ``SEQ_LEN`` events
    per user, most recent first, both as flat (user, pos, event)
    coordinates AND a packed pipe-joined string (flat rows are what
    the driver canonicalizer and columnar sinks handle; the packed
    string is the tokenizer-ready form and doubles as a sequence
    fingerprint).

    One shuffle (the per-user window); ordering is (ts, event_id)
    DESC so ties are deterministic in any engine and any partitioning.
    The packed column is built from the SAME window by collecting the
    visible frame per row and taking the pos=1 row — no second
    aggregation, no join-back."""
    from ..catalog import load_table

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "user_id", "event_id", "ts", "event_type",
        F.row_number().over(w).cast("long").alias("pos"),
    ).where(F.col("pos") <= SEQ_LEN)
    # Packed form from the ranked frame itself: sort the collected
    # (pos, event_type) structs so the result is partition-invariant.
    packed = (
        ranked.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("seq_len"),
            F.expr(
                "concat_ws('|', transform(sort_array(collect_list("
                "named_struct('pos', pos, 'et', event_type))), s -> s.et))"
            ).alias("seq"),
        )
    )
    return (
        ranked.select("user_id", "pos", "event_type")
        .join(packed, "user_id")
        .select("user_id", "pos", "event_type", "seq_len", "seq")
    )


QUERIES = {
    "latest_order_per_customer": latest_order_per_customer,
    "purchase_gaps": purchase_gaps,
    "running_spend": running_spend,
    "user_event_sequences": user_event_sequences,
}

ORACLES = {
    "latest_order_per_customer": f"""
SELECT o_custkey AS c_custkey, o_orderkey AS last_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS last_order_date,
       o_totalprice
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders WHERE {_WINDOW_PRED_SQL}
) WHERE rn = 1
""",
    "purchase_gaps": f"""
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
           CAST(lag(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders WHERE {_WINDOW_PRED_SQL}
)
SELECT o_custkey AS c_custkey,
       avg(gap_days) AS avg_gap_days,
       CAST(max(gap_days) AS INTEGER) AS max_gap_days,
       count(*) AS n_gaps
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY o_custkey
""",
    "running_spend": f"""
SELECT o_custkey AS c_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       row_number() OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders WHERE {_WINDOW_PRED_SQL}
""",
}

# DuckDB twin of user_event_sequences: same (ts, event_id) DESC
# ranking, packed string via string_agg ordered by pos.
ORACLES["user_event_sequences"] = f"""
WITH ranked AS (
  SELECT user_id, event_type,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC)
              AS BIGINT) AS pos
  FROM events
),
kept AS (SELECT * FROM ranked WHERE pos <= {SEQ_LEN}),
packed AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS seq_len,
         string_agg(event_type, '|' ORDER BY pos) AS seq
  FROM kept GROUP BY user_id
)
SELECT k.user_id, k.pos, k.event_type, p.seq_len, p.seq
FROM kept k JOIN packed p USING (user_id)
"""
