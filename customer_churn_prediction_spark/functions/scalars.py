"""Scalar functions (SURVEY.md §2.7, F1-F11) as oracle-checked queries.

Cross-engine conventions baked into the oracles:
* Spark ``dayofweek`` is 1=Sunday; DuckDB ``dayofweek`` is 0=Sunday.
* Spark ``round`` = HALF_UP, DuckDB ``round`` = half-away-from-zero —
  identical for our positive values; ``bround`` = DuckDB ``round_even``.
  The rounded expressions below are constructed tie-free (x/3 and x/7
  of integral quantities can never land on a .005 boundary, since a
  terminating /3 or /7 quotient must be an integer).
* ``get_json_object`` ↔ DuckDB ``->>`` both return JSON strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import ASOF, FEAT_END_EXCL, FEAT_START
from ..operators.rfm import feature_orders

_WINDOW_PRED_SQL = (
    f"o_orderdate >= TIMESTAMP '{FEAT_START}' "
    f"AND o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'"
)


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4, F7 (RF/randomforest_churn.scala:44-66,104-113,125-127):
    to_date / datediff / date math / dayofweek / weekend flag."""
    o = feature_orders(spark, sf_dir)
    d = F.to_date("o_orderdate")
    # Temporal outputs are ISO strings: unambiguous across Spark/DuckDB
    # result transports (a DATE arrives as datetime.date from Spark but
    # datetime64 from DuckDB's pandas bridge).
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.dayofweek(d).alias("order_dow"),
        F.dayofweek(d).isin(1, 7).cast("int").alias("is_weekend"),
        F.datediff(F.lit(ASOF).cast("date"), d).alias("days_before_asof"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.date_sub(d, 7), "yyyy-MM-dd").alias("week_before"),
    )


def round_bround(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (RF/randomforest_churn.scala:67 vs :130): HALF_UP round vs
    HALF_EVEN bround, on provably tie-free quotients."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") / 3, 2).alias("q_third_round"),
        F.bround(F.col("l_quantity") / 7, 2).alias("q_seventh_bround"),
        F.round("l_extendedprice", 0).alias("price_whole"),
        F.bround(F.col("l_quantity") / 2, 0).alias("q_half_beven"),
    )


def md5_salted_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/S11 (GBDT/spark/utils.scala:125-132,141-156): MD5-prefix
    salting of a hot rowkey — the HBase-sink key scheme as pure SQL.
    At scale this is exactly how you'd de-skew a sequential key."""
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    return c.select(
        "c_custkey",
        F.md5(key).alias("key_md5"),
        F.concat_ws("_", F.substring(F.md5(key), 1, 4), key).alias("salted_key"),
    )


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11 (GBDT/spark/utils.scala:149; libsvm codec split/concat)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws("|", "c_name", "c_mktsegment").alias("name_seg"),
        F.size(F.split("c_name", "#")).cast("long").alias("name_parts"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
    )


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/JSON surface (ours; serving JSON was pandas-side in the
    reference, GBDT/python/churn_xgb_server.py:13): get_json_object
    over the events.props payload + aggregation on the parsed value.

    ``spread=True``: JSON parse is heavy per-row expression work (the
    same class as the text tier's minhash families), so a
    single-row-group fixture file must fan out before the parse or
    the whole query runs on one core — measured 2.25 → 1.30 s at the
    ×10 events decade (the residue is the one-task read+shuffle-write
    of the raw column, the split-parallelism floor of a one-row-group
    file). ``from_json`` was A/B'd against ``get_json_object`` at ×10
    and tied exactly (2.33 s both) — the parse cost is the JSON
    tokenizer itself, not the path-extraction API. No-op on real
    multi-file layouts."""
    e = load_table(spark, sf_dir, "events", spread=True)
    parsed = e.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.avg("k").alias("k_avg"),
    )


QUERIES = {
    "date_functions": date_functions,
    "round_bround": round_bround,
    "md5_salted_key": md5_salted_key,
    "string_functions": string_functions,
    "json_extract_events": json_extract_events,
}

ORACLES = {
    "date_functions": f"""
SELECT o_orderkey,
  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')            AS order_date,
  CAST(year(o_orderdate) AS INTEGER)                         AS order_year,
  CAST(month(o_orderdate) AS INTEGER)                        AS order_month,
  CAST(dayofweek(o_orderdate) + 1 AS INTEGER)                AS order_dow,
  CAST(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END AS INTEGER) AS is_weekend,
  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '{ASOF}') AS INTEGER) AS days_before_asof,
  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d')       AS due_date,
  strftime(CAST(o_orderdate AS DATE) - 7, '%Y-%m-%d')        AS week_before
FROM orders WHERE {_WINDOW_PRED_SQL}
""",
    "round_bround": """
SELECT l_orderkey, l_linenumber,
  round(l_quantity / 3, 2)       AS q_third_round,
  round_even(l_quantity / 7, 2)  AS q_seventh_bround,
  round(l_extendedprice, 0)      AS price_whole,
  round_even(l_quantity / 2, 0)  AS q_half_beven
FROM lineitem
""",
    "md5_salted_key": """
SELECT c_custkey,
  md5(CAST(c_custkey AS VARCHAR)) AS key_md5,
  concat_ws('_', substring(md5(CAST(c_custkey AS VARCHAR)), 1, 4),
            CAST(c_custkey AS VARCHAR)) AS salted_key
FROM customer
""",
    "string_functions": """
SELECT c_custkey,
  concat_ws('|', c_name, c_mktsegment)          AS name_seg,
  CAST(len(string_split(c_name, '#')) AS BIGINT) AS name_parts,
  upper(c_mktsegment)                            AS seg_upper,
  substring(c_name, 1, 8)                        AS name_prefix,
  CAST(length(c_name) AS BIGINT)                 AS name_len
FROM customer
""",
    "json_extract_events": """
SELECT event_type,
  count(*) AS n_events,
  CAST(min(CAST(props ->> 'k' AS INTEGER)) AS INTEGER) AS k_min,
  CAST(max(CAST(props ->> 'k' AS INTEGER)) AS INTEGER) AS k_max,
  avg(CAST(props ->> 'k' AS INTEGER)) AS k_avg
FROM events GROUP BY event_type
""",
}
