from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.constants import FEAT_END_EXCL, FEAT_START
from customer_churn_prediction_spark.operators import assembly
from customer_churn_prediction_spark.sources.writers import write_bucketed

from .oracle_utils import assert_matches_oracle


def test_feature_assembly_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        assembly.feature_assembly(spark, sf_dir),
        assembly.ASSEMBLY_ORACLE,
        sf_dir,
    )


def test_bucketed_flagship_join_zero_exchange(spark, sf_smoke, tmp_path):
    """The at-rest layout's whole point: orders⋈lineitem (the flagship's
    one fact⋈fact shuffle) plans with NO Exchange from order-key-bucketed
    tables, the feature-window date filter included. Broadcast is
    disabled so the plan shows the sort-merge join a 100 TB run would
    use."""
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        table = f"{name}_flagship_bkt"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        write_bucketed(
            load_table(spark, sf_smoke, name), key, table, 8,
            path=str(tmp_path / table),
        )
    orders = spark.table("orders_flagship_bkt").where(
        (F.col("o_orderdate") >= F.lit(FEAT_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(FEAT_END_EXCL).cast("timestamp"))
    )
    lineitem = spark.table("lineitem_flagship_bkt")
    joined = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select("o_custkey", "l_quantity")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for table in ("orders_flagship_bkt", "lineitem_flagship_bkt"):
            spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_null_policy(spark, sf_dir):
    """Customers whose orders have no lineitems get numeric 0 / 'unknow'."""
    df = assembly.feature_assembly(spark, sf_dir)
    pdf = df.toPandas()
    assert pdf.notna().all().all(), "no nulls may survive the fill"
    assert set(pdf["shop_channel"].unique()) <= {
        "both", "urgent_only", "high_only", "unknow"
    }
