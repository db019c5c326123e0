"""Table catalog over the driver-generated parquet star schema.

Plays the role of the reference's Hive metastore reads
(``RF/randomforest_churn.scala:43-55`` reads members/sales/goods/points
via ``spark.sql`` against registered tables). Here tables live as one
parquet file per table under ``<sf_dir>/``; we expose them both as
DataFrames and as temp views so operators can use either the DataFrame
combinator or ``spark.sql`` form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one star-schema table.

    ``spread=True`` round-robin repartitions the scan up to the session's
    default parallelism when the file yields fewer splits. Parquet
    parallelism follows file/row-group count, so a small table (documents,
    embeddings) arrives as ONE task — fine for a cheap projection,
    disastrous when every row carries heavy expression work (minhash
    families, shingle explosion, dot products): the whole operator runs
    on one core. On a real cluster with many files the condition is
    false and this is a no-op.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name, spread)
    version = memo.table_version(sf_dir, name)
    hit = memo.get("relation", key, version)
    if hit is not None:
        return hit
    if name == "events":
        # events.ts has shipped as two physical layouts across testdata
        # generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
        # rejects, so it is read as long (nanosAsLong) and rebuilt with
        # exact integer math — and TIMESTAMP(MICROS) without
        # isAdjustedToUTC, which arrives as TIMESTAMP_NTZ. Branch on the
        # arrived dtype; both normalize to session-TZ (UTC) TIMESTAMP so
        # every downstream `cast('timestamp')` literal compares equal.
        from pyspark.sql import functions as F

        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        # Parquet split parallelism tracks file count; when the table
        # arrives as fewer files than cores, fan out so heavy per-row
        # expressions don't serialize on one task. inputFiles() is
        # plan-side metadata — no RDD materialization (the old
        # df.rdd.getNumPartitions() probe built a conversion per call).
        # Known trade-off (r2 ADVICE): a many-tiny-file table that
        # Spark COALESCES below core count passes this check and skips
        # the fan-out; splits ≈ files holds for this repo's fixtures
        # (file sizes ≪ maxPartitionBytes, one split per file). If
        # small-file layouts become an input shape, probe the planned
        # scan partition count instead.
        target = spark.sparkContext.defaultParallelism
        if len(df.inputFiles()) < target:
            df = df.repartition(target)
    return memo.put("relation", key, version, df)


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view (enables the spark.sql path)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


class Catalog:
    """Lazy per-table DataFrame access: ``cat.orders``, ``cat.part``, ..."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)
