"""Sink writers (S7-S13).

| ref sink | here |
|---|---|
| ORC managed table (S9, RF/randomforest_churn.scala:225) | parquet ``saveAsTable`` (columnar-at-rest successor) |
| JDBC (S10, GBDT/spark/utils.scala:109-116) | ``df.write.jdbc`` passthrough (same API) |
| HBase KV w/ MD5-salted rowkey (S11, GBDT/spark/utils.scala:125-156) | salted-key parquet export partitioned by salt bucket |
| libsvm text via featindex dict (S7, FM/fm_libsvm/libsvm_transform.py:11-24) | expression-built libsvm lines (no UDF) from a fitted one-hot pipeline |
| Flask/TF-Serving scoring (S13, GBDT/python/churn_xgb_server.py) | batch scoring job: model.transform + to_json |

The salted export is the 100 TB pattern for hot sequential keys: the
MD5 prefix spreads writes across ``n_buckets`` partitions instead of
hammering one region/file.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import delete


def sf_tag(sf_dir: str) -> str:
    """Managed-table namespace tag for a dataset directory: basename +
    a short hash of the ABSOLUTE path. Two datasets whose directories
    share a basename (/a/sf0.1 vs /b/sf0.1) must not collide, or the
    tableExists() idempotency check would serve at-rest data from the
    wrong dataset (r2 ADVICE)."""
    import hashlib
    import os
    import re

    abspath = os.path.abspath(sf_dir)
    base = re.sub(
        r"[^0-9A-Za-z]+", "_", abspath.strip("/").rsplit("/", 1)[-1]
    )
    return f"{base}_{hashlib.md5(abspath.encode()).hexdigest()[:8]}"


def warehouse_store() -> str:
    """Managed-table location root, pinned under the package's repo
    checkout: the default warehouse dir resolves against the DRIVER
    PROCESS's cwd, which a grading/ops harness may run anywhere —
    derived artifacts must land inside this repo."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        "spark-warehouse",
    )


def managed_ingest(
    spark: SparkSession, table: str, write_fn: Callable[[str], None]
) -> DataFrame:
    """Shared idempotent-ingest discipline for every at-rest layout
    (bucketed fact tables, corpus LSH bands, IVF inverted lists): if
    the table is absent from the SESSION catalog, drop leftovers — a
    table directory outlives an in-memory catalog, so a fresh session
    sees tableExists()==False while stale files remain; these are
    derived artifacts, rebuilt from scratch — then hand ``write_fn``
    the pinned location to write. One copy of this logic: the three
    ingest sites previously each re-implemented it, the same
    silent-de-sync risk class as the duplicated quality expression
    (r3 ADVICE).

    A rebuild reads the source lake, which may still hold rows whose
    derived copies were ERASED (right-to-be-forgotten) — so every
    rebuild re-applies the persisted erasure ledger before any reader
    sees the table (``forget.scrub_rebuilt_store``; a one-existence-
    check no-op for tables without a ledger)."""
    import os

    if not spark.catalog.tableExists(table):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        path = os.path.join(warehouse_store(), table)
        delete(spark, path)
        write_fn(path)
        from .forget import scrub_rebuilt_store

        scrub_rebuilt_store(spark, table)
    return spark.table(table)


def save_as_table(df: DataFrame, table: str, mode: str = "overwrite") -> None:
    """S9: managed columnar table (parquet; reference used ORC)."""
    df.write.format("parquet").mode(mode).saveAsTable(table)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               properties: dict | None = None) -> None:
    """S10: relational sink — same call shape as GBDT/spark/utils.scala:115."""
    df.write.mode(mode).jdbc(url, table, properties=properties or {})


def salted_keyed_export(
    df: DataFrame, key_col: str, path: str, n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """S11/F9: rowkey = md5-salt prefix + key, partitioned by salt
    bucket (GBDT/spark/utils.scala:125-132's makeRowKey, minus HBase)."""
    key = F.col(key_col).cast("string")
    out = df.withColumn(
        "salt_bucket",
        (F.conv(F.substring(F.md5(key), 1, 2), 16, 10).cast("int") % n_buckets),
    ).withColumn("row_key", F.concat_ws("_", F.substring(F.md5(key), 1, 4), key))
    out.write.mode(mode).partitionBy("salt_bucket").parquet(path)


def write_date_partitioned(
    df: DataFrame, ts_col: str, path: str, mode: str = "overwrite"
) -> None:
    """The 100 TB at-rest layout for fact tables (SCALE.md §1): one
    hive-style partition per day, so every date-windowed predicate in
    the engine becomes partition PRUNING (skips files) instead of
    row filtering. The reference implies the same via its Hive
    `to_date(date_rank) between` scans (RF/randomforest_churn.scala:44).
    """
    out = df.withColumn("dt", F.to_date(F.col(ts_col)))
    out.write.mode(mode).partitionBy("dt").parquet(path)


def write_bucketed(
    df: DataFrame, key: str, table: str, n_buckets: int = 32,
    mode: str = "overwrite", path: str | None = None,
) -> None:
    """Bucketed table: rows hash-partitioned AND sorted by the
    join key at write time. Two tables bucketed the same way co-locate:
    Spark plans their equi-join with ZERO Exchange (verified in
    tests/test_sources.py::test_bucketed_join_no_shuffle). This is the
    at-rest answer to the flagship's orders⋈lineitem shuffle at 100 TB —
    pay the shuffle once at ingest, never per query.

    ``path`` pins the table location explicitly (external table);
    without it the files land in the session's warehouse dir, which
    defaults to the DRIVER PROCESS's cwd — callers that must control
    where data lands should always pass it.

    The pre-write repartition on the bucket key yields ONE file per
    bucket: a bucketed scan only reports its sortBy ordering when each
    bucket is a single file, and without that the downstream SMJ pays
    a real sort per query — silently forfeiting half the point of
    sorting at write. (With many write tasks, each task otherwise
    emits its own file per bucket.)"""
    writer = (
        df.repartition(n_buckets, F.col(key))
        .write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def to_libsvm_lines(vectorized: DataFrame, label_col: str = "label",
                    features_col: str = "features") -> DataFrame:
    """S7: one libsvm text line per row, built from expressions only
    (the reference does this row-at-a-time in Python,
    FM/fm_libsvm/libsvm_transform.py:11-24; here the dictionary lookup
    already happened inside the fitted one-hot pipeline).

    Emits ``label slot:value`` with only non-zero slots. Indices are
    ONE-based: that is what Spark's ``format("libsvm")`` reader (and
    classic libsvm tooling) require; the reference's Python path used
    sklearn's ``zero_based=True`` variant (FM/fm_libsvm/
    fm_churn_libsvm.py:75) — same codec, shifted by one.
    """
    arr = vector_to_array(F.col(features_col))
    pairs = F.array_compact(
        F.transform(
            arr,
            lambda x, i: F.when(
                x != 0,
                F.concat_ws(":", (i + 1).cast("string"), x.cast("string")),
            ),
        )
    )
    return vectorized.select(
        F.concat_ws(
            " ", F.col(label_col).cast("string"), F.array_join(pairs, " ")
        ).alias("line")
    )


def batch_score_to_json(model, df: DataFrame, id_col: str) -> DataFrame:
    """S13 replacement: serving-as-a-batch-job. Scores with the fitted
    pipeline and emits the REST-style JSON response records."""
    scored = model.transform(df)
    return scored.select(
        F.to_json(
            F.struct(
                F.col(id_col),
                F.col("prediction").cast("int").alias("prediction"),
                vector_to_array("probability").getItem(1).alias("p1"),
            )
        ).alias("response")
    )
