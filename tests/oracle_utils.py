"""The one oracle comparison: a Spark result against its DuckDB oracle.

Runs a Spark query and its DuckDB oracle SQL on the same parquet
tables, then compares row count, column names, and order-insensitive
values — the same gate CORRECTNESS_r{N}.json records. pytest,
``scripts/driver_sim.py``, ``scripts/staged_driver_sim.py`` and the
benchmark's output checks all compare through this module.
"""

from __future__ import annotations

import math
import os

import duckdb

from customer_churn_prediction_spark.catalog import TABLES


def run_oracle(sql: str, sf_dir: str):
    """The oracle's result as a pandas frame, over one view per catalog
    table that exists under ``sf_dir`` (a crafted fixture may hold only
    ``documents``)."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'"
            )
    return con.execute(sql).df()


def _canon(value):
    """Canonicalize one cell for order-insensitive comparison."""
    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # Rounded-to-grid doubles compare exactly; guard stray noise.
        return f"{value:.9g}"
    return str(value)


def canonical_rows(df) -> list[tuple]:
    """pandas.DataFrame -> sorted list of tuples over name-sorted columns."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon(v) for v in row))
    out.sort()
    return out


def mismatch(sdf, odf) -> str | None:
    """Why two pandas frames differ under the oracle compare, or None
    when they match."""
    sc, oc = sorted(sdf.columns), sorted(odf.columns)
    if sc != oc:
        return f"column mismatch: spark={sc} oracle={oc}"
    if len(sdf) != len(odf):
        return f"row count: spark={len(sdf)} oracle={len(odf)}"
    srows, orows = canonical_rows(sdf), canonical_rows(odf)
    if srows != orows:
        diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:5]
        return f"value mismatch; first diffs: {diffs}"
    return None


def assert_matches_oracle(spark_df, oracle_sql: str, sf_dir: str):
    problem = mismatch(spark_df.toPandas(), run_oracle(oracle_sql, sf_dir))
    assert problem is None, problem


def assert_df_equal(df_a, df_b):
    """Two Spark DataFrames are value-equal (order-insensitive)."""
    pa, pb = df_a.toPandas(), df_b.toPandas()
    assert sorted(pa.columns) == sorted(pb.columns)
    assert len(pa) == len(pb)
    assert canonical_rows(pa) == canonical_rows(pb)
