"""Correctness pass over the ``__spark_entry__`` contract.

Imports ``__spark_entry__``, smoke-runs ``entry(spark)`` (sf0.001),
then runs every registered query at sf0.01 and hash-compares it with
its DuckDB oracle through ``tests/oracle_utils.py`` (row count,
sorted-column schema, canonical value multiset). Prints one MATCH/MISMATCH line per query with its
Spark and oracle seconds, a JSON total, and last ``RESULT: ALL MATCH``
or ``RESULT: FAILS: [...]``; exits 1 on any failure.

Usage: python scripts/driver_sim.py [--names q1,q2] [--sf-dir DIR]
(~2-4 min for the full registry on local[8])
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--names", default=None)
    args = ap.parse_args()

    import __spark_entry__ as E

    from customer_churn_prediction_spark.session import get_spark
    from tests.oracle_utils import mismatch, run_oracle

    spark = get_spark(
        app_name="entry-sim", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("entry():", E.entry(spark).count(), "rows", flush=True)

    queries, oracles = E.queries(), E.oracle_sql()
    names = args.names.split(",") if args.names else list(queries)

    fails = []
    total0 = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        t_oracle = 0.0
        try:
            sdf = queries[name](spark, args.sf_dir).toPandas()
            t_spark = time.perf_counter() - t0
            if name not in oracles:
                print(f"  {name}: rows-only, {len(sdf)} rows "
                      f"spark={t_spark:.2f}s", flush=True)
                continue
            t1 = time.perf_counter()
            problem = mismatch(sdf, run_oracle(oracles[name], args.sf_dir))
            t_oracle = time.perf_counter() - t1
            n_rows = len(sdf)
        except Exception as exc:  # record, don't abort the pass
            t_spark = time.perf_counter() - t0
            problem, n_rows = f"{type(exc).__name__}: {exc}"[:200], None
        print(
            f"  {name}: {'MATCH' if problem is None else 'MISMATCH'} "
            f"({n_rows} rows) spark={t_spark:.2f}s oracle={t_oracle:.2f}s"
            + (f" {problem}" if problem else ""),
            flush=True,
        )
        if problem is not None:
            fails.append(name)
    total = time.perf_counter() - total0
    print(json.dumps({"total_s": round(total, 1), "n": len(names)}))
    print("RESULT:", "ALL MATCH" if not fails else f"FAILS: {fails}")
    spark.stop()
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
