"""Machine-visible correctness for the staged (pytest-only) tier.

The driver's 50-row/round budget caps the registry at 100
provable-every-other-round entries, so ~20 operators stay staged
PERMANENTLY (`plans/registry.staged_modules()`); their oracle parity
lives inside pytest files, invisible to the CORRECTNESS_r{N}.json
artifact chain. This script closes that gap: it runs every staged
query against its DuckDB oracle at the driver's own scale factor
(sf0.01) with the one oracle compare (``tests/oracle_utils.py``:
row count, sorted-column schema, canonicalized value multiset) and writes
``STAGED_CORRECTNESS.json`` at the repo root with the driver's exact
row schema, so the artifact can be cited next to CORRECTNESS_r{N}.

Usage: python scripts/staged_driver_sim.py   (~1-2 min on local[8])
"""

from __future__ import annotations

import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(REPO, "STAGED_CORRECTNESS.json")


def main() -> None:
    from customer_churn_prediction_spark.plans import registry
    from customer_churn_prediction_spark.session import get_spark
    from tests.oracle_utils import mismatch, run_oracle

    spark = get_spark(
        app_name="staged-driver-sim", master="local[8]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")

    oracles: dict[str, str] = {}
    for mod in registry.staged_modules():
        oracles.update(getattr(mod, "ORACLES", {}))
        oracles.update(getattr(mod, "STAGED_ORACLES", {}))

    rows: dict[str, dict] = {}
    for name, fn in registry.get_staged_queries().items():
        row = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None,
            "oracle_rows": None, "err": None,
        }
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            row["spark_rows"] = len(sdf)
            odf = run_oracle(oracles[name], SF_DIR)
            row["oracle_rows"] = len(odf)
            row["rows_match"] = len(sdf) == len(odf)
            row["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
            row["hash_match"] = mismatch(sdf, odf) is None
        except Exception as exc:  # record, don't abort the artifact
            row["err"] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc()
        rows[name] = row
        print(f"  {name}: "
              f"{'MATCH' if row['hash_match'] else 'MISMATCH'} "
              f"({row['spark_rows']} rows)")

    with open(OUT, "w") as fh:
        json.dump(rows, fh, indent=1)
        fh.write("\n")
    fails = [n for n, r in rows.items() if not r["hash_match"]]
    print(f"wrote {len(rows)} rows to {OUT}")
    print("RESULT:", "ALL MATCH" if not fails else f"FAILS: {fails}")
    spark.stop()
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
