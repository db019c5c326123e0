"""Decade measurement for the DSIR at-rest production path (VERDICT
r11 item 8): the fit-path claim — "the gram pipeline drops out of fit
and serve" — measured end-to-end at sf0.1 AND the ×10-docs fixture
(`.scale/sf1docs`, 50,000 docs), the way SCALE §10.5 measured the
other at-rest families.

Per scale point, medians of 3 after a warm pass:

  * ingest   — `dsir_scores_ingest` COLD (table dropped first): the
               once-per-corpus gram pipeline + score write;
  * serve    — `corpus_select_dsir_stored` with the fit memo CLEARED
               each pass: content fingerprint + band fit (two
               aggregates over the 3-column score table) + band-rank
               tail — the recurring cost;
  * serve warm — same, memo kept: fingerprint + band-rank only;
  * inline   — `corpus_select_dsir` with the memo cleared: the full
               gram pipeline per selection, the cost the at-rest twin
               amortizes away.

Usage: python scripts/dsir_stored_curve.py   (run ALONE; ~3-5 min).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from customer_churn_prediction_spark import memo  # noqa: E402
from customer_churn_prediction_spark.session import get_spark  # noqa: E402
from customer_churn_prediction_spark.sources.writers import (  # noqa: E402
    sf_tag,
    warehouse_store,
)
from customer_churn_prediction_spark.text import selection  # noqa: E402

POINTS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("x10docs", os.path.join(REPO, ".scale", "sf1docs")),
]


def _drop_store(spark, sf_dir: str) -> None:
    table = f"dsir_scores_{sf_tag(sf_dir)}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(
        os.path.join(warehouse_store(), table), ignore_errors=True
    )


def _timed(fn, n=3):
    outs = []
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        outs.append(time.monotonic() - t0)
    return statistics.median(outs)


def main() -> None:
    spark = get_spark(app_name="dsir-stored-curve", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    for tag, sf_dir in POINTS:
        # warm codegen on the smallest fixture semantics: one full
        # inline pass at this sf (also fits the inline memo once)
        memo.clear("dsir.bands")
        force(selection.corpus_select_dsir(spark, sf_dir))

        def ingest_cold():
            _drop_store(spark, sf_dir)
            force(selection.dsir_scores_ingest(spark, sf_dir))

        t_ingest = _timed(ingest_cold)

        def serve_cold_fit():
            memo.clear("dsir.bands")
            force(selection.corpus_select_dsir_stored(spark, sf_dir))

        t_serve = _timed(serve_cold_fit)
        t_serve_warm = _timed(
            lambda: force(selection.corpus_select_dsir_stored(spark, sf_dir))
        )

        def inline_cold_fit():
            memo.clear("dsir.bands")
            force(selection.corpus_select_dsir(spark, sf_dir))

        t_inline = _timed(inline_cold_fit)
        n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        print(
            f"{tag} ({n:,} docs): ingest={t_ingest:.2f}s"
            f" serve(fit)={t_serve:.2f}s serve(warm)={t_serve_warm:.2f}s"
            f" inline(fit)={t_inline:.2f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
