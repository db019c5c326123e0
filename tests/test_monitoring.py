"""Semantic properties of the monitoring tier (ml/monitoring.py).

Oracle parity is covered by test_registry_oracle; these tests pin the
*meaning* of the numbers: PSI is non-negative and ~0 on a same-
distribution split, the gains table is internally consistent, the
binned KS lower-bounds the exact KS, and the whole tier reads the
orders table exactly once per query.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.constants import (
    FEAT_END_EXCL,
    FEAT_START,
    LABEL_END_EXCL,
)
from customer_churn_prediction_spark.ml import monitoring

from .oracle_utils import assert_matches_oracle


def test_psi_terms_nonnegative_and_total_consistent(spark, sf_dir):
    rows = monitoring.drift_psi(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    for r in rows:
        assert r.psi_term >= 0.0  # (p-q)·ln(p/q) ≥ 0 for every bucket
    total = rows[0].psi_total
    assert all(r.psi_total == total for r in rows)
    assert total >= 0.0
    assert abs(total - round(sum(r.psi_term for r in rows), 4)) < 1e-3


def test_psi_same_distribution_split_is_near_zero(spark, sf_dir):
    """An even/odd orderkey split of ONE window samples the same
    distribution — PSI must be far below the 0.1 'investigate' rule of
    thumb (drift between the two real windows may legitimately exceed
    what this split shows)."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(FEAT_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(FEAT_END_EXCL).cast("timestamp"))
    )
    psi = monitoring.psi_frame(o, F.pmod("o_orderkey", F.lit(2)) == 0)
    total = psi.limit(1).collect()[0].psi_total
    assert 0.0 <= total < 0.05


def test_lift_table_internally_consistent(spark, sf_dir):
    rows = monitoring.score_band_lift(spark, sf_dir).orderBy(
        F.col("band").desc()
    ).collect()
    assert 1 <= len(rows) <= 10
    # cumulative columns accumulate the per-band columns exactly
    cum_c = cum_ch = 0
    for r in rows:
        cum_c += r.n_customers
        cum_ch += r.n_churned
        assert r.cum_customers == cum_c
        assert r.cum_churned == cum_ch
        assert 0.0 <= r.churn_rate <= 1.0
        assert 0.0 <= r.avg_score <= 1.0
    last = rows[-1]
    assert last.capture_rate == 1.0
    assert last.cum_lift == 1.0
    # avg_score decreases with band (bands ARE score ranges)
    scores = [r.avg_score for r in rows]
    assert scores == sorted(scores, reverse=True)


@pytest.mark.parametrize("seed", [[5, 928], [9]], ids=["5-928", "9"])
def test_lift_oracle_parity_on_half_boundary_bands(spark, tmp_path, seed):
    """On these resampled snapshots a band's mean score sits exactly on
    a 6-dp rounding half-boundary (seed [5, 928], band 4: 5478054/12
    micro = 0.4565045; seed 9, bands 2 and 9: 3177630/12 and
    13414989/14 micro). Summed as floats in engine-dependent order,
    the mean landed one ulp either side of it and the two engines
    rounded ``avg_score`` apart. Exact per-band sums give both engines
    the same operands."""
    from perfbench.inputs import make_snapshot

    snap = make_snapshot(str(tmp_path / "snap"), seed)
    assert_matches_oracle(
        monitoring.score_band_lift(spark, snap),
        monitoring.ORACLES["score_band_lift"],
        snap,
    )


def test_lift_totals_match_label_class_balance(spark, sf_dir):
    from customer_churn_prediction_spark.operators import labeling

    balance = {
        r.label: r["count"]
        for r in labeling.class_balance(spark, sf_dir).collect()
    }
    last = (
        monitoring.score_band_lift(spark, sf_dir)
        .orderBy("band")
        .limit(1)
        .collect()[0]
    )
    assert last.cum_customers == balance[0] + balance[1]
    assert last.cum_churned == balance[1]


def test_ks_bounds_and_population(spark, sf_dir):
    row = monitoring.eval_ks(spark, sf_dir).collect()[0]
    assert 0.0 <= row.ks_statistic <= 1.0
    assert row.n_bins_used <= 1000
    # same population as the labeler
    from customer_churn_prediction_spark.operators import labeling

    balance = {
        r.label: r["count"]
        for r in labeling.class_balance(spark, sf_dir).collect()
    }
    assert row.n_pos == balance[1]
    assert row.n_neg == balance[0]


def test_binned_ks_lower_bounds_exact_ks(spark, sf_dir):
    """Bin edges are a subset of all thresholds, so the binned KS can
    only under-estimate, and by no more than the largest within-bin
    class mass (loose 0.05 bound at this sf)."""
    binned = monitoring.eval_ks(spark, sf_dir).collect()[0].ks_statistic
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    exact = con.execute(
        f"""
        WITH {monitoring._SCORED_CTE},
        cdf AS (
          SELECT score,
            CAST(sum(label) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              / sum(label) OVER () AS f_pos,
            CAST(sum(1 - label) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              / sum(1 - label) OVER () AS f_neg
          FROM s2
        )
        SELECT max(abs(f_pos - f_neg)) FROM cdf
        """
    ).fetchone()[0]
    # ks_statistic is rounded to 6dp, so allow half-ulp-of-rounding slack
    assert binned <= exact + 5e-7
    assert exact - binned <= 0.05


@pytest.mark.parametrize(
    "name", ["drift_psi", "score_band_lift", "eval_ks"]
)
def test_single_scan_plans(spark, sf_dir, name):
    """The J4 conditional-aggregation rewrite means ONE parquet scan
    per query — no label-side self-join creeping back in."""
    df = monitoring.QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
