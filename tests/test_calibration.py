"""model_calibration + feature_iv (ml/calibration.py) — staged registry
candidates; oracle parity at driver rigor plus the metric semantics on
constructed inputs."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from customer_churn_prediction_spark.ml import calibration

from .oracle_utils import assert_matches_oracle


def test_calibration_oracle_parity_sf001(spark, sf_dir):
    assert_matches_oracle(
        calibration.model_calibration(spark, sf_dir),
        calibration.CALIBRATION_ORACLE,
        sf_dir,
    )


def test_calibration_oracle_parity_on_half_boundary_band(spark, tmp_path):
    """On this resampled snapshot one band's mean score sits exactly
    on a 6-dp rounding half-boundary (true mean ...4565045): a float
    sum of the scores, added in engine-dependent order, landed one ulp
    either side of it and the two engines rounded it apart (0.456504
    vs 0.456505). Exact per-band sums give both the same operands."""
    from perfbench.inputs import make_snapshot

    snap = make_snapshot(str(tmp_path / "snap"), [5, 928])
    assert_matches_oracle(
        calibration.model_calibration(spark, snap),
        calibration.CALIBRATION_ORACLE,
        snap,
    )


def test_feature_iv_oracle_parity_sf001(spark, sf_dir):
    assert_matches_oracle(
        calibration.feature_iv(spark, sf_dir),
        calibration.FEATURE_IV_ORACLE,
        sf_dir,
    )


def _scored(spark, rows):
    return spark.createDataFrame(rows, "score double, label int")


def test_perfectly_calibrated_bands_have_zero_gap(spark):
    # Band 2 (score .25): 1 of 4 churned -> observed rate == avg score.
    rows = [(0.25, 1)] + [(0.25, 0)] * 3 + [(0.75, 1)] * 3 + [(0.75, 0)]
    out = {r.band: r for r in calibration.calibration_frame(
        _scored(spark, rows)).collect()}
    assert set(out) == {2, 7}
    for r in out.values():
        assert r.calib_gap == 0.0
    assert out[2].ece == 0.0
    # Brier for p=.25 over (1,0,0,0): (3*.0625 + .5625)/4 = .1875; same
    # for p=.75 over (1,1,1,0) -> overall .1875.
    assert out[2].brier == 0.1875


def test_miscalibrated_band_gap_sign(spark):
    # Score says 90% churn, nobody churns: gap = +0.9, ECE = 0.9.
    out = calibration.calibration_frame(
        _scored(spark, [(0.9, 0)] * 5)).collect()
    assert len(out) == 1
    assert out[0].calib_gap == 0.9
    assert out[0].ece == 0.9


def test_iv_flat_feature_is_near_zero_and_signal_feature_is_not(spark):
    # 'flat' band is independent of the label; 'signal' band predicts it.
    rows = []
    for i in range(200):
        label = i % 2
        rows.append((float(i % 4), float(label * 3), 100.0, label))
    df = spark.createDataFrame(
        rows, "recency double, frequency double, monetary double, label int"
    )
    # Map onto the banding: recency bands via /90 all land in band 0, so
    # use frequency (capped small ints) as the signal feature and
    # monetary (constant) as the flat one.
    out = calibration.feature_iv_frame(df).collect()
    iv = {r.feature: r.iv_total for r in out}
    assert iv["monetary"] == 0.0  # single constant band -> no information
    assert iv["frequency"] > 1.0  # deterministic label separation
    # recency cycles 0..3 days -> one 90-day band -> also zero.
    assert iv["recency"] == 0.0


def test_iv_totals_replicated_within_feature(spark, sf_dir):
    out = calibration.feature_iv(spark, sf_dir).collect()
    by_feat: dict[str, set] = {}
    for r in out:
        by_feat.setdefault(r.feature, set()).add(r.iv_total)
    assert set(by_feat) == {"recency", "frequency", "monetary"}
    for feat, totals in by_feat.items():
        assert len(totals) == 1, feat
    # IV totals equal the sum of their terms (up to 6dp rounding of each).
    for feat in by_feat:
        terms = [r.iv_term for r in out if r.feature == feat]
        total = next(iter(by_feat[feat]))
        assert math.isclose(total, sum(terms), abs_tol=1e-5 * len(terms))


def test_calibration_plan_is_one_scan_no_ntile(spark, sf_dir):
    """The report must aggregate in one pass over one scan — no global
    sort (ntile) and no self-join of the detail frame."""
    df = calibration.model_calibration(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "ntile" not in plan.lower()
