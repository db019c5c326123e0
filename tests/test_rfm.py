from customer_churn_prediction_spark.operators import rfm

from .oracle_utils import assert_matches_oracle


def test_rfm_groupby_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        rfm.rfm_groupby(spark, sf_dir), rfm.RFM_ORACLE, sf_dir
    )


def test_rfm_nonempty_at_smoke_sf(spark, sf_smoke):
    df = rfm.rfm_groupby(spark, sf_smoke)
    assert df.count() > 0
    assert df.columns == rfm._FINAL_COLS


def test_approx_distinct_error_band(spark, sf_dir):
    """HLL++ can't hash-match an oracle, but its estimate must sit
    inside the configured relative-error band of the exact count —
    the registry query now computes that verdict in-query
    (within_band, 3·rsd), and the oracle pairing expects TRUE for
    every group; assert the same here so a band violation fails fast
    locally, not only at driver time."""
    from customer_churn_prediction_spark.operators.aggregates import (
        approx_distinct_users,
    )

    rows = approx_distinct_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0
        assert r.within_band is True, (r.event_type, r.exact_users)
