"""Reference-profile ML parity at sf0.1 (r3 VERDICT item 6).

The registry's four model jobs run the small-data profile at sf0.01,
where AUC is noise. This suite runs the REFERENCE hyperparameters
(RF depth 10 / 100 trees / 100 bins, RF/randomforest_churn.scala:259-264;
GBT depth 7 / eta 0.1; LR 100 iters; FM k=8) on the sf0.1
synthetic-churn fixture end to end.

Band rationale: the driver's synthetic orders are drawn memorylessly,
so the churn label carries ~no learnable signal — an AUC near 0.5 is
the CORRECT result on this fixture, and a large deviation in either
direction means a pipeline bug (label leakage into features if high,
inverted scoring if low). The reference's published 0.82-0.83
(BASELINE.md:34-38, its real retail data) is the OUTER bound: no
fixture result may exceed it, since nothing in the synthetic set is
harder to learn than the real churn task is. Measured medians this
round are recorded in SCALE.md §11.

Opt-in (≈2-4 min): SPARK_GRAFT_SLOW=1 python -m pytest
tests/test_ml_reference_profile.py -q
"""

from __future__ import annotations

import os

import pytest

from customer_churn_prediction_spark.ml import jobs

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="reference-profile sf0.1 fits take minutes; set SPARK_GRAFT_SLOW=1",
)

SF_BIG = os.environ.get("SPARK_GRAFT_BIG_DIR", "/root/testdata/sf0.1")

# Signal-free fixture: AUC must sit in the no-signal noise band.
AUC_LO, AUC_HI = 0.40, 0.60
REFERENCE_OUTER_AUC = 0.833  # best published reference model (BASELINE.md)


@pytest.mark.parametrize("model_key", ["rf", "gbt", "lr", "fm"])
def test_reference_profile_auc_band_sf01(spark, model_key):
    row = jobs.train_and_evaluate(
        spark, SF_BIG, model_key, profile="reference"
    ).collect()[0]
    assert row.n_train > 8000, row  # sf0.1 ≈ 14.8k labeled customers
    assert AUC_LO <= row.auc <= AUC_HI, (
        f"{model_key}: AUC {row.auc:.4f} outside the no-signal band — "
        "high ⇒ label leakage into features, low ⇒ inverted scoring"
    )
    assert row.auc < REFERENCE_OUTER_AUC
    for m in ("accuracy", "precision", "recall", "f1"):
        assert 0.0 <= getattr(row, m) <= 1.0
