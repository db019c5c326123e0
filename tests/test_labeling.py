"""The churn label (J3) splits the active customers in two.

The reference's label join (``RF/randomforest_churn.scala:212-227``)
is an outer join + na.fill(1): churned customers (label 1) are the
anti-join side of the active set against the label-window buyers and
retained customers (label 0) its semi-join side. ``label_churn``'s
oracle parity is checked with every registered query; this test
checks that the two sides partition the active set and that both are
non-empty at the test SF (a vacuous split would leave the model jobs
nothing to learn and the parity check nothing to compare).
"""

from customer_churn_prediction_spark.operators import labeling


def test_anti_and_semi_partition_the_outer_join(spark, sf_dir):
    labeled = labeling.label_churn(spark, sf_dir).collect()
    churned = {r.c_custkey for r in labeled if r.label == 1}
    retained = {r.c_custkey for r in labeled if r.label == 0}

    assert {r.label for r in labeled} <= {0, 1}
    # one row per active customer, each on exactly one side
    assert len(churned) + len(retained) == len(labeled)
    assert not churned & retained
    assert churned and retained
