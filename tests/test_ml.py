"""ML pipeline smoke + metric-band tests (SURVEY §5.4): pipelines fit,
persist/reload, and land in a sane quality band on the synthetic churn
set (the reference's published band is AUC ~0.82-0.83 on its own data;
ours only needs to beat chance decisively and stay deterministic)."""

import tempfile

import pytest
from pyspark.ml import PipelineModel

from customer_churn_prediction_spark import memo
from customer_churn_prediction_spark.ml import dataset, jobs, pipeline

from .conftest import SF_SMOKE, SF_TEST


def test_rf_job_metrics_valid_and_deterministic(spark, sf_dir):
    """The driver-generated labels carry ~no signal (orders are drawn
    memorylessly), so AUC ~0.5 is the *correct* value here — we assert
    validity and seeded determinism, not lift. The reference's 0.83 AUC
    band (README.md:14-21) applies to its real retail data and is
    smoke-checked in the metric docstrings instead. The training and
    vectorized-split memos are cleared between the runs, so the second
    run re-splits and refits from scratch."""
    a = jobs.train_and_evaluate(spark, sf_dir, "rf").collect()[0]
    memo.clear("ml.training")
    memo.clear("ml.vectorized")
    b = jobs.train_and_evaluate(spark, sf_dir, "rf").collect()[0]
    assert a.n_train > 0 and a.n_test > 0
    assert 0.0 <= a.auc <= 1.0 and 0.0 <= a.f1 <= 1.0
    assert a.auc == b.auc and a.f1 == b.f1, "seeded fit must be deterministic"
    assert a.tp if hasattr(a, "tp") else True


def test_lr_job_runs(spark, sf_dir):
    row = jobs.train_and_evaluate(spark, sf_dir, "lr").collect()[0]
    assert 0.0 <= row.auc <= 1.0
    assert row.n_train + row.n_test > 1000


def test_feature_pipeline_persist_roundtrip(spark, sf_dir, tmp_path):
    data = dataset.churn_training_set(spark, sf_dir)
    fitted = pipeline.build_feature_pipeline().fit(data)
    path = str(tmp_path / "featpipe")
    fitted.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    a = fitted.transform(data).select("features").head()
    b = reloaded.transform(data).select("features").head()
    assert a.features == b.features


def test_featindex_export(spark, sf_dir):
    data = dataset.churn_training_set(spark, sf_dir)
    fitted = pipeline.build_feature_pipeline().fit(data)
    rows = pipeline.export_featindex(fitted)
    cols = {c for c, _, _ in rows}
    assert cols == set(dataset.CATEGORICAL)
    slots = [s for _, _, s in rows]
    assert slots == sorted(set(slots)), "slots must be unique and increasing"


def test_vector_width_matches_featindex(spark, sf_dir):
    data = dataset.churn_training_set(spark, sf_dir)
    fitted = pipeline.build_feature_pipeline().fit(data)
    n_onehot = len(pipeline.export_featindex(fitted))
    width = len(
        fitted.transform(data).select("features").head().features.toArray()
    )
    expected = len(dataset.CONTINUOUS) + len(dataset.FLAGS) + n_onehot
    assert width == expected


def test_one_indexer_stage_matches_per_column_indexers(spark, sf_dir):
    """The one multi-column StringIndexer stage assembles the same
    vectors as one single-column indexer stage per categorical."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StringIndexer

    data = dataset.churn_training_set(spark, sf_dir)
    one = pipeline.build_feature_pipeline()
    _, encoder, assembler = one.getStages()
    per_column = Pipeline(stages=[
        *(
            StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
            for c in dataset.CATEGORICAL
        ),
        encoder,
        assembler,
    ])

    def vectors(p):
        out = p.fit(data).transform(data).select("c_custkey", "features")
        return {r.c_custkey: r.features.toArray().tolist() for r in out.collect()}

    expected = vectors(per_column)
    assert expected and vectors(one) == expected


def test_metrics_row_is_jvm_side_and_counts_the_split(spark, sf_dir):
    """The metrics row is a literal projection, not a PythonRDD scan,
    and its two counts split the training set exactly."""
    df = jobs.train_and_evaluate(spark, sf_dir, "lr", "small")
    assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()
    row = df.collect()[0]
    train, test, _ = jobs._shared_vectorized_split(spark, sf_dir)
    assert (row.n_train, row.n_test) == (train.count(), test.count())
    assert row.n_train + row.n_test == (
        dataset.churn_training_set(spark, sf_dir).count()
    )


def test_fit_inputs_are_lineage_free(spark, sf_dir):
    """The memoized training frame and both vectorized splits are
    checkpoints: each plan is a scan of stored blocks, not the
    features ⋈ label plan that a cached frame keeps (a cached frame's
    analyzed plan still reads the parquet sources)."""
    import re

    sized, _ = jobs._shared_training_set(spark, sf_dir)
    train, test, _ = jobs._shared_vectorized_split(spark, sf_dir)
    for df in (sized, train, test):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in plan, plan
        assert "InMemoryRelation" not in plan, plan
        assert not re.search(r"Relation \S*\[.*\] parquet", plan), plan


# Small-profile train_and_evaluate rows, pinned from the fits on
# cached splits: the checkpointed fit inputs must leave every model
# bit-identical.
_PINNED_ROWS = {
    ("sf0.001", "rf"): (124, 24, 0.3333333333333333, 0.5416666666666666,
                        0.14285714285714285, 0.16666666666666666,
                        0.15384615384615385),
    ("sf0.001", "gbt"): (124, 24, 0.20370370370370372, 0.25, 0.0, 0.0, 0.0),
    ("sf0.001", "lr"): (124, 24, 0.36111111111111105, 0.4583333333333333,
                        0.18181818181818182, 0.3333333333333333,
                        0.23529411764705882),
    ("sf0.001", "fm"): (124, 24, 0.4074074074074074, 0.75, 0.0, 0.0, 0.0),
    ("sf0.01", "rf"): (1226, 254, 0.47426447426447416, 0.48031496062992124,
                       0.4186046511627907, 0.4864864864864865, 0.45),
    ("sf0.01", "gbt"): (1226, 254, 0.49067599067599066, 0.5078740157480315,
                        0.4396551724137931, 0.4594594594594595,
                        0.44933920704845814),
    ("sf0.01", "lr"): (1226, 254, 0.48667548667548666, 0.4921259842519685,
                       0.425, 0.4594594594594595, 0.44155844155844154),
    ("sf0.01", "fm"): (1226, 254, 0.496629496629497, 0.4409448818897638,
                       0.43873517786561267, 1.0, 0.6098901098901099),
}


@pytest.mark.skipif(
    not (SF_SMOKE.endswith("/sf0.001") and SF_TEST.endswith("/sf0.01")),
    reason="rows pinned at the default fixtures",
)
@pytest.mark.parametrize(
    "sf,key", sorted(_PINNED_ROWS),
    ids=[f"{s}-{k}" for s, k in sorted(_PINNED_ROWS)],
)
def test_small_profile_rows_are_pinned(spark, sf, key):
    path = SF_SMOKE if sf == "sf0.001" else SF_TEST
    row = jobs.train_and_evaluate(spark, path, key, "small").collect()[0]
    assert row.model == key
    got = (row.n_train, row.n_test, row.auc, row.accuracy, row.precision,
           row.recall, row.f1)
    assert got == _PINNED_ROWS[(sf, key)]


def test_memoized_feature_vectors_survive_fit_memo_clear(spark, sf_dir):
    """A plan-memoized ``ml_feature_vectors`` frame reads the training
    checkpoint; clearing the fit memos must not free the blocks under
    it (nothing frees them explicitly — the ContextCleaner does once
    no frame references them)."""
    import gc

    from customer_churn_prediction_spark.plans import registry

    from .oracle_utils import assert_matches_oracle

    memo.clear("plan")
    memo.clear("ml.training")
    memo.clear("ml.vectorized")
    fv = registry.get_queries()["ml_feature_vectors"]
    fv(spark, sf_dir)  # builds the training checkpoint: not memoized
    df = fv(spark, sf_dir)
    assert fv(spark, sf_dir) is df, "second build must be plan-memoized"
    memo.clear("ml.training")
    memo.clear("ml.vectorized")
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    assert_matches_oracle(
        df, registry.get_oracles()["ml_feature_vectors"], sf_dir
    )


def test_warm_lr_fit_skips_no_feature_plan_stages(spark, sf_dir):
    """A warm lr fit on the checkpointed split runs no skipped copy of
    the features ⋈ label stages: on cached splits every MLlib round
    listed them again (78 skipped stages per fit at sf0.01)."""
    from customer_churn_prediction_spark.plans.audit import run_with_metrics

    def fit():
        return jobs.train_and_evaluate(spark, sf_dir, "lr", "small")

    fit()
    got = run_with_metrics(spark, fit, "warm-lr-fit")
    assert got["stages"] > 0
    assert got["skipped_stages"] <= 4, got
