"""End-to-end composition: the tiers this engine ships are built to
chain into ONE pipeline run. This test executes that chain at the
smoke scale — audit the inputs, govern + leak-proof-split the corpus,
build features and train a model, monitor its calibration, and produce
the retention action — asserting each stage consumes the previous
stage's contract. Every individual operator has its own oracle-rigor
test; this file pins that they COMPOSE."""

from __future__ import annotations

from pyspark.ml import Pipeline

from customer_churn_prediction_spark.ml import (
    calibration,
    dataset,
    jobs,
    models,
    serving,
)
from customer_churn_prediction_spark.ml.pipeline import build_feature_pipeline
from customer_churn_prediction_spark.operators import affinity, quality
from customer_churn_prediction_spark.text import analysis as text_analysis
from customer_churn_prediction_spark.text import splits


def test_full_pipeline_chain(spark, sf_dir):
    # 1. Data quality gate: every rule green before anything trains.
    audit = quality.dq_audit(spark, sf_dir).collect()
    assert audit and all(r.passed == 1 for r in audit)

    # 2. Corpus governance: the keep decision selects a non-trivial,
    #    strict subset of documents...
    keep = {
        r.doc_id: r.keep
        for r in text_analysis.corpus_keep_decision(spark, sf_dir).collect()
    }
    kept = {d for d, k in keep.items() if k == 1}
    assert 0 < len(kept) < len(keep)

    # 3. ...and the leak-proof split covers every governed doc (the
    #    keep decision's domain excludes benchmark-residue docs by
    #    contract — they are the eval set — so it is a subset of the
    #    full-corpus split), so governance and splitting compose.
    split = {
        r.doc_id: r.split
        for r in splits.corpus_split_leakproof(spark, sf_dir).collect()
    }
    assert set(keep) <= set(split)
    train_docs = [d for d in kept if split[d] == "train"]
    assert train_docs

    # 4. Churn model: features -> fit -> eval emits the metric row.
    metrics = jobs.train_and_evaluate(spark, sf_dir, "lr").collect()[0]
    assert metrics.n_train > 0 and metrics.n_test > 0
    assert 0.0 <= metrics.auc <= 1.0

    # 5. Monitoring: the calibration report covers every scored band
    #    and its ECE is a finite fraction.
    cal = calibration.model_calibration(spark, sf_dir).collect()
    assert cal
    assert all(0.0 <= r.ece <= 1.0 for r in cal)
    assert len({r.ece for r in cal}) == 1  # replicated total

    # 6. Retention action: recommendations exist for customers the
    #    model scores (the two tiers key on the same customer ids).
    scored_custs = {
        r.c_custkey
        for r in calibration._scored_customers(spark, sf_dir)
        .select("c_custkey")
        .collect()
    }
    recs = affinity.brand_recommendations(spark, sf_dir).collect()
    assert recs
    rec_custs = {r.c_custkey for r in recs}
    assert rec_custs & scored_custs


def test_train_export_serve_handoff(spark, sf_dir, tmp_path):
    """The deployment chain: fit the composed pipeline, export the
    serving bundle, then answer an online request for a REAL customer
    through the request path — and the answer must be the batch
    score for that customer (train/serve consistency end to end)."""
    data = dataset.churn_training_set(spark, sf_dir).cache()
    fitted = Pipeline(
        stages=[
            *build_feature_pipeline().getStages(),
            models.make_estimator("lr", "small"),
        ]
    ).fit(data)
    bundle = str(tmp_path / "bundle")
    manifest = serving.export_serving_bundle(fitted, bundle)
    serving.clear_serving_cache()

    victim = data.limit(1).collect()[0].asDict()
    cols = manifest["continuous"] + manifest["flags"] + manifest["categorical"]
    answer = serving.score_records(
        spark, bundle, [{c: victim[c] for c in cols}]
    )[0]
    batch = (
        serving.score_batch(data, fitted)
        .where(f"c_custkey = {victim['c_custkey']}")
        .collect()[0]
    )
    assert answer["p_churn"] == batch.p_churn
    assert answer["prediction"] == batch.prediction


def test_feature_to_tfrecord_export_roundtrip(spark, sf_dir, tmp_path):
    """The reference's TF training handoff (LR/TFRecord_process.py:
    30-33): assembled churn features exported as TFRecord Examples and
    read back losslessly — the real feature pipeline composed with the
    dependency-free TFRecord codec, not synthetic vectors."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from customer_churn_prediction_spark.ml.pipeline import (
        build_feature_pipeline as bfp,
    )
    from customer_churn_prediction_spark.sources import tfrecord as tfr

    data = dataset.churn_training_set(spark, sf_dir)
    vec = bfp().fit(data).transform(data).select(
        vector_to_array("features").cast("array<float>").alias("features"),
        F.col("label").cast("float").alias("label"),
    )
    out = str(tmp_path / "churn_tfrecord")
    manifest = tfr.write_tfrecord(vec, out, "features", "label").collect()
    assert sum(r.n_records for r in manifest) == vec.count()
    dim = len(vec.first().features)
    back = tfr.read_tfrecord(spark, out, dim=dim)
    got = sorted(
        (tuple(round(x, 4) for x in r.features), r.label)
        for r in back.collect()
    )
    want = sorted(
        (tuple(round(x, 4) for x in r.features), r.label)
        for r in vec.collect()
    )
    assert got == want
