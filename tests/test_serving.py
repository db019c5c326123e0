"""Serving surfaces (ml/serving.py): bundle round-trip, the
single-record request path's exact agreement with batch transform (no
train/serve skew), fill semantics, and the continuous foreachBatch
scoring sink's batch equivalence."""

from __future__ import annotations

import pytest
from pyspark.ml import Pipeline

from customer_churn_prediction_spark import memo
from customer_churn_prediction_spark.ml import dataset, models, serving

# noqa: dataset is also used by the manifest-derivation test
from customer_churn_prediction_spark.ml.pipeline import build_feature_pipeline


@pytest.fixture(scope="module")
def bundle(spark, sf_smoke, tmp_path_factory):
    data = dataset.churn_training_set(spark, sf_smoke).cache()
    pipe = Pipeline(
        stages=[
            *build_feature_pipeline().getStages(),
            models.make_estimator("lr", "small"),
        ]
    )
    fitted = pipe.fit(data)
    path = str(tmp_path_factory.mktemp("serving") / "bundle")
    manifest = serving.export_serving_bundle(fitted, path)
    serving.clear_serving_cache()  # force the load path in every test
    return path, manifest, data, fitted


def _feature_dict(row, manifest):
    cols = manifest["continuous"] + manifest["flags"] + manifest["categorical"]
    d = row.asDict()
    return {c: d[c] for c in cols}


def test_score_records_matches_batch_transform_exactly(spark, bundle):
    """The request path must produce bit-identical probabilities to
    the batch path for the same feature values — the whole point of
    serving through the same PipelineModel."""
    path, manifest, data, fitted = bundle
    sample = data.limit(5).collect()
    out = serving.score_records(
        spark, path, [_feature_dict(r, manifest) for r in sample]
    )
    assert len(out) == 5
    batch = {
        r.c_custkey: (r.p_churn, r.prediction)
        for r in serving.score_batch(data.limit(5), fitted).collect()
    }
    for row, scored in zip(sample, out):
        want_p, want_pred = batch[row.c_custkey]
        assert scored["p_churn"] == pytest.approx(want_p, abs=1e-6)
        assert scored["prediction"] == want_pred
        assert 0.0 <= scored["p_churn"] <= 1.0


def test_score_records_fills_missing_and_rejects_unknown(spark, bundle):
    path, manifest, _, _ = bundle
    # Only one field supplied: numerics fill to 0.0, categoricals to
    # the reserved missing token (StringIndexer handleInvalid="keep"
    # routes it to the extra slot) — must score, not raise.
    out = serving.score_records(spark, path, [{"monetary": 123.4}])
    assert len(out) == 1 and 0.0 <= out[0]["p_churn"] <= 1.0
    with pytest.raises(ValueError, match="unknown feature keys"):
        serving.score_records(spark, path, [{"not_a_feature": 1}])


def test_reexport_over_served_path_invalidates_cache(spark, bundle, tmp_path):
    """Exporting a new model to an already-served bundle path must
    evict the memoized load — the next request answers with the NEW
    model, not the cached one (review r6)."""
    _, manifest, data, fitted = bundle
    path = str(tmp_path / "hot_bundle")
    serving.export_serving_bundle(fitted, path)
    rec = _feature_dict(data.limit(1).collect()[0], manifest)
    first = serving.score_records(spark, path, [rec])[0]  # caches
    # re-train the final stage on a label-inverted frame: a genuinely
    # different model lands at the same bundle path
    import pyspark.ml as M
    from pyspark.sql import functions as F

    inv = data.withColumn("label", 1 - F.col("label"))
    stages = fitted.stages[:-1]
    feat = M.PipelineModel(stages)
    refit = models.make_estimator("lr", "small").fit(
        feat.transform(inv).select("features", "label")
    )
    flipped = M.PipelineModel(stages + [refit])
    serving.export_serving_bundle(flipped, path)
    second = serving.score_records(spark, path, [rec])[0]
    assert second["p_churn"] != first["p_churn"], (
        "stale cached model served after re-export"
    )
    # Invalidation must survive path spelling: re-export the original
    # model through a non-normalized alias of the same directory and
    # the served answer must flip back (cache keys are abspaths).
    # (string-composed: pathlib would collapse the dot segment away)
    alias = str(tmp_path) + "/./hot_bundle"
    assert alias != path
    serving.export_serving_bundle(fitted, alias)
    third = serving.score_records(spark, path, [rec])[0]
    assert third["p_churn"] == first["p_churn"], (
        "alias-path re-export did not evict the cached model"
    )


def test_coarse_mtime_cross_process_reexport_still_detected(
    spark, bundle, tmp_path
):
    """NFS/FUSE deploys can give a rapid re-export the SAME manifest
    mtime, and export_id is fixed-length hex so the size is identical
    too — the content hash in the fingerprint must catch what
    (mtime_ns, size) cannot (review r7). Simulated by re-exporting,
    pinning the manifest mtime back to the old value, and restoring
    the stale in-process cache entry as a second scorer process would
    hold it."""
    import os

    _, manifest, data, fitted = bundle
    path = str(tmp_path / "nfs_bundle")
    serving.export_serving_bundle(fitted, path)
    rec = _feature_dict(data.limit(1).collect()[0], manifest)
    first = serving.score_records(spark, path, [rec])[0]  # caches
    key = os.path.abspath(path)
    stale_entry = memo.entries("serving.model")[key]  # (version, value)
    mpath = os.path.join(path, "manifest.json")
    st = os.stat(mpath)

    # trainer process re-exports a genuinely different model
    import pyspark.ml as M
    from pyspark.sql import functions as F

    inv = data.withColumn("label", 1 - F.col("label"))
    feat = M.PipelineModel(fitted.stages[:-1])
    refit = models.make_estimator("lr", "small").fit(
        feat.transform(inv).select("features", "label")
    )
    serving.export_serving_bundle(
        M.PipelineModel(fitted.stages[:-1] + [refit]), path
    )
    # coarse-mtime filesystem: stat is indistinguishable from before
    os.utime(mpath, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(mpath).st_size == st.st_size, (
        "manifest size changed — the scenario requires the stat "
        "fingerprint to be degenerate"
    )
    assert os.stat(mpath).st_mtime_ns == st.st_mtime_ns
    # this scorer process never saw the export: restore its stale entry
    memo.put("serving.model", key, *stale_entry)
    second = serving.score_records(spark, path, [rec])[0]
    assert second["p_churn"] != first["p_churn"], (
        "stale model served: content hash missing from fingerprint"
    )


def test_manifest_derives_from_fitted_stages(bundle):
    """The manifest must describe the model's own stages: every
    categorical is a fitted StringIndexer input, every numeric is an
    assembler input that is not an encoder output."""
    _, manifest, _, fitted = bundle
    from pyspark.ml.feature import StringIndexerModel

    idx_inputs = [
        c
        for s in fitted.stages
        if isinstance(s, StringIndexerModel)
        for c in s.getInputCols()
    ]
    assert manifest["categorical"] == idx_inputs
    assert set(manifest["continuous"]) == set(dataset.CONTINUOUS)
    assert set(manifest["flags"]) == set(dataset.FLAGS)


def test_serving_stream_scores_every_row_and_matches_batch(
    spark, bundle, tmp_path
):
    path, manifest, data, fitted = bundle
    cols = manifest["continuous"] + manifest["flags"] + manifest["categorical"]
    feats = data.select("c_custkey", *cols)
    src = str(tmp_path / "features_in")
    # two files → at least one multi-file availableNow drain
    feats.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(feats.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_path = str(tmp_path / "scores_out")
    q = serving.serve_scoring_stream(
        spark, path, stream, out_path,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(120), "availableNow drain timed out"
    got = {
        r.c_custkey: (r.p_churn, r.prediction)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        r.c_custkey: (r.p_churn, r.prediction)
        for r in serving.score_batch(feats, fitted).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=1e-6)
        assert got[k][1] == want[k][1]


def test_three_serving_paths_agree_across_crash_replay(
    spark, bundle, tmp_path
):
    """The full serving parity contract off ONE exported bundle: the
    request path (score_records), the batch path (score_batch on the
    bundle-loaded model), and the continuous sink
    (serve_scoring_stream) must produce equal scores for the same
    feature rows — INCLUDING when the stream crashes after an epoch's
    write and replays it on restart (the reference's server answers
    from one artifact regardless of transport;
    GBDT/python/churn_xgb_server.py:32, README.md:141-145)."""
    path, manifest, data, _ = bundle
    serving.clear_serving_cache()
    model, _m = serving.load_serving_bundle(path)
    cols = manifest["continuous"] + manifest["flags"] + manifest["categorical"]
    feats = data.select("c_custkey", *cols)

    # path 1: batch, from the bundle-loaded model (not the in-memory fit)
    batch = {
        r.c_custkey: (r.p_churn, r.prediction)
        for r in serving.score_batch(feats, model).collect()
    }

    # path 2: request records — exact equality (both paths round to
    # 1e-6 inside score_batch, fed identical feature values)
    sample = feats.limit(8).collect()
    recs = serving.score_records(
        spark, path, [_feature_dict(r, manifest) for r in sample]
    )
    for row, scored in zip(sample, recs):
        assert (scored["p_churn"], scored["prediction"]) == batch[
            row.c_custkey
        ], f"records path diverged for {row.c_custkey}"

    # path 3: the streaming sink, crashed after epoch 1's write and
    # restarted from the same checkpoint (epoch replay)
    src = str(tmp_path / "features_in")
    feats.repartition(3).write.mode("overwrite").parquet(src)
    stream_df = lambda: (  # noqa: E731 — rebuilt per start
        spark.readStream.schema(feats.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_path = str(tmp_path / "scores_out")
    ckpt = str(tmp_path / "ckpt")
    crashed = {"done": False}

    def fault(epoch_id):
        if epoch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash before offset commit")

    q = serving.serve_scoring_stream(
        spark, path, stream_df(), out_path, checkpoint=ckpt,
        available_now=True, fault=fault,
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    q2 = serving.serve_scoring_stream(
        spark, path, stream_df(), out_path, checkpoint=ckpt,
        available_now=True, fault=fault,
    )
    try:
        assert q2.awaitTermination(300), "post-crash drain timed out"
    finally:
        q2.stop()

    streamed = spark.read.parquet(out_path)
    # exactly-once: no duplicated customers after the replay
    assert streamed.count() == len(batch)
    got = {
        r.c_custkey: (r.p_churn, r.prediction) for r in streamed.collect()
    }
    assert got == batch, "stream path diverged from batch after replay"
