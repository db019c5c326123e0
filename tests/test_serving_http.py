"""HTTP serving shim (ml/serving_http.py): the reference's
``POST /predict`` wire contract served from the engine's bundle, with
score parity against the batch path, 400 semantics for malformed
payloads, and re-export pickup without a restart. Uses Flask's test
client — the transport contract needs no real socket."""

from __future__ import annotations

import pytest
from pyspark.ml import Pipeline

from customer_churn_prediction_spark import memo
from customer_churn_prediction_spark.ml import dataset, models, serving
from customer_churn_prediction_spark.ml.pipeline import build_feature_pipeline
from customer_churn_prediction_spark.ml.serving_http import (
    create_app,
    flask_or_none,
)

pytestmark = pytest.mark.skipif(
    flask_or_none() is None, reason="flask not installed"
)


@pytest.fixture(scope="module")
def served(spark, sf_smoke, tmp_path_factory):
    data = dataset.churn_training_set(spark, sf_smoke).cache()
    pipe = Pipeline(
        stages=[
            *build_feature_pipeline().getStages(),
            models.make_estimator("lr", "small"),
        ]
    )
    fitted = pipe.fit(data)
    path = str(tmp_path_factory.mktemp("http") / "bundle")
    manifest = serving.export_serving_bundle(fitted, path)
    serving.clear_serving_cache()
    app = create_app(spark, path)
    app.config["TESTING"] = True
    return app.test_client(), path, manifest, data, fitted


def _feature_dict(row, manifest):
    cols = manifest["continuous"] + manifest["flags"] + manifest["categorical"]
    d = row.asDict()
    return {c: d[c] for c in cols}


def test_predict_matches_batch_scores(served):
    client, _, manifest, data, fitted = served
    sample = data.limit(4).collect()
    payload = [
        {"id": r.c_custkey, **_feature_dict(r, manifest)} for r in sample
    ]
    resp = client.post("/predict", json=payload)
    assert resp.status_code == 200
    body = resp.get_json()
    assert body["export_id"] == manifest["export_id"]
    want = {
        str(r.c_custkey): r.p_churn
        for r in serving.score_batch(data.limit(4), fitted).collect()
    }
    assert body["predictions"] == pytest.approx(want, abs=1e-6)


def test_predict_ids_optional_and_positional(served):
    client, _, manifest, data, _ = served
    rec = _feature_dict(data.limit(1).collect()[0], manifest)
    resp = client.post("/predict", json=[rec, rec])
    assert resp.status_code == 200
    preds = resp.get_json()["predictions"]
    # positional ids, identical features -> identical scores
    assert set(preds) == {"0", "1"}
    assert preds["0"] == preds["1"]


def test_predict_rejects_malformed_payloads(served):
    client = served[0]
    # the reference's bad_request cases, as 400s rather than 500s
    for bad in (None, [], {"not": "a list"}, [1, 2]):
        resp = client.post("/predict", json=bad)
        assert resp.status_code == 400, bad
        assert "message" in resp.get_json()
    resp = client.post("/predict", json=[{"id": 1, "not_a_feature": 9}])
    assert resp.status_code == 400
    assert "unknown feature keys" in resp.get_json()["message"]


def test_predict_rejects_colliding_and_nonscalar(served):
    client, _, manifest, data, _ = served
    rec = _feature_dict(data.limit(1).collect()[0], manifest)
    num_col = manifest["continuous"][0]
    # explicit id shadowing another record's positional id would drop
    # a prediction from the id-keyed response dict -> 400, not silent
    resp = client.post("/predict", json=[dict(rec), {"id": 0, **rec}])
    assert resp.status_code == 400
    assert "duplicate record ids" in resp.get_json()["message"]
    # same explicit id twice; int/str collide after str() coercion too
    resp = client.post(
        "/predict", json=[{"id": 7, **rec}, {"id": "7", **rec}]
    )
    assert resp.status_code == 400
    # a non-scalar feature value raises TypeError in the request-frame
    # build — a client error, so 400, not a 500
    resp = client.post(
        "/predict", json=[{"id": 1, **rec, num_col: {"nested": 1}}]
    )
    assert resp.status_code == 400
    assert "message" in resp.get_json()


def test_healthz_reports_manifest(served):
    client, _, manifest, _, _ = served
    resp = client.get("/healthz")
    assert resp.status_code == 200
    assert resp.get_json() == manifest


def test_reexport_is_picked_up_without_restart(served, tmp_path):
    """The stat-fingerprint revalidation means a trainer process
    re-exporting the bundle changes what this 'server' answers — no
    restart, no manual cache clear (the cross-process deploy)."""
    client, path, manifest, data, fitted = served
    import pyspark.ml as M
    from pyspark.sql import functions as F

    rec = {"id": 7, **_feature_dict(data.limit(1).collect()[0], manifest)}
    first = client.post("/predict", json=[rec]).get_json()
    stale = memo.entries("serving.model")  # the old model, memoized

    inv = data.withColumn("label", 1 - F.col("label"))
    stages = fitted.stages[:-1]
    refit = models.make_estimator("lr", "small").fit(
        M.PipelineModel(stages).transform(inv).select("features", "label")
    )
    new_manifest = serving.export_serving_bundle(
        M.PipelineModel(stages + [refit]), path
    )
    # simulate "different process": the exporter's in-process cache pop
    # never reached this server — put the stale memoized entry back and
    # rely ONLY on the stat-fingerprint revalidation to drop it
    for key, (version, value) in stale.items():
        memo.put("serving.model", key, version, value)

    second = client.post("/predict", json=[rec]).get_json()
    assert second["export_id"] == new_manifest["export_id"]
    assert second["export_id"] != first["export_id"]
    assert second["predictions"]["7"] != first["predictions"]["7"]
