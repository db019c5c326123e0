"""Model serving — the reference's deployment modes, Spark-first.

The reference ships two serving paths the engine previously lacked:
a single-record Flask scorer that unpickles the model per process and
scores one request dict at a time (``GBDT/python/churn_xgb_server.py:
13-33``), and a TF-Serving REST handoff where the trained model is
exported once and an external server owns the request loop
(``README.md:134-145``). This module re-expresses both without a web
framework (none in this container, and the HTTP shim is orthogonal to
the engine):

- ``export_serving_bundle`` — the HANDOFF artifact: the fitted
  ``PipelineModel`` plus a JSON manifest (feature column groups and
  fill defaults) in one directory. Anything that can load a Spark
  pipeline — another cluster, a scoring service, ``score_records``
  below — serves from it; this is the engine's equivalent of the
  reference's ``saved_model`` export step.
- ``score_records`` — the REQUEST path: a list of feature dicts
  becomes a local 1..n-row DataFrame scored through the SAME
  ``PipelineModel.transform`` the batch path uses, so there is no
  train/serve skew by construction. The model is memoized per bundle
  (load once, score per request — the reference reloads per process).
- ``serve_scoring_stream`` — the CONTINUOUS path: a feature stream is
  scored per micro-batch via ``foreachBatch`` (model loaded once on
  the driver, broadcast with the plan) and published as parquet
  partitioned by epoch with dynamic partition overwrite — replaying a
  crashed epoch overwrites its own partition, the same exactly-once
  discipline as ``streaming/ingest.py`` / ``vector_ingest.py``.

Scale: scoring is a pure map (no shuffle) over whatever partitioning
the feature stream arrives with; at 100 TB the transform rides the
scan and the only materialization is the per-epoch sink write.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid

from pyspark.ml import PipelineModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from . import dataset

_MANIFEST = "manifest.json"
_MODEL_DIR = "model"

# Request-side fill defaults, mirroring the training-side NA handling:
# numerics were ratio/aggregate features filled to 0 before the fit
# (P8/P10), categoricals ride StringIndexer(handleInvalid="keep") so
# any unseen/missing label lands in the reserved extra slot.
_NUMERIC_FILL = 0.0
_CATEGORICAL_FILL = "__missing__"

def _manifest_from_model(fitted: PipelineModel) -> dict:
    """Derive the request schema from the FITTED stages, not from the
    training module's current column lists (review r6: a bundle must
    describe the model it actually contains — exporting a pipeline
    trained on an older/custom feature set with today's
    ``dataset.CONTINUOUS`` would misdescribe the request schema and
    fail — or silently skew — at request time)."""
    from pyspark.ml.feature import StringIndexerModel, VectorAssembler

    categorical: list[str] = []
    vec_outputs: set[str] = set()
    assembler_inputs: list[str] = []
    for stage in fitted.stages:
        if isinstance(stage, StringIndexerModel):
            categorical.extend(stage.getInputCols())
        elif hasattr(stage, "getOutputCols") and not isinstance(
            stage, VectorAssembler
        ):
            vec_outputs.update(stage.getOutputCols())
        if isinstance(stage, VectorAssembler):
            assembler_inputs = list(stage.getInputCols())
    numeric = [c for c in assembler_inputs if c not in vec_outputs]
    if not categorical and not numeric:
        raise ValueError(
            "pipeline has no StringIndexer/VectorAssembler stages to "
            "derive a request schema from"
        )
    # Flags are numerics the training module lists as such; anything
    # not in its lists still serves (the manifest only groups types).
    flags = [c for c in numeric if c in set(dataset.FLAGS)]
    continuous = [c for c in numeric if c not in set(dataset.FLAGS)]
    return {
        "model_format": "spark-pipeline",
        "continuous": continuous,
        "flags": flags,
        "categorical": categorical,
        "numeric_fill": _NUMERIC_FILL,
        "categorical_fill": _CATEGORICAL_FILL,
        "outputs": {
            "p_churn": "probability of label=1 (churn)",
            "prediction": "argmax class at the 0.5 default threshold",
        },
    }


def export_serving_bundle(fitted: PipelineModel, path: str) -> dict:
    """Persist ``fitted`` plus its serving manifest under ``path``.

    The manifest records the exact request schema — derived from the
    fitted stages — so a scorer does not have to import the training
    code to know what to send: continuous and flag columns (doubles,
    fill 0.0) and categorical columns (strings, unseen labels legal).
    Returns the manifest dict."""
    manifest = _manifest_from_model(fitted)
    # Unique id per export: distinguishes two exports even when the
    # filesystem's mtime granularity cannot (and gives ops a stable
    # provenance handle for "which model answered this request").
    manifest["export_id"] = uuid.uuid4().hex
    fitted.write().overwrite().save(os.path.join(path, _MODEL_DIR))
    tmp = os.path.join(path, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(path, _MANIFEST))  # atomic publish
    return manifest


def load_serving_bundle(path: str) -> tuple[PipelineModel, dict]:
    """Load (model, manifest), memoized per bundle path — a model is
    loaded once and scored many times (the request path must not pay
    the deserialization per call, which is also why the reference's
    per-process unpickle is its scoring bottleneck). Keys are
    normalized to the absolute path so a relative-path load and an
    absolute-path re-export hit the SAME cache entry.

    Every hit re-reads ``manifest.json`` (a few hundred bytes — no
    model deserialization): a bundle re-exported by this or a
    DIFFERENT process (trainer writes, this scorer serves) changes the
    manifest's (mtime_ns, size, content-hash) fingerprint, and the
    stale cache entry is dropped and reloaded instead of answering
    with the previous model. The content hash is load-bearing, not
    belt-and-braces: ``export_id`` is fixed-length uuid hex, so a
    re-export is byte-identical in SIZE, and on coarse-mtime
    filesystems (NFS/FUSE — exactly the trainer-writes/scorer-serves
    deploys this targets) a rapid re-export can leave mtime_ns
    unchanged too; only the bytes always differ. The manifest is the
    right sentinel because export publishes it LAST (atomic
    ``os.replace`` after the model write), so a new fingerprint
    implies the new model directory is already complete."""
    path = os.path.abspath(path)
    manifest_path = os.path.join(path, _MANIFEST)
    st = os.stat(manifest_path)
    with open(manifest_path, "rb") as f:
        raw = f.read()
    fingerprint = (
        st.st_mtime_ns, st.st_size, hashlib.md5(raw).hexdigest()
    )
    return memo.cached(
        "serving.model", path, fingerprint,
        lambda: (
            PipelineModel.load(os.path.join(path, _MODEL_DIR)),
            json.loads(raw),
        ),
    )


def clear_serving_cache() -> None:
    memo.clear("serving.model")


def _request_frame(
    spark: SparkSession, manifest: dict, records: list[dict]
) -> DataFrame:
    """Records → typed DataFrame in manifest order, missing keys
    filled with the manifest defaults (the serving twin of the
    training-side na.fill)."""
    num_cols = list(manifest["continuous"]) + list(manifest["flags"])
    cat_cols = list(manifest["categorical"])
    rows = []
    for r in records:
        unknown = set(r) - set(num_cols) - set(cat_cols)
        if unknown:
            raise ValueError(f"unknown feature keys: {sorted(unknown)}")
        row = [
            float(r[c]) if r.get(c) is not None else manifest["numeric_fill"]
            for c in num_cols
        ]
        row += [
            str(r[c]) if r.get(c) is not None
            else manifest["categorical_fill"]
            for c in cat_cols
        ]
        rows.append(tuple(row))
    schema = ", ".join(
        [f"{c} double" for c in num_cols] + [f"{c} string" for c in cat_cols]
    )
    return spark.createDataFrame(rows, schema)


def score_batch(scored_input: DataFrame, model: PipelineModel) -> DataFrame:
    """Transform + output projection shared by every serving surface:
    the class-1 probability extracted JVM-side (``vector_to_array``,
    M9 — no UDF) and the thresholded prediction."""
    return (
        model.transform(scored_input)
        .select(
            *scored_input.columns,
            F.round(
                vector_to_array("probability")[1], 6
            ).alias("p_churn"),
            F.col("prediction").cast("int").alias("prediction"),
        )
    )


def score_records(
    spark: SparkSession, bundle_path: str, records: list[dict],
    bundle: tuple[PipelineModel, dict] | None = None,
) -> list[dict]:
    """Single/micro-record synchronous scoring — the engine's
    ``churn_xgb_server.py`` request path. Returns one dict per input
    record (input order preserved) with ``p_churn`` and
    ``prediction`` appended.

    ``bundle``: a (model, manifest) pair already obtained from
    :func:`load_serving_bundle`. Pass it when the caller also reports
    WHICH model answered (the HTTP shim's ``export_id``): loading here
    again could race a concurrent re-export and pair one bundle's
    scores with another's provenance."""
    if not records:
        return []
    model, manifest = (
        bundle if bundle is not None else load_serving_bundle(bundle_path)
    )
    req = _request_frame(spark, manifest, records).withColumn(
        "_req_idx", F.monotonically_increasing_id()
    )
    out = (
        score_batch(req, model)
        .orderBy("_req_idx")
        .drop("_req_idx")
        .collect()
    )
    return [row.asDict() for row in out]


def serve_scoring_stream(
    spark: SparkSession,
    bundle_path: str,
    feature_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    query_name: str = "model-serving",
    available_now: bool = False,
    fault=None,
):
    """Continuous scoring: every micro-batch of ``feature_stream`` is
    scored through the bundle's model and appended to ``out_path`` as
    parquet partitioned by ``epoch`` with dynamic partition overwrite
    — an epoch replayed after a crash rewrites exactly its own
    partition (the ``dedup_ingest_stream`` exactly-once discipline).

    ``checkpoint`` is REQUIRED, exactly as in the sibling ingest sinks
    (``streaming/ingest.py``, ``vector_ingest.py``): the replay
    guarantee holds only if a restart resumes from committed offsets
    with the same epoch numbering — a temp checkpoint renumbers epochs
    from 0 and leaves stale epoch partitions behind as duplicates.
    Retention of drained epochs is ``sources/layout.vacuum_epochs``.

    ``fault`` is the crash-injection hook the sibling exactly-once
    sinks expose (``streaming/ingest.py``, ``vector_ingest.py``):
    called with the epoch_id AFTER the epoch's write and BEFORE its
    offset commit — the worst-case window, where a restart re-delivers
    the epoch and the dynamic partition overwrite must absorb it.
    """
    model, _ = load_serving_bundle(bundle_path)

    def score_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            score_batch(batch_df, model)
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out_path)
        )
        if fault is not None:
            fault(epoch_id)

    writer = (
        feature_stream.writeStream.foreachBatch(score_epoch)
        .outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
