"""DSIR selection maintained on ingest: score-and-select each crawl
drop as it arrives, against a FROZEN importance model.

``text/selection.py::corpus_select_dsir`` fits the target-vs-raw
hashed-n-gram models and ranks the whole corpus in one batch pass —
the re-fit shape. A production curation pipeline also needs the
arrival shape: "does THIS drop's document look like the target
distribution", decided per epoch without re-reading the corpus. Same
split as the dedup/fragment ingest twins:

  * FIT (offline, once per model refresh): the per-bucket log-ratio
    deltas and the selection threshold (the lowest logweight the
    batch selection kept) are computed from the at-rest corpus and
    frozen as a ~B-row driver literal — the model-broadcast pattern
    the ANN centroids and PQ codebooks use;
  * INGEST (per epoch): new docs are scored by a broadcast join
    against the frozen bucket model — a pure map over the drop plus
    one batch-sized doc aggregate, NO corpus-side work at all — and
    land (doc_id, n_grams, logweight, selected) in an
    epoch-partitioned store with the exactly-once dynamic-overwrite
    discipline every sibling sink uses.

Selection on ingest is thresholded (logweight >= frozen threshold),
not re-ranked: the batch form's exact top-fraction needs the whole
corpus ordered, which is precisely what an arrival path must not pay.
The threshold drifts as the corpus grows — the documented contract is
periodic re-fit (re-freeze), the same cadence the frozen ANN
centroids and the incremental-dedup band tables already carry.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..text.selection import _grams, dsir_report
from .maintenance import read_epochs, write_epoch

SCORED_SUBDIR = "dsir_epochs"


def freeze_model(docs: DataFrame) -> dict:
    """Fit the bucket model + selection threshold on the at-rest
    corpus and collect it to driver literals (B rows + 1 scalar —
    model-sized, never data-sized)."""
    report = dsir_report(docs)
    threshold = (
        report.where(F.col("selected"))
        .agg(F.min("logweight").alias("t"))
        .collect()[0]
        .t
    )
    if threshold is None:
        # an empty fit corpus selects nothing — there is no model to
        # freeze, and a silent +inf threshold would masquerade as one
        raise ValueError(
            "freeze_model: fit corpus is empty (no selected rows)"
        )
    import math

    from ..text.selection import DSIR_B, bucket_model

    grams = _grams(docs)
    deltas = bucket_model(grams).collect()
    totals = grams.agg(
        F.count(F.lit(1)).alias("n_q"),
        F.coalesce(F.sum("is_target"), F.lit(0)).alias("n_t"),
    ).collect()[0]
    # a bucket NO fit-time gram hashed into (novel vocabulary in a
    # future drop): add-one smoothing gives it (0+1)/(N+B) on both
    # sides — a constant the batch report never emits (its own corpus
    # has no zero-count observed bucket) but scoring must have
    return {
        "deltas": [(r.b, r.delta) for r in deltas],
        "unseen_delta": round(
            math.log(1.0 / (totals.n_t + DSIR_B))
            - math.log(1.0 / (totals.n_q + DSIR_B)),
            6,
        ),
        "threshold": float(threshold),
    }


def score_docs(
    spark: SparkSession, docs: DataFrame, model: dict
) -> DataFrame:
    """Score (doc_id, lang, text) rows against a frozen model:
    broadcast join on the bucket, per-doc sum with the batch op's
    exact rounding discipline, thresholded selection. A bucket absent
    from the frozen model (the drop contains vocabulary the fit
    corpus never hashed there) coalesces to the frozen
    ``unseen_delta`` — the add-one-smoothed zero-count log-ratio, the
    weight the batch model would have assigned it — so novel grams
    are scored, not dropped."""
    model_df = spark.createDataFrame(
        model["deltas"], "b bigint, delta double"
    )
    grams = _grams(docs).select("doc_id", "b")
    return (
        grams.join(F.broadcast(model_df), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(
                F.sum(
                    F.coalesce(
                        "delta", F.lit(model["unseen_delta"])
                    )
                ),
                6,
            ).alias("logweight"),
        )
        .select(
            "doc_id",
            "n_grams",
            "logweight",
            (F.col("logweight") >= F.lit(model["threshold"]))
            .alias("selected"),
        )
    )


def select_ingest_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    model: dict,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the scoring query over a (doc_id, lang, text) stream.
    Each epoch scores ONLY its own new docs against the frozen model
    and lands them in an epoch-partitioned store (dynamic partition
    overwrite — a replayed epoch after a crash overwrites its own
    partition). ``fault`` is the sibling sinks' crash-injection
    hook."""
    from .windows import stream_to_batch_sink

    scored_path = os.path.join(store_dir, SCORED_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_epoch(
            score_docs(spark, batch_df, model).repartition(1),
            scored_path,
            epoch_id,
        )
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        docs_stream,
        epoch,
        query_name="dsir-select-ingest",
        output_mode="append",
        checkpoint=checkpoint,
    )


def read_scored(spark: SparkSession, store_dir: str) -> DataFrame:
    """Everything scored so far; empty frame before the first epoch."""
    return read_epochs(
        spark,
        os.path.join(store_dir, SCORED_SUBDIR),
        lambda rows: rows,
        "doc_id long, n_grams long, logweight double,"
        " selected boolean, epoch_id int",
    )
