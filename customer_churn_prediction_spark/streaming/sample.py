"""Streaming weighted reservoir: the A-ES corpus sample maintained on
ingest — the NINTH maintained-store family.

``text/analysis.py::corpus_sample_weighted`` draws the
Efraimidis–Spirakis weighted without-replacement sample (top-K docs by
``aes_logkey`` = ln(u)/w) in one batch pass; a corpus that ingests
continuously wants the sample MAINTAINED so "give me a current
token-budget-proportional sample" never rescans the lake. A-ES is
exactly the mergeable formulation of weighted reservoir sampling: the
key is a pure per-row function, so the global top-K of a union IS the
top-K of per-part top-Ks (any row in the union's top-K is inside its
own part's top-K too — the KMV K-min argument with the order
reversed), which makes the loop the KMV maintenance shape:

  * each epoch computes ITS OWN batch's top-K keyed docs (<= K rows)
    and lands them in an epoch-partitioned store (dynamic partition
    overwrite: a replayed epoch after a crash overwrites its own
    partition with identical rows — the key is deterministic, so
    replay is bit-idempotent);
  * the CURRENT sample is the distinct top-K across stored partials
    (a doc re-ingested in two epochs contributes identical rows —
    ``distinct`` collapses them, never double-sampling);
  * every epoch republishes the K-row sample through the shared
    atomic publish (sketch-sized — the per-epoch republish that was
    WRONG for users-sized stores is right here).

State: <= K rows per epoch, constant in corpus size — the defining
sketch property. ``compact`` folds committed epochs into the base
partition (staged swap, self-healing); ``rebuild`` recomputes from a
scrubbed source (a reservoir cannot unlearn in place: an erased doc
may BE one of the K winners, and its removal promotes the (K+1)-th
key, which the store no longer holds).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..text.analysis import SAMPLE_W_K, aes_logkey
from .drift import publish_epoch_report
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

SAMPLE_SUBDIR = "reservoir_epochs"
REPORT_SUBDIR = "sample"
_SCHEMA = "doc_id bigint, lang string, n_chars bigint, logkey double"


def _epoch_topk(docs: DataFrame) -> DataFrame:
    """The per-part reservoir: this batch's top-K keyed rows — the
    same ``aes_logkey`` + (logkey desc, doc_id) order as the batch
    sampler, so the maintained sample cannot drift from the one-shot
    draw."""
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        aes_logkey(F.col("doc_id"), F.col("n_chars")).alias("logkey"),
    )
    # r13 (ADVICE r12): one row per doc_id WITHIN the batch too — a
    # doc re-ingested twice in one micro-batch with different
    # (lang, n_chars) previously carried two keyed rows into the same
    # epoch partition, where the merge's latest-epoch window broke
    # the tie nondeterministically. Deterministic representative via
    # a hash aggregate (map-side combine, no extra window shuffle):
    # max (logkey, n_chars, lang) lexicographically.
    keyed = (
        keyed.groupBy("doc_id")
        .agg(F.max(F.struct("logkey", "n_chars", "lang")).alias("s"))
        .select(
            "doc_id",
            F.col("s.lang").alias("lang"),
            F.col("s.n_chars").alias("n_chars"),
            F.col("s.logkey").alias("logkey"),
        )
    )
    return keyed.orderBy(
        F.col("logkey").desc(), F.col("doc_id").asc()
    ).limit(SAMPLE_W_K)


def _topk(rows: DataFrame) -> DataFrame:
    """Distinct-DOC top-K merge over any stored partial set (rows
    carry the store's ``epoch_id`` partition column).

    r12 (ADVICE r11): one row per doc_id — latest epoch wins — BEFORE
    the K-rank. The old ``distinct()`` collapsed only bit-identical
    rows, so a doc re-ingested across epochs with a changed
    (lang, n_chars) carried two different logkeys and could occupy
    two of the K slots. Both windows run over the sketch-sized
    partial set (<= K·epochs rows), never the corpus.

    Update semantics are best-effort latest-wins: a revision whose
    new key falls OUT of its epoch's top-K leaves no stored row, so
    a stale winner from an earlier epoch can persist — the store is
    exact for append-only/immutable docs (the family contract) and
    revisions that matter are a ``rebuild`` (same as erasure)."""
    from pyspark.sql import Window

    # secondary keys (r13, ADVICE r12) make the latest-wins pick
    # deterministic even over legacy stored state where one epoch
    # partition holds two rows for a doc (pre-r13 epochs could)
    # lang DESC (r14, ADVICE r13): the in-batch dedupe resolves a
    # (logkey, n_chars) tie to the lexicographic-MAX struct, so the
    # window tiebreak must agree — ASC here could serve a different
    # lang for the same doc on the merge path over legacy pre-r13
    # epoch partitions than a rebuild from the same union.
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("epoch_id").desc(),
        F.col("logkey").desc(),
        F.col("n_chars").desc(),
        F.col("lang").desc(),
    )
    w = Window.orderBy(F.col("logkey").desc(), F.col("doc_id"))
    return (
        rows.select("doc_id", "lang", "n_chars", "logkey", "epoch_id")
        .withColumn("v", F.row_number().over(w_doc))
        .where(F.col("v") == 1)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SAMPLE_W_K)
        .select("doc_id", "lang", "n_chars", "logkey")
    )


def current_sample(spark: SparkSession, store_dir: str) -> DataFrame:
    """The maintained sample: distinct top-K across stored partials
    (<= K·epochs rows in, K out — the rank window runs over a
    sketch-sized frame, never the corpus). A store with no epochs yet
    answers the typed empty frame."""
    return read_epochs(
        spark, os.path.join(store_dir, SAMPLE_SUBDIR), _topk, _SCHEMA
    )


def sample_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """The serving artifact: the current sample with its rank — the
    exact column shape ``corpus_sample_weighted`` emits, so a reader
    can swap the batch draw for the maintained one without change."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("logkey").desc(), F.col("doc_id"))
    return current_sample(spark, store_dir).withColumn(
        "rank", F.row_number().over(w).cast("long")
    )


def maintain_sample(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a documents stream (append
    semantics; needs doc_id, lang, n_chars). ``fault`` is the sibling
    sinks' crash-injection hook — called after the store/report
    writes and before Spark commits the offset, the worst-case
    window."""
    sample_path = os.path.join(store_dir, SAMPLE_SUBDIR)
    report_path = os.path.join(store_dir, REPORT_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.where(F.col("doc_id").isNotNull())
        if batch.isEmpty():
            return
        # K rows — sketch-sized, one file is right
        write_epoch(_epoch_topk(batch).repartition(1), sample_path, epoch_id)
        publish_epoch_report(
            sample_report(spark, store_dir), report_path, epoch_id
        )
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        docs_stream,
        epoch,
        query_name="reservoir-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    the same distinct top-K merge the read path does."""
    compact_epochs(
        spark, os.path.join(store_dir, SAMPLE_SUBDIR), upto_epoch, _topk
    )


def rebuild(
    spark: SparkSession, store_dir: str, clean_docs: DataFrame
) -> None:
    """Erasure for the reservoir (a sample cannot unlearn in place —
    an erased doc may be a winner, and its removal promotes the
    (K+1)-th key the store no longer holds): recompute the top-K from
    the scrubbed ``clean_docs`` source and staged-swap it in as the
    base epoch."""
    rebuild_base(
        os.path.join(store_dir, SAMPLE_SUBDIR), _epoch_topk(clean_docs)
    )
