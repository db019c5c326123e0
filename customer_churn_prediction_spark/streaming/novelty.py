"""Streaming benchmark-gram registry: the reference word-3-gram set
maintained on benchmark ingest — the ELEVENTH maintained-store family.

``contamination_check`` and ``text_ngram_novelty`` re-shingle the
benchmark/reference slice on every call; a production curation
pipeline REGISTERS benchmarks over time (a new eval suite lands, a
withdrawn one must leave exactly) and wants the reference gram set
maintained at rest so novelty/contamination serving joins a stored
table instead of recomputing the eval suite's grams per query —
the DSIR/at-rest-bands discipline applied to the decontamination
reference.

State: ``(shingle, doc_id)`` pairs — NOT the distinct gram set. The
doc provenance is what makes governance exact and in place (the
transitions precedent, unlike the lossy sketches): erasing a
benchmark doc deletes its rows, and a shingle it shared with another
registered doc survives through that doc's row. State is linear in
BENCHMARK size (total reference grams), which is small by nature —
the whole point of the broadcast-reference novelty plan.

Loop shape (the KMV/sample maintenance shape — order-insensitive set
union, so no recompute-on-touch is ever needed):

  * each epoch lands ITS OWN batch's distinct (shingle, doc_id)
    pairs in an epoch-partitioned store (dynamic partition
    overwrite: a crash-replayed epoch rewrites its partition with
    identical rows — shingling is deterministic, so replay is
    bit-idempotent);
  * the CURRENT reference gram set is the distinct shingle over
    stored pairs; a doc re-registered across epochs contributes
    identical pairs, collapsed at serve;
  * ``compact`` folds committed epochs into the base partition
    (distinct pairs, staged swap, self-healing);
  * ``forget_docs`` erases IN PLACE through the shared
    partition-scoped rewrite (``maintenance.erase_keys`` with
    key_col=doc_id), WAL-ledgered so a post-replay ``scrub_store``
    re-applies it.

Serve: ``novelty_report`` scores any (doc_id, text) frame against
the maintained set through the SAME ``score_novelty_against`` tail
as the inline ``text_ngram_novelty`` (one definition) — the
reference shingling drops out of serve.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.layout import append_ledger, compact_ledger, read_ledger
from ..text.dedup import exploded_shingles, score_novelty_against
from .maintenance import (
    _BASE_EPOCH,
    compact_epochs,
    erase_keys,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

GRAMS_SUBDIR = "ref_grams"
_SCHEMA = "shingle bigint, doc_id bigint"


def _doc_grams(docs: DataFrame) -> DataFrame:
    """Distinct (shingle, doc_id) pairs of a (doc_id, text) frame —
    per-doc distinct comes from the shingle expression itself;
    the hash-aggregate distinct collapses a doc delivered twice in
    one batch (the reservoir r13 lesson: dedupe within the epoch,
    not just across epochs)."""
    return (
        exploded_shingles(docs.select("doc_id", "text"))
        .select("shingle", "doc_id")
        .distinct()
    )


def _distinct_pairs(rows: DataFrame) -> DataFrame:
    return rows.select("shingle", "doc_id").distinct()


def current_pairs(spark: SparkSession, store_dir: str) -> DataFrame:
    """The registry's canonical state: distinct (shingle, doc_id)
    provenance pairs across all stored epochs. A store with no epochs
    yet answers the typed empty frame."""
    return read_epochs(
        spark,
        os.path.join(store_dir, GRAMS_SUBDIR),
        _distinct_pairs,
        _SCHEMA,
    )


def current_ref_grams(spark: SparkSession, store_dir: str) -> DataFrame:
    """The maintained reference gram set (distinct shingle) — the
    broadcast side every novelty/contamination serve joins."""
    return current_pairs(spark, store_dir).select("shingle").distinct()


def novelty_report(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """Score any (doc_id, text) frame against the MAINTAINED
    reference set — ``text_ngram_novelty`` without re-shingling the
    benchmark (the store's serve payoff). Same scoring tail as the
    batch op (one definition); against a store with no registered
    benchmarks every gram is novel (novelty = 1.0) — honest, and
    what an empty decontamination registry means."""
    return score_novelty_against(
        exploded_shingles(docs.select("doc_id", "text")),
        current_ref_grams(spark, store_dir),
    )


def contamination_report(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """Flag contamination against the MAINTAINED registry — the
    store's second consumer: ``contamination_check`` without
    re-shingling the benchmark. The per-benchmark gram counts the
    overlap fraction divides by are recovered from the stored
    provenance pairs (a registry-sized hash aggregate — the store
    keeps (shingle, doc_id), and each doc's pairs are its distinct
    grams, exactly the ``array_distinct`` count the inline op
    carries in its struct explode). Same scoring tail as the batch
    op (``dedup.score_contamination_against`` — one definition); an
    empty registry flags nothing."""
    from ..text.dedup import score_contamination_against

    pairs = current_pairs(spark, store_dir)
    counts = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bench")
    )
    bench = pairs.join(counts, "doc_id").select(
        F.col("doc_id").alias("bench_id"), "shingle", "n_bench"
    )
    return score_contamination_against(
        exploded_shingles(docs.select("doc_id", "text")), bench
    )


def maintain_ref_grams(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a benchmark-documents stream
    (append semantics; needs doc_id, text). Null-key contract: rows
    with NULL doc_id or NULL text are dropped (no grams to
    register). ``fault`` is the sibling sinks' crash hook — after
    the write, before the offset commit.

    IMMUTABLE-TEXT APPEND CONTRACT (ADVICE r13): a doc_id delivered
    on this stream must carry the same text every time — the store
    unions distinct (shingle, doc_id) pairs across epochs, so a
    doc_id re-delivered with REVISED text would accumulate grams
    from BOTH versions, silently inflating that benchmark's n_bench
    and deflating its overlap fraction versus the inline op over
    current text. A revision is NOT an ingest: route it through
    :func:`reregister_docs` (latest-version-wins) offline."""
    path = os.path.join(store_dir, GRAMS_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.where(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        if batch.isEmpty():
            return
        write_epoch(_doc_grams(batch), path, epoch_id)
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        docs_stream,
        epoch,
        query_name="refgrams-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored pair with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    the same distinct the read path applies, so folding cannot
    change the served set (``maintenance.compact_epochs``) — and fold
    the erasure ledger to one file."""
    compact_epochs(
        spark,
        os.path.join(store_dir, GRAMS_SUBDIR),
        upto_epoch,
        _distinct_pairs,
    )
    compact_ledger(spark, _ledger_path(store_dir), _LEDGER_SCHEMA)


# ------------------------------------------------------- governance

_LEDGER_SCHEMA = "doc_id long"


def _ledger_path(store_dir: str) -> str:
    return os.path.join(store_dir, "erased_docs")


def read_erased_docs(spark: SparkSession, store_dir: str) -> DataFrame:
    return read_ledger(spark, _ledger_path(store_dir), _LEDGER_SCHEMA)


def forget_docs(
    spark: SparkSession,
    store_dir: str,
    doc_ids: list[int],
    record: bool = True,
) -> None:
    """Erase benchmark docs IN PLACE — a doc's (shingle, doc_id) rows
    are self-contained, so dropping them removes exactly its
    contribution while shingles shared with other registered docs
    survive through those docs' rows (the provenance design's
    payoff; a distinct-gram-only store would need a rebuild here).
    Write-ahead ledgered: a crash-replayed epoch re-delivers the
    docs' pairs, so after any replay window :func:`scrub_store`
    re-applies the ledger. Run OFFLINE or on committed epochs only
    (the compact invariant)."""
    ids = [int(i) for i in doc_ids]
    if record:
        append_ledger(
            spark, _ledger_path(store_dir), _LEDGER_SCHEMA,
            [(i,) for i in ids],
        )
    erase_keys(
        spark,
        os.path.join(store_dir, GRAMS_SUBDIR),
        "doc_id",
        ids,
        ("epoch_id",),
    )


def reregister_docs(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> None:
    """Latest-version-wins revision path (ADVICE r13): replace the
    stored gram sets of the docs in ``docs`` (doc_id, text) with
    their CURRENT text's grams — erase the old pairs in place, then
    append the new version's pairs into the base partition. OFFLINE,
    committed epochs only (the compact invariant — a later replay of
    an uncommitted epoch would resurrect the old version's pairs).

    The erasure is deliberately NOT ledgered (``record=False``):
    this is a revision, not governance — recording it would make a
    later :func:`scrub_store` erase the NEW version's pairs too.
    The doc_id collect is registry-sized (benchmark sets are small
    by construction), the same bound as ``forget_docs``'s ids list.
    Appending into the base partition (not max-epoch+1) cannot
    collide with the streaming query's epoch counter, which restarts
    at 0 under a fresh checkpoint and dynamic-overwrites its own
    epoch partitions."""
    clean = docs.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text")
    ids = [int(r.doc_id) for r in
           clean.select("doc_id").distinct().collect()]
    if not ids:
        return
    forget_docs(spark, store_dir, ids, record=False)
    (
        _doc_grams(clean)
        .withColumn("epoch_id", F.lit(_BASE_EPOCH))
        .repartition("epoch_id")
        .write.mode("append")
        .partitionBy("epoch_id")
        .parquet(os.path.join(store_dir, GRAMS_SUBDIR))
    )


def scrub_store(spark: SparkSession, store_dir: str) -> None:
    """Re-apply the erasure ledger (idempotent) — the post-replay
    self-heal."""
    ids = [
        int(r.doc_id)
        for r in read_erased_docs(spark, store_dir).collect()
    ]
    if ids:
        forget_docs(spark, store_dir, ids, record=False)


def rebuild(
    spark: SparkSession, store_dir: str, clean_docs: DataFrame
) -> None:
    """Full reset from a scrubbed source (available even though
    in-place erasure is exact — e.g. after a shingle-scheme change):
    recompute the pair set and staged-swap it in as the base epoch;
    an EMPTY clean source resets the store to never-ingested (the
    ``rebuild_base`` contract handles both)."""
    rebuild_base(
        os.path.join(store_dir, GRAMS_SUBDIR), _doc_grams(clean_docs)
    )
