"""Streaming bigram LM: the stupid-backoff model maintained on
ingest — the TWELFTH maintained-store family.

``text_logprob_bigram`` refits its unigram + bigram count model on
every call; a production quality pipeline scores each arriving batch
against the CORPUS LM (new docs evaluated under the language the lake
already holds), and refitting a lake-sized model per scoring batch is
the wrong shape. The counts are plain summable integers, so the
family is the CMS/HLL maintenance shape — mergeable partials, no
recompute-on-touch:

  * each epoch lands ITS OWN batch's unigram (tok, tf) and bigram
    (v, w, n_vw) count deltas in epoch-partitioned sub-stores
    (dynamic partition overwrite: a crash-replayed epoch rewrites its
    partitions with identical rows — tokenization is deterministic,
    so replay is bit-idempotent);
  * the CURRENT model is the per-key SUM across stored partials fed
    through the SAME ``_bigram_lm`` expressions as the batch op —
    integer counts sum exactly, so the served model is BIT-equal to
    a fresh fit over the ingested union however ingestion was sliced;
  * ``compact`` folds committed epochs into the base partitions
    (per-key sum, staged swap, self-healing).

Serve: ``logprob_report`` scores any (doc_id, text) frame through the
shared ``_score_pairs_against_lm`` tail — the model refit drops out
of serve, and a token the lake never saw scores the add-one unseen
probability 1/(n_corpus + n_vocab) (the same smoothing at tf=0, via
the broadcast one-row floor), so scoring NOVEL docs is total — no
silent pair drops (the r13 session-anomaly discipline).

Governance is REBUILD (the sketch families' answer): the stored
counts are aggregated with per-doc provenance discarded — state is
dictionary-sized, not corpus-sized, which is the point — so a doc
cannot be unlearned in place; erasure recomputes from the scrubbed
source through the shared staged-swap discipline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..text.analysis import (
    _bigram_lm,
    _lm_counts,
    _score_pairs_against_lm,
    _tokens,
)
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

UNI_SUBDIR = "unigram_epochs"
BI_SUBDIR = "bigram_epochs"
_UNI_SCHEMA = "tok string, tf bigint"
_BI_SCHEMA = "v string, w string, n_vw bigint"


def _batch_counts(docs: DataFrame):
    """This batch's (vocab, bigrams) count deltas through the SAME
    tokenize/count expressions as the batch op."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("t"))
    vocab, _pairs, bigrams = _lm_counts(toks)
    return vocab, bigrams


def _sum_vocab(rows: DataFrame) -> DataFrame:
    return rows.groupBy("tok").agg(F.sum("tf").cast("long").alias("tf"))


def _sum_bigrams(rows: DataFrame) -> DataFrame:
    return rows.groupBy("v", "w").agg(
        F.sum("n_vw").cast("long").alias("n_vw")
    )


def current_vocab(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merged unigram counts (tok, tf) — per-key sum of partials."""
    return read_epochs(
        spark, os.path.join(store_dir, UNI_SUBDIR), _sum_vocab, _UNI_SCHEMA
    )


def current_bigrams(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merged bigram counts (v, w, n_vw) — per-key sum of partials."""
    return read_epochs(
        spark, os.path.join(store_dir, BI_SUBDIR), _sum_bigrams, _BI_SCHEMA
    )


def logprob_report(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """Score any (doc_id, text) frame against the MAINTAINED LM —
    ``text_logprob_bigram`` without the refit (the store's serve
    payoff: the corpus-sized tokenize/count fit drops out; serve pays
    only the scored batch's tokenize plus dictionary-sized model
    joins). Bit-equal to the inline op whenever the ingest equals the
    scored set; for NOVEL docs, unseen bigrams back off to p1 and
    unseen tokens to the add-one floor — total, never silently
    dropped. Against a store with no epochs the model frames are
    empty and every pair scores the floor of an empty vocabulary
    (NULL totals → NULL means, n_pairs still honest)."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("t"))
    _vocab, pairs, _bigrams = _lm_counts(toks)
    lm = _bigram_lm(
        current_vocab(spark, store_dir),
        current_bigrams(spark, store_dir),
    )
    return _score_pairs_against_lm(docs.select("doc_id"), pairs, lm)


def maintain_bigram_lm(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a documents stream (append
    semantics; needs doc_id, text). Null-key contract: rows with NULL
    doc_id or NULL text are dropped (nothing to count). ``fault`` is
    the sibling sinks' crash hook — after both writes, before the
    offset commit."""
    uni_path = os.path.join(store_dir, UNI_SUBDIR)
    bi_path = os.path.join(store_dir, BI_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.where(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        if batch.isEmpty():
            return
        vocab, bigrams = _batch_counts(batch)
        write_epoch(vocab, uni_path, epoch_id)
        write_epoch(bigrams, bi_path, epoch_id)
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        docs_stream,
        epoch,
        query_name="bigram-lm-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    the same per-key sum the read path applies, so folding cannot
    change the served model. One sub-store at a time (a crash between
    the two swaps leaves one folded and one not — both still answer
    the identical merged state, because the fold is
    read-equivalent)."""
    for subdir, merge in (
        (UNI_SUBDIR, _sum_vocab),
        (BI_SUBDIR, _sum_bigrams),
    ):
        compact_epochs(
            spark, os.path.join(store_dir, subdir), upto_epoch, merge
        )


def rebuild(
    spark: SparkSession, store_dir: str, clean_docs: DataFrame
) -> None:
    """Erasure for the LM (aggregated counts keep no per-doc
    provenance — dictionary-sized state is the family's point, and
    the price is that a doc cannot be unlearned in place): recompute
    both count stores from the scrubbed source and staged-swap them
    in as the base epoch; an EMPTY clean source resets the store to
    never-ingested (the ``rebuild_base`` contract)."""
    vocab, bigrams = _batch_counts(clean_docs)
    rebuild_base(os.path.join(store_dir, UNI_SUBDIR), vocab)
    rebuild_base(os.path.join(store_dir, BI_SUBDIR), bigrams)
