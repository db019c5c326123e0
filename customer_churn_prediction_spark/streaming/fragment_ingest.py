"""Fragment-check-on-ingest: asymmetric containment at the ingest
boundary, the fragment sibling of ``streaming/ingest.py``.

``text/dedup.py::fragment_pairs_incremental`` is the BATCH form:
every new document's best at-rest container by gram containment. This
module mounts the same computation on Structured Streaming — new
documents arrive as files, each micro-batch ranks its grams against
the FROZEN corpus document-frequency snapshot, prefix-joins the
MATERIALIZED corpus gram table (both built once, scanned per epoch,
never re-hashed), and verified best-matches append to an
epoch-partitioned drop-list.

Exactness under staleness is the point (and why this tier can run at
ingest at all): the prefix filter's pigeonhole argument
(``_containment_prefix``) holds for ANY choice of the contained
side's floor((1-τ)|A|)+1 grams, so ranking by a frozen df snapshot —
the frozen-coarse-centroids pattern from ``streaming/ann_ingest`` —
keeps candidate generation LOSSLESS; a stale snapshot only prunes a
little worse. Candidates only ever pair a NEW doc with the CORPUS,
so the union of per-epoch drop-lists equals the batch form
regardless of how ingestion is sliced into epochs — asserted in
tests/test_fragment_ingest.py, including across an injected
crash-replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

GRAM_BUCKETS = 32


def corpus_grams_ingest(
    spark: SparkSession, sf_dir: str, n_buckets: int = GRAM_BUCKETS
) -> DataFrame:
    """The MATERIALIZED corpus gram table: (doc_id, shingle, n_sh)
    rows of the at-rest corpus, written once as a managed table
    bucketed by ``shingle`` so each epoch's prefix-gram equi-join
    scans it without an Exchange on the corpus side (the
    ``corpus_bands_ingest`` discipline). At 100 TB this table is
    ~tokens-cardinality short rows — the corpus text itself is never
    re-hashed per drop."""
    from ..text.dedup import (
        INCREMENTAL_MOD,
        INCREMENTAL_NEW_RESIDUE,
        _gram_rows,
    )
    from ..sources.writers import managed_ingest, sf_tag, write_bucketed

    table = f"corpus_grams_{sf_tag(sf_dir)}"

    def _write(path: str) -> None:
        d = load_table(spark, sf_dir, "documents", spread=True)
        corpus = d.where(
            (F.col("doc_id") % INCREMENTAL_MOD) < INCREMENTAL_NEW_RESIDUE
        )
        write_bucketed(
            _gram_rows(corpus), "shingle", table, n_buckets, path=path
        )

    return managed_ingest(spark, table, _write)


def corpus_gram_df_ingest(
    spark: SparkSession, sf_dir: str, n_buckets: int = GRAM_BUCKETS
) -> DataFrame:
    """The FROZEN corpus document-frequency snapshot: (shingle, df),
    bucketed by ``shingle`` — what each epoch ranks a new doc's grams
    against. Maintained WITH the gram table in a deployment (both are
    per-crawl-cycle artifacts); refreshing it is an optimization, not
    a correctness event (see module docstring)."""
    from ..sources.writers import managed_ingest, sf_tag, write_bucketed

    table = f"corpus_gram_df_{sf_tag(sf_dir)}"

    def _write(path: str) -> None:
        dfs = (
            corpus_grams_ingest(spark, sf_dir)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        write_bucketed(dfs, "shingle", table, n_buckets, path=path)

    return managed_ingest(spark, table, _write)


def fragment_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    out_dir: str,
    checkpoint: str,
    query_name: str = "fragment_ingest",
    max_files_per_trigger: int | None = None,
    fault=None,
    available_now: bool = True,
):
    """Start the fragment-check query (availableNow trigger — the
    scheduled re-crawl shape, same as ``dedup_ingest_stream``): each
    epoch's new docs are prefix-ranked against the frozen df
    snapshot, candidate-joined against the corpus gram table, and the
    verified best containers append to the epoch-partitioned
    drop-list at ``out_dir``. ``fault`` is the shared crash-injection
    hook (called after the sink write, before the offset commit)."""
    from ..text.dedup import (
        INCREMENTAL_MOD,
        INCREMENTAL_NEW_RESIDUE,
        _containment_best_match,
        _fragment_candidates,
        _gram_rows,
    )

    cor_sh = corpus_grams_ingest(spark, sf_dir)
    frozen_df = corpus_gram_df_ingest(spark, sf_dir)
    corpus_docs = (
        load_table(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") % INCREMENTAL_MOD) < INCREMENTAL_NEW_RESIDUE
        )
        .select("doc_id", "text")
    )
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(stream_dir)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        cands = _fragment_candidates(_gram_rows(batch), frozen_df, cor_sh)
        docs = corpus_docs.unionByName(batch)
        out = _containment_best_match(docs, cands)
        # Exactly-once: a replayed epoch overwrites exactly its own
        # partition (dynamic mode), same contract as the rollup and
        # dedup-ingest sinks.
        (
            out.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(out_dir)
        )
        if fault is not None:
            fault(epoch_id)

    writer = stream.writeStream.foreachBatch(epoch)
    if available_now:
        # the scheduled re-crawl shape: drain what's there, stop
        writer = writer.trigger(availableNow=True)
    # available_now=False leaves the default processing-time trigger —
    # the live-deployment shape scripts/streaming_curve.py measures
    return (
        writer.option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
