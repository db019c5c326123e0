"""Dedup-on-ingest: the continual-ingestion story end to end.

``text/dedup.py::dedup_incremental_materialized`` is the BATCH form of
re-crawl dedup (new slice vs the at-rest corpus-bands table). This
module is the same computation mounted on Structured Streaming: new
documents arrive as files, each micro-batch is banded and joined
against the MATERIALIZED corpus bands (`corpus_bands_ingest` — built
once, scanned per epoch, never re-hashed), near-dups are verified with
the shared gram tail, and the per-epoch drop-list appends to a parquet
sink. Because candidates only ever pair a NEW doc with the CORPUS,
the union of per-epoch drop-lists is EXACTLY the batch form's output
regardless of how ingestion is sliced into epochs — asserted in
tests/test_streaming.py.

At 100 TB this is the production loop: the bands table is maintained
at ingest, each crawl drop lands as files, and dedup cost per epoch is
O(batch) hashing + one bucketed equi-join — the corpus is touched only
through the band table scan and the semi-join-pruned gram fetch of
matched candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .maintenance import write_epoch

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def dedup_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    out_dir: str,
    checkpoint: str,
    query_name: str = "dedup_ingest",
    max_files_per_trigger: int | None = None,
    fault=None,
):
    """Start the dedup-on-ingest query (availableNow trigger: drain
    everything currently in ``stream_dir`` then stop — the batch-ish
    trigger a scheduled re-crawl job uses; a live deployment would use
    a processing-time trigger instead, same plan).

    ``max_files_per_trigger`` bounds each epoch to N arrival files
    (epoch-slicing control; availableNow respects it). ``fault`` is a
    crash-injection hook for recovery tests: called with the epoch_id
    AFTER the sink write and BEFORE Spark commits the offset — the
    worst-case crash window, where a non-idempotent sink would
    duplicate the epoch on restart."""
    from ..text import dedup

    corpus_bands = dedup.corpus_bands_ingest(spark, sf_dir)
    corpus_docs = (
        load_table(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") % dedup.INCREMENTAL_MOD)
            < dedup.INCREMENTAL_NEW_RESIDUE
        )
        .select("doc_id", "text")
    )
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(stream_dir)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        cands = dedup._band_key_candidates(batch, corpus_bands)
        docs = corpus_docs.unionByName(batch)
        out = dedup._verified_best_match(docs, cands)
        # Exactly-once: each epoch owns its partition directory, so a
        # replayed epoch (post-crash re-delivery) OVERWRITES its own
        # output instead of appending a duplicate — the same
        # idempotence contract the rollup maintenance sink uses
        # (dynamic mode touches only the partitions present in this
        # epoch's frame).
        write_epoch(out, out_dir, epoch_id)
        if fault is not None:
            fault(epoch_id)

    return (
        stream.writeStream.foreachBatch(epoch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
