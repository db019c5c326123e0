"""ANN index maintained on ingest: streaming IVF inverted lists.

``similarity/ann.py::ivf_lists_ingest`` builds the at-rest
cell-partitioned inverted lists ONCE from the full corpus; a
production vector store ingests continuously. This module is the
missing maintenance loop: new vectors arrive as files, each
micro-batch is assigned to its coarse cell against the FROZEN
centroid model (literal-broadcast expression — the same frozen-model
discipline as ``streaming/vector_drift.py``; re-fitting the coarse
quantizer is an offline event that rebuilds the store), and the
epoch's assignments land in a store partitioned by
``(epoch_id, centroid_id)``:

  * ``epoch_id`` gives exactly-once: dynamic partition overwrite means
    a replayed epoch (crash after the write, before the offset commit)
    OVERWRITES its own partitions instead of appending duplicates —
    the ``dedup_ingest_stream`` / CMS-store idempotence contract;
  * ``centroid_id`` keeps the query path's partition pruning: probes
    touch N_PROBE of N_CENTROIDS cell directories per epoch slice, so
    a query scans thousandths of the corpus at production k — the
    same layout win ``ann_ivf_materialized`` pins in its plan tests.

Queries serve from the maintained store with the exact
``_probe_and_rank`` tail every batch IVF form shares — after draining
the fixture through the stream, ``ivf_topk_from_store`` returns
row-for-row the batch ``ann_ivf`` output (asserted in
tests/test_streaming_ann.py, with a crash-replay window and offline
compaction on top).

Store growth: one row per ingested vector (the index IS the data),
plus one directory level per epoch. ``compact`` folds committed
epochs into the single base partition offline — same staged-swap
crash discipline as every maintained store
(``streaming/maintenance.py``), so a crashed compaction self-heals on
the next run and a re-run is a no-op.

At 1000-executor scale each epoch's assignment is a pure map over
the arriving files; the only shuffle is the partitioned write's
(epoch, cell) clustering. Reference analog: the HBase-backed feature
store the reference feeds from nightly jobs
(``GBDT/spark/churn_xgb4j_spark.scala`` sink chain) — here the
maintained table is the ANN index itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..similarity.ann import (
    _centroids,
    _cells_expr,
    _embeddings,
    _ivf_probes,
    _probe_and_rank,
    _vec,
    _with_norm,
)
from .maintenance import (
    append_ledger,
    compact_epochs,
    erase_keys,
    read_epochs,
    read_ledger,
    write_epoch,
)
from .windows import stream_to_batch_sink


def _assign(batch_df: DataFrame, cent_rows) -> DataFrame:
    """(vec_id, v, nrm, centroid_id) for one batch of raw embedding
    rows — the same literal-broadcast pure map as the batch ingest."""
    e = _with_norm(
        batch_df.select("vec_id", _vec("embedding").alias("v"))
    )
    cells = _cells_expr(cent_rows)
    return e.select(
        "vec_id", "v", "nrm",
        (-F.element_at(cells, 1)["nid"]).alias("centroid_id"),
    )


def maintain_ivf_lists(
    spark: SparkSession,
    sf_dir: str,
    vectors_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a raw embeddings stream
    (append semantics: each epoch delivers only new vectors).
    ``fault`` is the sibling sinks' crash-injection hook — called
    after the store write and before Spark commits the offset, the
    worst-case window."""
    cent_rows = _centroids(spark, sf_dir)  # frozen coarse model

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        assigned = _assign(batch_df, cent_rows)
        if assigned.isEmpty():
            return  # nothing to index; skip the epoch
        write_epoch(assigned, store_dir, epoch_id, "centroid_id")
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        vectors_stream,
        epoch,
        query_name="ivf-lists-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


_LISTS_SCHEMA = (
    "vec_id bigint, v array<double>, nrm double, centroid_id int"
)


def _lists(rows: DataFrame) -> DataFrame:
    """The stored inverted lists: the rows themselves (the index IS
    the data), so the fold is the identity merge."""
    return rows.select("vec_id", "v", "nrm", "centroid_id")


def ivf_topk_from_store(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> DataFrame:
    """Top-k for the fixture query set, served from the MAINTAINED
    store: probes are computed over the tiny query rows only, and the
    corpus branch is a scan of the probed cell partitions. Once the
    stream has drained the corpus, this equals the batch ``ann_ivf``
    output row for row (same frozen centroids, same rank tail). A
    store with no vectors answers zero rows."""
    lists = read_epochs(spark, store_dir, _lists, _LISTS_SCHEMA)
    probes = _ivf_probes(
        _embeddings(spark, sf_dir), _centroids(spark, sf_dir)
    )
    return _probe_and_rank(lists, probes)


_ERASED_SUBDIR = "_erased_ids"  # WAL ledger next to the store


def _ledger_path(store_dir: str) -> str:
    return store_dir.rstrip("/") + _ERASED_SUBDIR


def read_erased_ids(spark: SparkSession, store_dir: str) -> DataFrame:
    """Distinct vec_ids ever erased from this store (empty when none)."""
    return read_ledger(spark, _ledger_path(store_dir), "vec_id")


def forget_from_store(
    spark: SparkSession, store_dir: str, vec_ids: list[int],
    record: bool = True,
) -> tuple[int, int, int]:
    """Erase ``vec_ids`` from the MAINTAINED store — the governance
    path for the streaming index (``sources/forget.forget_vectors``
    covers the batch-materialized stores; this store is the ingested
    data itself, so erasure must hit it directly). Partition-scoped
    through the shared ``maintenance.erase_keys``: only the
    (epoch, cell) partitions that contain one of the ids are
    rewritten — at production k and epoch counts an erasure batch
    rewrites thousandths of the index.

    The batch is ledgered write-ahead (``record=True``) because a
    crash-REPLAYED epoch re-delivers its vectors: after any replay
    window, :func:`scrub_store` re-applies the ledger — same WAL
    discipline as ``sources/forget``. Run with the maintenance query
    stopped, or on committed epochs only (the compact invariant).

    Returns (partitions_touched, rows_before, rows_after), the row
    counts of the TOUCHED PARTITIONS only (their difference is the
    rows erased)."""
    ids = [int(i) for i in vec_ids]
    if record:
        append_ledger(spark, _ledger_path(store_dir), "vec_id", ids)
    return erase_keys(
        spark, store_dir, "vec_id", ids, ("epoch_id", "centroid_id")
    )


def scrub_store(spark: SparkSession, store_dir: str) -> int:
    """Re-apply the erasure ledger — call after a crash-replay window
    (a replayed epoch re-delivers its vectors, resurrecting erased
    ids). Idempotent; returns the number of rows removed."""
    ids = [
        int(r.vec_id) for r in read_erased_ids(spark, store_dir).collect()
    ]
    if not ids:
        return 0
    _, before, after = forget_from_store(
        spark, store_dir, ids, record=False
    )
    return before - after


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every epoch partition with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition,
    keeping the ``centroid_id`` sub-partitioning — the shared
    ``maintenance.compact_epochs`` with the identity merge."""
    compact_epochs(spark, store_dir, upto_epoch, _lists, ("centroid_id",))
