"""Streaming heavy-hitters: the CMS maintained on ingest.

The batch probe (``operators/sketches.py::heavy_hitters_cms``) builds
its count-min sketch from a full scan; a production skew monitor wants
the sketch MAINTAINED as events arrive. Mergeability is the whole
point of the sketch — cell counts are sums, so a stream can keep the
corpus sketch current by adding each epoch's partial — and this module
is that property run through the engine's exactly-once machinery:

  * each epoch aggregates ONLY its own new events into a d x w partial
    sketch and lands it in an epoch-partitioned at-rest store
    (dynamic partition overwrite — a replayed epoch after a crash
    OVERWRITES its own partition instead of double-merging, the
    ``dedup_ingest_stream`` idempotence contract);
  * the CURRENT corpus sketch is the cell-wise sum over the stored
    partials (4096 rows per epoch — a sum that would be the same
    map-side combine a 1000-executor cluster does per partition);
  * the candidate top-K report is re-derived every epoch from
    (previous epoch's candidates ∪ this batch's keys) priced against
    the merged sketch — the classic CMS+heap construction (Cormode &
    Muthukrishnan 2005): per-epoch state is K rows + the sketch, never
    per-key. A key can only be tracked while it keeps appearing —
    the documented trade of the construction; the sketch itself prices
    ANY key exactly as the batch probe would.

Reports publish through the ONE atomic discipline every maintenance
sink shares (``drift.publish_epoch_report``), with ``keep_history=
True`` because epoch e+1's input includes epoch e's candidate set (and
a replayed epoch must re-read its PREDECESSOR's report, not
``_LATEST``, which may already point at the crashed attempt's own
output).

Store growth: the partial store adds d*w rows per epoch. ``compact``
folds partials into a single base partition — callable only for
epochs the engine has COMMITTED (pass the frontier explicitly; a
folded-then-replayed epoch would double-count, so the caller owns
that invariant, same as ``sources/layout.vacuum_epochs``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import CMS_TOPK, _cms_cells
from .drift import publish_epoch_report
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

SKETCH_SUBDIR = "cms_epochs"
REPORT_SUBDIR = "candidates"


def _partial_sketch(batch_keys: DataFrame) -> DataFrame:
    """The d x w partial sketch of one batch's ``key`` column."""
    return (
        batch_keys.select(_cms_cells(F.col("key")).alias("cell"))
        .select("cell.h", "cell.b")
        .groupBy("h", "b")
        .agg(F.count("*").alias("cell_cnt"))
    )


def _sum_cells(rows: DataFrame) -> DataFrame:
    return rows.groupBy("h", "b").agg(F.sum("cell_cnt").alias("cell_cnt"))


def merged_sketch(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current corpus sketch: cell-wise sum of every stored
    partial (bounded: d*w rows per epoch partition).

    A store with no epochs yet is the EMPTY sketch — every cell 0 — so
    a pre-first-epoch point query answers est 0 instead of raising."""
    return read_epochs(
        spark, os.path.join(store_dir, SKETCH_SUBDIR), _sum_cells,
        "h int, b bigint, cell_cnt long",
    )


def estimate_keys(
    spark: SparkSession, store_dir: str, keys: DataFrame
) -> DataFrame:
    """Point-query the maintained sketch: CMS estimate (min over the
    d cells) for every row of ``keys(key)`` — what a join planner
    would call before deciding to salt."""
    # LEFT join + coalesce-to-0: a CMS point query takes the min over
    # ALL d cells — a never-incremented cell counts 0 (an unseen key
    # estimates 0, not "missing"; an inner join would also inflate a
    # key with SOME empty cells by minimizing over the populated ones).
    return (
        keys.select("key", _cms_cells(F.col("key")).alias("cell"))
        .select("key", "cell.h", "cell.b")
        .join(
            F.broadcast(merged_sketch(spark, store_dir)),
            ["h", "b"],
            "left",
        )
        .groupBy("key")
        .agg(
            F.min(
                F.coalesce(F.col("cell_cnt"), F.lit(0).cast("long"))
            ).alias("est")
        )
    )


def _prev_candidates(
    spark: SparkSession, report_dir: str, epoch_id: int
) -> DataFrame | None:
    """The newest published candidate set STRICTLY BELOW epoch_id —
    never ``_LATEST``, which a crashed attempt of THIS epoch may
    already point at its own output. Empty epochs publish nothing, so
    the predecessor is found by scanning, not by ``epoch_id - 1``."""
    if not os.path.isdir(report_dir):
        return None
    prior = [
        int(d.split("=")[1])
        for d in os.listdir(report_dir)
        if d.startswith("epoch=") and int(d.split("=")[1]) < epoch_id
    ]
    if not prior:
        return None
    return spark.read.parquet(
        os.path.join(report_dir, f"epoch={max(prior)}")
    ).select("key")


def maintain_heavy_hitters(
    spark: SparkSession,
    events_stream: DataFrame,
    store_dir: str,
    k: int = CMS_TOPK,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a raw events stream (append
    semantics: each epoch delivers only new events). Every epoch lands
    its partial sketch in the epoch-partitioned store and republishes
    the candidate top-K report. ``fault`` is the sibling sinks'
    crash-injection hook — called after the store/report writes and
    before Spark commits the offset, the worst-case window."""
    sketch_path = os.path.join(store_dir, SKETCH_SUBDIR)
    report_path = os.path.join(store_dir, REPORT_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_keys = batch_df.where(
            F.col("user_id").isNotNull()
        ).select(F.col("user_id").alias("key"))
        if batch_keys.isEmpty():
            return  # nothing to merge or report; skip the epoch
        write_epoch(
            _partial_sketch(batch_keys).repartition(1), sketch_path, epoch_id
        )
        cand_keys = batch_keys.distinct()
        prev = _prev_candidates(spark, report_path, epoch_id)
        if prev is not None:
            cand_keys = cand_keys.unionByName(prev).distinct()
        report = (
            estimate_keys(spark, store_dir, cand_keys)
            .orderBy(F.desc("est"), F.asc("key"))
            .limit(k)
        )
        publish_epoch_report(
            report, report_path, epoch_id, keep_history=True
        )
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        events_stream,
        epoch,
        query_name="cms-heavy-hitters-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    the cell-wise sum the read path applies
    (``maintenance.compact_epochs``).

    An OFFLINE maintenance op: run it with the maintenance query
    STOPPED, and pass a frontier at or below the last epoch the engine
    committed — a folded partial whose epoch later replays would be
    counted twice."""
    compact_epochs(
        spark, os.path.join(store_dir, SKETCH_SUBDIR), upto_epoch,
        _sum_cells,
    )


def rebuild(
    spark: SparkSession, store_dir: str, clean_keys: DataFrame
) -> None:
    """Erasure for a CMS store (sketches REBUILD, they cannot unlearn
    — decrementing a cell would corrupt every other key hashing into
    it): recompute the sketch from the scrubbed ``clean_keys(key)``
    source and staged-swap it in as the base epoch."""
    rebuild_base(
        os.path.join(store_dir, SKETCH_SUBDIR),
        _partial_sketch(clean_keys),
    )
