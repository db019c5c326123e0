"""Streaming cardinality: the HyperLogLog registers maintained on
ingest.

``operators/sketches.py::distinct_users_hll`` verifies the register
construction against an exact count in one batch pass; a production
cardinality monitor (how many distinct users/keys has this stream
seen — the join-planning and capacity signal) wants the registers
MAINTAINED as events arrive. Register-wise max is the whole merge
algebra, so the loop is the CMS maintenance shape exactly:

  * each epoch aggregates ONLY its own new events into a <= m-row
    partial register table and lands it in an epoch-partitioned store
    (dynamic partition overwrite — a replayed epoch after a crash
    OVERWRITES its own partition instead of re-maxing, though max is
    idempotent anyway; keeping the same contract as the CMS store
    means one discipline to audit, not two);
  * the CURRENT registers are the bucket-wise max over the stored
    partials (<= m rows per epoch — the same map-side merge a
    1000-executor cluster does per partition);
  * every epoch republishes a 1-row estimate report through the shared
    atomic publish (``drift.publish_epoch_report``).

State: <= m rows per epoch, CONSTANT in both ingest volume and key
cardinality — the defining property of the sketch. ``compact`` folds
committed epochs into the base partition (staged swap, self-healing),
bounding store growth at long horizons.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_estimate_expr, hll_registers
from .drift import publish_epoch_report
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

REGS_SUBDIR = "hll_epochs"
REPORT_SUBDIR = "estimates"


def _max_registers(rows: DataFrame) -> DataFrame:
    return rows.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


def merged_registers(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current registers: bucket-wise max over stored partials.

    A store with no epochs yet is the EMPTY register set, which
    ``hll_estimate_expr`` routes through linear counting to est 0 — so
    a pre-first-epoch estimate answers 0 instead of raising."""
    return read_epochs(
        spark, os.path.join(store_dir, REGS_SUBDIR), _max_registers,
        "bucket int, max_rho int",
    )


def estimate(spark: SparkSession, store_dir: str) -> DataFrame:
    """1-row (est) from the maintained registers — equals the batch
    estimator on everything ingested so far."""
    return hll_estimate_expr(merged_registers(spark, store_dir))


def maintain_distinct_count(
    spark: SparkSession,
    events_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a raw events stream (append
    semantics). ``fault`` is the sibling sinks' crash-injection hook —
    called after the store/report writes and before Spark commits the
    offset, the worst-case window."""
    regs_path = os.path.join(store_dir, REGS_SUBDIR)
    report_path = os.path.join(store_dir, REPORT_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_keys = batch_df.where(
            F.col("user_id").isNotNull()
        ).select(F.col("user_id").alias("key"))
        if batch_keys.isEmpty():
            return
        write_epoch(
            hll_registers(batch_keys).repartition(1), regs_path, epoch_id
        )
        publish_epoch_report(
            estimate(spark, store_dir), report_path, epoch_id
        )
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        events_stream,
        epoch,
        query_name="hll-distinct-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    register-wise max, the same merge the read path does."""
    compact_epochs(
        spark, os.path.join(store_dir, REGS_SUBDIR), upto_epoch,
        _max_registers,
    )


def rebuild(
    spark: SparkSession, store_dir: str, clean_keys: DataFrame
) -> None:
    """Erasure for an HLL store (sketches REBUILD, they cannot
    unlearn — a register's max-rho may belong to many keys):
    recompute the registers from the scrubbed ``clean_keys(key)``
    source and staged-swap them in as the base epoch."""
    rebuild_base(
        os.path.join(store_dir, REGS_SUBDIR), hll_registers(clean_keys)
    )
