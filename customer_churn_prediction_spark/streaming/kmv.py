"""Streaming set-operation cardinality: KMV sketches maintained on
ingest.

``operators/sketches.py::segment_overlap_kmv`` verifies the sketch
construction and the union/intersection estimators against exact
counts (and a bit-exact DuckDB rebuild) in one batch pass; a
production overlap monitor — "how much does this month's buyer set
overlap last month's", continuously, as orders arrive — wants the
per-group sketches MAINTAINED. KMV's merge algebra is union +
re-top-K (the K smallest of a union of per-epoch K-smallest sets IS
the K smallest of the union: any hash among the union's K smallest
has fewer than K hashes below it in its own epoch too), so the loop
is the HLL/CMS maintenance shape:

  * each epoch computes its OWN batch's per-group K-min distinct
    hashes (<= K rows per group) and lands them in an
    epoch-partitioned store (dynamic partition overwrite — a replayed
    epoch after a crash OVERWRITES its own partition; the merged
    top-K is idempotent under duplicates anyway, but one discipline
    to audit beats two);
  * the CURRENT sketch per group is the K smallest distinct hashes
    across stored partials;
  * every epoch republishes a per-group cardinality-estimate report
    through the shared atomic publish.

State: <= K rows per group per epoch — constant in ingest volume and
set size, the defining sketch property. ``compact`` folds committed
epochs into the base partition (staged swap, self-healing);
``rebuild`` recomputes from a scrubbed source (sketches cannot
unlearn in place — the governance contract the maintained-store
matrix pins for every family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import KMV_K, _KMV_NUM, kmv_sketch
from .drift import publish_epoch_report
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

SKETCH_SUBDIR = "kmv_epochs"
REPORT_SUBDIR = "estimates"


def _kmin_union(rows: DataFrame) -> DataFrame:
    """Per-group K smallest distinct hashes of any partial set."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("h")
    return (
        rows.select("grp", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .drop("rn")
    )


def merged_sketch(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current per-group sketches: K smallest distinct hashes
    across stored partials — the same merge a 1000-executor cluster
    does map-side. A store with no epochs yet is the empty sketch set,
    so a pre-first-epoch read answers empty instead of raising."""
    return read_epochs(
        spark, os.path.join(store_dir, SKETCH_SUBDIR), _kmin_union,
        "grp string, h bigint",
    )


def estimate_groups(spark: SparkSession, store_dir: str) -> DataFrame:
    """(grp, est): distinct-cardinality estimate per group from the
    maintained sketches — (K-1)*S/U_K, or the exact sketch size while
    the group still has fewer than K distinct hashes. Empty store →
    empty frame (est 0 rows, not a crash)."""
    sk = merged_sketch(spark, store_dir)
    agg = sk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("k_eff"), F.max("h").alias("kth")
    )
    est = F.when(
        F.col("k_eff") < F.lit(KMV_K), F.col("k_eff").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("kth"))
    return agg.select("grp", est.alias("est"))


def overlap_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """The production overlap query served from the maintained store
    alone: consecutive-period union/intersection estimates composed
    sketch x sketch — no raw data is touched, which is the entire
    point of maintaining the sketches. Requires date-like group
    values (the ingest projection casts its period to an ISO date
    string); groups that don't parse as dates drop out. Columns:
    month_a, month_b, est_union, est_retained."""
    from ..operators.sketches import kmv_pair_estimates

    # try_cast: a non-date group must DROP (NULL), not raise — plain
    # cast throws under Spark 4's default ANSI mode
    sk = merged_sketch(spark, store_dir).select(
        F.expr("try_cast(grp AS date)").alias("grp"), "h"
    ).where(F.col("grp").isNotNull())
    pair = kmv_pair_estimates(sk)
    return pair.select(
        F.col("month_a").cast("string").alias("month_a"),
        F.add_months(F.col("month_a"), 1).cast("string")
        .alias("month_b"),
        F.round("_est_union", 6).alias("est_union"),
        F.round("_est_int", 6).alias("est_retained"),
    )


def maintain_group_sketches(
    spark: SparkSession,
    keys_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a (grp, key) stream (append
    semantics). ``fault`` is the sibling sinks' crash-injection hook —
    called after the store/report writes and before Spark commits the
    offset, the worst-case window."""
    sketch_path = os.path.join(store_dir, SKETCH_SUBDIR)
    report_path = os.path.join(store_dir, REPORT_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.where(
            F.col("grp").isNotNull() & F.col("key").isNotNull()
        )
        if batch.isEmpty():
            return
        write_epoch(kmv_sketch(batch).repartition(1), sketch_path, epoch_id)
        publish_epoch_report(
            estimate_groups(spark, store_dir), report_path, epoch_id
        )
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        keys_stream,
        epoch,
        query_name="kmv-overlap-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    per-group distinct top-K, the same merge the read path does."""
    compact_epochs(
        spark, os.path.join(store_dir, SKETCH_SUBDIR), upto_epoch,
        _kmin_union,
    )


def rebuild(
    spark: SparkSession, store_dir: str, clean_keys: DataFrame
) -> None:
    """Erasure for a KMV store (sketches REBUILD, they cannot unlearn
    — a stored hash may be the Kth boundary that other estimates
    depend on, and removing one key's hash shifts every U_K):
    recompute the sketches from the scrubbed ``clean_keys(grp, key)``
    source and staged-swap them in as the base epoch."""
    rebuild_base(
        os.path.join(store_dir, SKETCH_SUBDIR), kmv_sketch(clean_keys)
    )
