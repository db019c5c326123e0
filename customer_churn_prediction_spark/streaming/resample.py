"""Streaming resample: the hourly feature grid maintained on ingest.

``operators/asof.py::events_resample_ffill`` derives the point-in-time
hourly feature table in one batch pass; a feature store wants it
MAINTAINED as events arrive. The hourly rollup is mergeable state:
per (user, hour) a count (sums across partials) and the latest event's
value keyed by (ts, event_id) (argmax composes across partials — the
max of per-epoch maxima IS the global max), so the loop is the CMS/KMV
maintenance shape — the SEVENTH family on the maintained-store matrix:

  * each epoch rolls ITS OWN batch up to (user, hour) partials
    (count + argmax-(ts, event_id) value triple) and lands them in an
    epoch-partitioned store (dynamic partition overwrite: a replayed
    epoch after a crash overwrites its own partition — exactly-once);
  * the CURRENT rollup per (user, hour) is sum-of-counts +
    argmax-of-argmaxes across stored partials;
  * the served grid (``resample_report``) runs the SAME
    ``resample_from_hourly`` tail as the batch operator over the
    merged rollup — grid + ignore-nulls forward fill — so the
    maintained answer equals the batch answer row-for-row by
    construction, and the equality is pinned across epoch slicings
    and an injected crash replay (tests/test_streaming_resample.py);
  * the compact per-user snapshot (last hour, last value, total
    events — the "current feature" a serving tier reads) publishes
    through the shared atomic publish ON A CHOSEN CADENCE
    (``publish_snapshot`` / ``snapshot_every``; r11) — by default the
    epoch loop never pays the users-wide snapshot pass, and readers
    that want the live view call ``snapshot``/``resample_report``
    directly over the state.

State: one row per TOUCHED (user, hour) per epoch — linear in the
epoch's own events, independent of history size. ``compact`` folds
committed epochs into the base partition (staged swap, self-healing);
``rebuild`` recomputes from a scrubbed source (an aggregate cannot
unlearn one user's contribution in place — the governance contract
the matrix pins for every family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import resample_from_hourly
from .drift import publish_epoch_report
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

STATE_SUBDIR = "hourly_epochs"
REPORT_SUBDIR = "snapshot"

_STATE_SCHEMA = (
    "user_id bigint, h timestamp, n_events bigint, "
    "ts timestamp, event_id bigint, value double"
)


def hourly_state(events: DataFrame) -> DataFrame:
    """The mergeable per-(user, hour) partial over ANY events frame:
    event count + the latest event's (ts, event_id, value) triple —
    the argmax is carried as data so partials re-merge exactly
    (struct max orders by (ts, event_id), which is unique)."""
    return (
        events.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "ts",
            "event_id",
            "value",
        )
        .groupBy("user_id", "h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(F.struct("ts", "event_id", "value")).alias("last"),
        )
        .select(
            "user_id",
            "h",
            "n_events",
            F.col("last.ts").alias("ts"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.value").alias("value"),
        )
    )


def _merge(partials: DataFrame) -> DataFrame:
    return (
        partials.groupBy("user_id", "h")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.max(F.struct("ts", "event_id", "value")).alias("last"),
        )
        .select(
            "user_id",
            "h",
            "n_events",
            F.col("last.ts").alias("ts"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.value").alias("value"),
        )
    )


def merged_hourly(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current (user, hour) rollup across stored partials. A store
    with no epochs yet is the empty rollup, so a pre-first-epoch read
    answers empty instead of raising."""
    return read_epochs(
        spark, os.path.join(store_dir, STATE_SUBDIR), _merge, _STATE_SCHEMA
    )


def resample_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """The full hourly grid served from the maintained store ALONE —
    the batch operator's own ``resample_from_hourly`` tail over the
    merged rollup, so the maintained answer cannot drift from
    ``events_resample_ffill``'s semantics."""
    m = merged_hourly(spark, store_dir).select(
        "user_id", "h", "n_events", F.col("value").alias("v_last")
    )
    return resample_from_hourly(m)


def snapshot(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-user current state: last event hour, last value, lifetime
    event count — the bounded serving artifact (one row per user)."""
    m = merged_hourly(spark, store_dir)
    return (
        m.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("total_events"),
            F.max(F.struct("h", "ts", "event_id", "value")).alias(
                "last"
            ),
        )
        .select(
            "user_id",
            F.date_format("last.h", "yyyy-MM-dd HH:00:00").alias(
                "last_hour"
            ),
            F.col("last.value").alias("last_value"),
            "total_events",
        )
    )


def maintain_resample(
    spark: SparkSession,
    events_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
    snapshot_every: int | None = None,
):
    """Start the maintenance query over an events stream (append
    semantics; needs user_id, ts, event_id, value). ``fault`` is the
    sibling sinks' crash-injection hook — called after the
    store/report writes and before Spark commits the offset, the
    worst-case window.

    ``snapshot_every=N`` publishes the per-user snapshot report
    every N epochs (None, the default, never auto-publishes — call
    ``publish_snapshot`` on whatever cadence serving needs). r11
    scale fix: the r10 sink recomputed and republished the FULL
    per-user snapshot on EVERY epoch — a users-wide term per
    micro-batch that no reader consumed; the epoch's own cost is now
    only its (user, hour) partials, and snapshot cost is a deliberate
    cadence decision."""
    if snapshot_every is not None and snapshot_every < 1:
        # 0 is a plausible "never publish" sentinel, but it would hit
        # a ZeroDivisionError inside the epoch loop and kill the
        # stream with an opaque exception — fail loudly at start.
        raise ValueError(
            "snapshot_every must be >= 1, or None to never "
            f"auto-publish; got {snapshot_every!r}"
        )
    state_path = os.path.join(store_dir, STATE_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.where(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        if batch.isEmpty():
            return
        # no repartition(1) (r11, VERDICT r10 item 4): the epoch's
        # (user, hour) partials leave hourly_state hash-partitioned;
        # forcing them through ONE output task makes every epoch pay
        # a single-task write that grows with the epoch regardless of
        # parallelism. Normal write tasks; file count tracks the
        # epoch's own partition spread.
        write_epoch(hourly_state(batch), state_path, epoch_id)
        if snapshot_every is not None and epoch_id % snapshot_every == 0:
            publish_snapshot(spark, store_dir, epoch_id)
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        events_stream,
        epoch,
        query_name="resample-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def publish_snapshot(
    spark: SparkSession, store_dir: str, epoch_id: int
) -> None:
    """Publish the per-user snapshot report atomically (the
    ``publish_epoch_report`` discipline: write epoch dir, flip
    ``_LATEST``). Split out of the epoch loop in r11 so snapshot
    cost — a pass over the merged per-user state — is paid on a
    chosen cadence, not per micro-batch."""
    publish_epoch_report(
        snapshot(spark, store_dir),
        os.path.join(store_dir, REPORT_SUBDIR),
        epoch_id,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    the same sum/argmax merge the read path does."""
    compact_epochs(
        spark, os.path.join(store_dir, STATE_SUBDIR), upto_epoch, _merge
    )


def rebuild(
    spark: SparkSession, store_dir: str, clean_events: DataFrame
) -> None:
    """Erasure for the rollup store (counts and argmaxes REBUILD — a
    (user, hour) partial cannot subtract one erased event in place):
    recompute the state from the scrubbed events source and
    staged-swap it in as the base epoch."""
    rebuild_base(
        os.path.join(store_dir, STATE_SUBDIR), hourly_state(clean_events)
    )
