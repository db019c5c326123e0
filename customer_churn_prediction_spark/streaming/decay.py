"""Streaming decayed counters: half-life engagement features
maintained on event ingest.

``operators/decay.py::user_decay_features`` computes the half-life
sums in one batch pass anchored at the corpus max ts; a feature store
maintains them as events arrive with the classic DECAYED-COUNTER
algebra: when the anchor advances from A₁ to A₂, every existing sum
rescales by the SAME factor 0.5^((A₂−A₁)/H) (exponentials turn
per-event re-aging into one multiplication), then the epoch's own
contribution — computed at A₂ with the batch op's exact per-event
discipline — adds on. Per-user state is ONE row (count, last ts,
decayed count, decayed value, anchor): constant in history size.

LAZY RESCALE, DELTA WRITES (r11, VERDICT r10 item 4): an epoch
writes rows ONLY for the users it touched — their previous row
rescaled to the epoch's anchor plus the epoch's contribution, at
``anchor`` = that epoch's anchor. Untouched users keep their older
rows (older partitions, older anchors) and age lazily at read:
``state_at_anchor``/``features`` apply the exact rescale from each
user's stored anchor to the global one. Per-epoch write cost is
O(touched users) across normal write tasks (no ``repartition(1)``),
independent of the total population — the r10 design rewrote the
complete per-user snapshot through one task every epoch, a
users-wide term that 100× users turns into the epoch bottleneck.

Exactly-once under replay: read-modify-write state is not naturally
idempotent, so each epoch writes its delta into its own ``epoch_id``
partition (dynamic partition overwrite), computed from the per-user
LATEST rows strictly below it — a replayed epoch re-reads the same
predecessors and overwrites its own partition with the same rows.
``compact`` folds old deltas into one base row per user;
``rebuild`` recomputes from a scrubbed source (a decayed sum cannot
subtract one user's events in place).

Equality contract (the GK-family band precedent, not bit equality):
the batch op rounds each event's weight at the FINAL anchor; the
stream rounded it at its EPOCH's anchor and then rescaled by an
exact factor, so the two differ by at most the 6dp per-event
rounding (5e-7) carried through the rescale — |maintained − batch|
≤ 1e-6 · n_events per user, asserted in
tests/test_streaming_decay.py. Everything integer (counts, last ts)
is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.decay import HALF_LIFE_DAYS, _US_PER_DAY
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

STATE_SUBDIR = "decay_snapshots"

_STATE_SCHEMA = (
    "user_id bigint, n_events bigint, last_ts timestamp, "
    "dc double, dv double, anchor timestamp"
)


def _epoch_contribution(events: DataFrame, anchor_col) -> DataFrame:
    """The batch op's exact per-event discipline over one epoch,
    expressed at ``anchor_col``: 6dp-rounded weights and weighted
    values, summed per user."""
    t = events.select(
        "user_id",
        "value",
        "ts",
        (F.unix_micros(anchor_col) - F.unix_micros(F.col("ts"))).alias(
            "dmic"
        ),
    )
    w = F.round(
        F.pow(
            F.lit(0.5),
            (F.col("dmic") / F.lit(_US_PER_DAY))
            / F.lit(HALF_LIFE_DAYS),
        ),
        6,
    )
    t = t.select(
        "user_id",
        "ts",
        w.alias("w"),
        F.round(F.col("value") * w, 6).alias("wv"),
    )
    return t.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("ts").alias("last_ts"),
        F.sum("w").alias("dc"),
        F.sum("wv").alias("dv"),
    )


def _rescale_factor(to_anchor_col, from_anchor_col):
    """THE decayed-counter rescale: 0.5^((A₂−A₁)/H) on exact integer
    microsecond differences — bound in ONE place (ADVICE r10: the
    expression used to be duplicated for dc and dv; an edit to one
    copy would silently skew one of the two sums). Every rescale in
    this module — epoch merge, lazy serve, compaction fold — goes
    through this function."""
    return F.pow(
        F.lit(0.5),
        (
            (
                F.unix_micros(to_anchor_col)
                - F.unix_micros(from_anchor_col)
            )
            / F.lit(_US_PER_DAY)
        )
        / F.lit(HALF_LIFE_DAYS),
    )


def _per_user_latest(snaps: DataFrame) -> DataFrame:
    """One row per user: that user's newest stored delta row. Since
    r11 an epoch partition holds only the users it TOUCHED, so the
    current state is the per-user argmax over epoch_id — a user-keyed
    hash shuffle, never a corpus-wide rewrite."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("epoch_id"))
    return (
        snaps.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "n_events", "last_ts", "dc", "dv", "anchor")
    )


def latest_state(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current per-user state, AT EACH USER'S OWN ANCHOR (the
    epoch that last touched them — lazy-rescale contract, r11): one
    row per user, anchors heterogeneous. Use ``state_at_anchor`` for
    the store-wide-anchor view the batch op compares against. A store
    with no epochs yet answers the typed empty frame."""
    return read_epochs(
        spark,
        os.path.join(store_dir, STATE_SUBDIR),
        _per_user_latest,
        _STATE_SCHEMA,
    )


def _state_before(
    spark: SparkSession,
    store_dir: str,
    epoch_id: int,
    users: DataFrame | None = None,
) -> DataFrame:
    """Per-user latest rows strictly below ``epoch_id`` — what a
    (possibly replayed) epoch must build on. ``users`` (a user_id
    frame) restricts the fetch BELOW the window: the join runs on the
    raw delta scan first, so the latest-row shuffle is sized by the
    epoch's touched users, not the whole population (at 100 TB the
    store would additionally be bucketed by user_id so the scan
    itself prunes)."""

    def before(rows: DataFrame) -> DataFrame:
        snaps = rows.where(F.col("epoch_id") < F.lit(epoch_id))
        if users is not None:
            snaps = snaps.join(users.select("user_id"), "user_id")
        return _per_user_latest(snaps)

    return read_epochs(
        spark, os.path.join(store_dir, STATE_SUBDIR), before, _STATE_SCHEMA
    )


def _stored_max_anchor(
    spark: SparkSession, store_dir: str, epoch_id: int
):
    """max(anchor) over delta rows strictly below ``epoch_id`` (None
    on an empty/absent store) — the previous global anchor. A plain
    column-max over the scan: parquet footer statistics answer it
    without touching row data."""
    return (
        read_epochs(
            spark,
            os.path.join(store_dir, STATE_SUBDIR),
            lambda rows: rows.where(F.col("epoch_id") < F.lit(epoch_id)),
            _STATE_SCHEMA,
        )
        .agg(F.max("anchor"))
        .collect()[0][0]
    )


def state_at_anchor(spark: SparkSession, store_dir: str) -> DataFrame:
    """The per-user state rescaled to the store's global anchor
    (max over per-user anchors = the newest epoch's anchor) — the
    view that compares against the one-shot batch op. The rescale is
    the lazy half of the r11 delta-write design: epochs write only
    touched users at their epoch's anchor; untouched users age HERE,
    at read, by one exact multiplication (the 1-row global-anchor
    aggregate rides a broadcast, the calibration-report pattern)."""
    s = latest_state(spark, store_dir)
    g = s.agg(F.max("anchor").alias("g_anchor"))
    f = _rescale_factor(F.col("g_anchor"), F.col("anchor"))
    return s.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n_events",
        "last_ts",
        (F.col("dc") * f).alias("dc"),
        (F.col("dv") * f).alias("dv"),
        F.col("g_anchor").alias("anchor"),
    )


def features(spark: SparkSession, store_dir: str) -> DataFrame:
    """The serving view, column-for-column the batch op's schema:
    (user_id, n_events, last_event_age_days, decayed_count,
    decayed_value) at the maintained global anchor (lazy rescale —
    see ``state_at_anchor``)."""
    s = state_at_anchor(spark, store_dir)
    return s.select(
        "user_id",
        "n_events",
        F.round(
            (F.unix_micros("anchor") - F.unix_micros("last_ts"))
            / F.lit(_US_PER_DAY),
            6,
        ).alias("last_event_age_days"),
        F.round("dc", 6).alias("decayed_count"),
        F.round("dv", 6).alias("decayed_value"),
    )


def maintain_decay(
    spark: SparkSession,
    events_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query (append semantics; needs user_id,
    ts, value). Each epoch (r11 delta-write design): advance the
    anchor to max(prev anchor, epoch max ts), then write ONLY the
    rows of users this epoch TOUCHED — their previous row (fetched by
    a semi-join against the epoch's user set) rescaled to the new
    anchor by the one shared factor, plus the epoch's contribution.
    Untouched users are never rewritten; they age lazily at read
    (``state_at_anchor``). Per-epoch write cost is therefore
    O(touched users), independent of the total user population — the
    r10 form rewrote the complete per-user snapshot through a single
    output task every epoch, which at 100× users pays a users-wide
    single-task write no matter how small the epoch."""
    state_path = os.path.join(store_dir, STATE_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.where(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        if batch.isEmpty():
            return
        batch_max = batch.agg(F.max("ts")).collect()[0][0]
        # the monotone global anchor comes from the RAW delta scan
        # (all users — parquet footer stats answer the max), never
        # from the touched-restricted fetch: a stale touched set must
        # not regress the anchor
        prev_anchor_row = _stored_max_anchor(spark, store_dir, epoch_id)
        anchor = (
            batch_max
            if prev_anchor_row is None
            else max(batch_max, prev_anchor_row)
        )
        contrib = _epoch_contribution(batch, F.lit(anchor))
        touched = batch.select("user_id").distinct()
        prev = _state_before(
            spark, store_dir, epoch_id, users=touched
        )
        # one shared rescale factor (bound once — ADVICE r10), exact
        # arithmetic on the stored doubles, no per-event re-rounding;
        # per-row exponent because per-user anchors are heterogeneous
        # under delta writes
        f = _rescale_factor(F.lit(anchor), F.col("anchor"))
        aged = prev.select(
            "user_id",
            "n_events",
            "last_ts",
            (F.col("dc") * f).alias("dc"),
            (F.col("dv") * f).alias("dv"),
        )
        merged = (
            aged.unionByName(
                contrib.select(
                    "user_id", "n_events", "last_ts", "dc", "dv"
                )
            )
            .groupBy("user_id")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.max("last_ts").alias("last_ts"),
                F.sum("dc").alias("dc"),
                F.sum("dv").alias("dv"),
            )
            .withColumn("anchor", F.lit(anchor))
        )
        write_epoch(merged, state_path, epoch_id)
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        events_stream,
        epoch,
        query_name="decay-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every delta row with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    the reader's one per-user latest row, anchors preserved as stored
    (the lazy rescale stays at read) — plus any newer epochs
    untouched.

    OFFLINE only: run with the maintenance query stopped and the
    stream's committed frontier AT OR ABOVE ``upto_epoch``. A later
    replay of an epoch <= upto_epoch would rebuild from the folded
    base — which already contains that epoch's events — and
    double-count them."""
    compact_epochs(
        spark,
        os.path.join(store_dir, STATE_SUBDIR),
        upto_epoch,
        _per_user_latest,
    )


def rebuild(
    spark: SparkSession, store_dir: str, clean_events: DataFrame
) -> None:
    """Erasure (a decayed sum cannot subtract one user's events in
    place): recompute the state from the scrubbed events source at
    ITS anchor (max ts) and swap it in as the base epoch through
    ``maintenance.rebuild_base`` — an empty source resets the store to
    never-ingested."""
    anchor = F.lit(clean_events.agg(F.max("ts")).collect()[0][0])
    state = _epoch_contribution(
        clean_events.where(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        ),
        anchor,
    ).withColumn("anchor", anchor)
    rebuild_base(os.path.join(store_dir, STATE_SUBDIR), state)
