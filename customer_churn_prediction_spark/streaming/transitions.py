"""Streaming session-transition model: the visit-level Markov matrix
maintained on event ingest — the TENTH maintained-store family.

``operators/sessions.py::session_transitions`` (registered r12) builds
P(next event_type | event_type) from within-visit bigrams in one batch
pass. A clickstream that ingests continuously wants the model
MAINTAINED — "give me the current transition matrix" without
rescanning the event lake. Unlike every prior family, the maintained
quantity here is ORDER-SENSITIVE: a bigram is an adjacency, and a
late event can land BETWEEN two previously-adjacent events (removing
their bigram and adding two new ones) or bridge two visits into one.
No per-epoch delta of the bigram counts is mergeable across arbitrary
micro-batch slicings.

What IS decomposable is the session structure itself: a visit never
crosses users, so the global bigram table is exactly the SUM of
per-user bigram tables — and a user's table is a pure function of
that user's accumulated events. The family exploits that:

  * ``transition_log`` — the per-epoch event deltas, landed verbatim
    (epoch-partitioned, dynamic overwrite: replay rewrites its own
    partition with identical rows). This is the row-store tier (the
    resample/decay class): state tracks the ingested events, not a
    sketch.
  * ``transition_counts`` — per epoch, ONLY the batch's touched users
    get their full bigram table recomputed from the accumulated log
    (the SAME ``_session_numbered`` core as the batch op, so the two
    models cannot disagree on the gap rule) and written under the
    epoch's partition. A user's newest write REPLACES their older
    partials: the read path takes the latest epoch per user, then
    sums across users. Untouched users' rows are never rewritten
    (the decay-store delta discipline — the r10 users-wide-write
    defect class stays dead).
  * serve — latest-per-user partials → hash-aggregate to
    ≤ |event_type|² rows → the batch op's own normalization
    expressions. BIT-equal to ``transitions_from_events`` over the
    union of every delta, however ingestion was sliced (the family
    matrix stages waves sliced by ``event_id % 3``, which cuts
    through the middle of sessions).

Epoch cost is HONEST, not hidden: recomputing a touched user needs
that user's full event history (adjacency is order-sensitive — there
is no aggregatable shortcut), so an epoch pays
O(sum over touched users of |their history|) plus the touched-user
fetch. The fetch is PRUNED, not a lake scan: the log is partitioned
by (epoch_id, u_bucket = user_id mod ``N_USER_BUCKETS``), the
touched buckets come from one bounded aggregate of the batch
(≤ N_USER_BUCKETS values), and the static ``isin`` prunes the scan
to those directories before the exact user semi-join — a small epoch
reads only its users' bucket slices of the log, never the whole
store (the partition-scoped discipline ``ann_ingest`` uses for
erasure, applied to the read path).

Governance is IN PLACE (the IVF-store class, not the sketch class): a
user's log rows and count partials are self-contained, so erasure
drops exactly their rows — partition-scoped rewrite of only the
epochs that contain the user, write-ahead ledgered so a crash-replayed
epoch that re-delivers the user's events is re-scrubbed
(``scrub_store``), same WAL discipline as ``ann_ingest``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sessions import _session_numbered
from .maintenance import (
    append_ledger,
    compact_epochs,
    erase_keys,
    read_epochs,
    read_ledger,
    write_epoch,
)
from .windows import stream_to_batch_sink

LOG_SUBDIR = "transition_log"
COUNTS_SUBDIR = "transition_counts"

# Second log-partition dimension: user_id mod this. Touched-user
# fetches statically prune to the touched buckets' directories; a
# production deployment sizes it so one bucket slice ≈ one task.
N_USER_BUCKETS = 64

_COUNTS_SCHEMA = (
    "user_id bigint, from_type string, to_type string, n bigint,"
    " epoch_id int"
)


def _user_bigrams(e: DataFrame) -> DataFrame:
    """(user_id, from_type, to_type, n): within-visit adjacent-pair
    counts per user — the batch model BEFORE its cross-user sum, from
    the same ``_session_numbered`` core (one definition of the gap
    rule)."""
    numbered = _session_numbered(e, ["event_type"])
    w_s = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    seq = numbered.select(
        "user_id",
        F.lag("event_type").over(w_s).alias("from_type"),
        F.col("event_type").alias("to_type"),
    )
    return (
        seq.where(F.col("from_type").isNotNull())
        .groupBy("user_id", "from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _latest_per_user(counts: DataFrame) -> DataFrame:
    """A user's newest epoch write supersedes their older partials
    (recomputed-from-fuller-log replace semantics). The window is
    partitioned per user — distributed, never a global task."""
    w_u = Window.partitionBy("user_id")
    return counts.withColumn(
        "_mx", F.max("epoch_id").over(w_u)
    ).where(F.col("epoch_id") == F.col("_mx")).drop("_mx")


def current_transitions(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """The maintained model: latest-per-user partials summed across
    users, normalized with the batch op's own expressions — identical
    columns (from_type, to_type, n, n_from, p), BIT-equal to the
    batch model over the ingested union. A store with no epochs yet
    answers the typed empty frame."""
    latest = read_epochs(
        spark,
        os.path.join(store_dir, COUNTS_SUBDIR),
        _latest_per_user,
        _COUNTS_SCHEMA,
    )
    counts = (
        latest.groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(w_from).cast("long").alias("n_from"),
        F.round(F.col("n") / F.sum("n").over(w_from), 6).alias("p"),
    )


def visit_anomaly_report(
    spark: SparkSession, store_dir: str, events: DataFrame
) -> DataFrame:
    """Score visits against the MAINTAINED model — the store's serve
    payoff: ``session_anomaly`` without refitting the transition
    matrix (the gram-pipeline-drops-out-of-serve discipline, DSIR's
    at-rest precedent). Same scoring tail as the batch op
    (``sessions.score_visits_against`` — one definition), the model
    read is the ≤ |event_type|²-row ``current_transitions``. r13: a
    transition the ingested history never saw scores the stupid-
    backoff floor ``-log(P_FLOOR)`` and increments the row's
    ``n_unseen`` (left join — no silent subset mean when the store
    holds only part of the scored events); scores equal the inline
    ``session_anomaly`` bit-for-bit whenever the ingest is a superset
    of the scored events (then every ``n_unseen`` is 0 — the
    batch-equality pytest ingests exactly them)."""
    from ..operators.sessions import score_visits_against

    model = current_transitions(spark, store_dir).select(
        "from_type", "to_type", "p"
    )
    return score_visits_against(events, model)


def maintain_transitions(
    spark: SparkSession,
    events_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over an events stream (append
    semantics; needs user_id, ts, event_id, event_type). Null-key
    contract: rows with NULL user_id/ts/event_type are dropped (a
    NULL key can neither sessionize nor transition; same discipline
    as the decay/resample cores). ``fault`` is the sibling sinks'
    crash hook — after the writes, before the offset commit."""
    log_path = os.path.join(store_dir, LOG_SUBDIR)
    counts_path = os.path.join(store_dir, COUNTS_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select(
            "user_id", "ts", "event_id", "event_type"
        ).where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        if batch.isEmpty():
            return
        # 1. land the event delta (replay rewrites its own partitions
        #    with identical rows — bit-idempotent)
        bucketed = batch.withColumn(
            "u_bucket", F.pmod(F.col("user_id"), F.lit(N_USER_BUCKETS))
        )
        write_epoch(bucketed, log_path, epoch_id, "u_bucket")
        # 2. recompute ONLY the touched users from the accumulated
        #    log: static bucket pruning (one bounded <= N_USER_BUCKETS
        #    collect) cuts the scan to the touched directories, the
        #    semi-join is exact within them (includes this epoch's
        #    own rows)
        touched = batch.select("user_id").distinct()
        buckets = [
            int(r.u_bucket)
            for r in bucketed.select("u_bucket").distinct().collect()
        ]
        hist = (
            spark.read.parquet(log_path)
            .where(F.col("u_bucket").isin(buckets))
            .join(touched, "user_id", "left_semi")
        )
        write_epoch(_user_bigrams(hist), counts_path, epoch_id)
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        events_stream,
        epoch,
        query_name="transition-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(
    spark: SparkSession, store_dir: str, upto_epoch: int
) -> None:
    """Fold committed epochs ``<= upto_epoch`` into the base
    partition of both sub-stores (``maintenance.compact_epochs``): the
    log folds with the identity merge (the deltas are the data), the
    counts with the reader's ``_latest_per_user`` — each user's LATEST
    partial at or below the frontier (folding every epoch would
    resurrect superseded rows)."""
    compact_epochs(
        spark,
        os.path.join(store_dir, LOG_SUBDIR),
        upto_epoch,
        lambda rows: rows,
        ("u_bucket",),
    )
    compact_epochs(
        spark,
        os.path.join(store_dir, COUNTS_SUBDIR),
        upto_epoch,
        _latest_per_user,
    )


# ------------------------------------------------------- governance

def _ledger_path(store_dir: str) -> str:
    return os.path.join(store_dir, "erased_users")


def read_erased_users(spark: SparkSession, store_dir: str) -> DataFrame:
    return read_ledger(spark, _ledger_path(store_dir), "user_id")


def forget_users(
    spark: SparkSession,
    store_dir: str,
    user_ids: list[int],
    record: bool = True,
) -> None:
    """Erase users IN PLACE from both sub-stores — a user's log rows
    and count partials are self-contained (sessions never cross
    users), so dropping their rows leaves every other user's model
    exact; no rebuild needed. Partition-scoped through the shared
    ``maintenance.erase_keys``. Write-ahead ledgered: a crash-replayed
    epoch re-delivers the users' events, so after any replay window
    :func:`scrub_store` re-applies the ledger. Run OFFLINE or on
    committed epochs only (the compact invariant)."""
    ids = [int(i) for i in user_ids]
    if record:
        append_ledger(spark, _ledger_path(store_dir), "user_id", ids)
    erase_keys(
        spark,
        os.path.join(store_dir, LOG_SUBDIR),
        "user_id",
        ids,
        ("epoch_id", "u_bucket"),
    )
    erase_keys(
        spark,
        os.path.join(store_dir, COUNTS_SUBDIR),
        "user_id",
        ids,
        ("epoch_id",),
    )


def scrub_store(spark: SparkSession, store_dir: str) -> None:
    """Re-apply the erasure ledger (idempotent) — the post-replay
    self-heal."""
    ids = [
        int(r.user_id)
        for r in read_erased_users(spark, store_dir).collect()
    ]
    if ids:
        forget_users(spark, store_dir, ids, record=False)
