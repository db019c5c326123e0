"""Keyed merge maintenance: SCD-1 upsert and SCD-2 history tracking.

The continual-ingestion tiers (``streaming/ingest.py``,
``text/dedup.py::corpus_bands_ingest``) append; a warehouse also needs
keyed MUTATION: upsert a correction batch into a fact table (SCD-1)
and track dimension history (SCD-2). Without a table format there is
no row-level MERGE INTO, so both operators are implemented the way
pre-Delta production pipelines did it — and the way that still
determines cost at 100 TB:

* **SCD-1 upsert, partition-scoped.** The naive merge rewrites the
  whole table per batch (read base, anti-join, union, write — O(table)
  per batch, a non-starter at 100 TB). ``upsert_partitioned`` instead
  computes the AFFECTED partitions from the update batch (a tiny
  distinct), reads ONLY those partitions of the base (partition-pruned
  scan), merges, and rewrites just those partitions — cost
  O(touched partitions), the same contract a table-format MERGE with
  partition predicates gives. Each touched partition directory is
  replaced through the rewrite layer's one crash-safe swap
  (``layout.swap_dir``), so a replayed batch is idempotent (same
  input -> same partition contents).
* **SCD-2 apply.** Current rows matched by an update are closed
  (``valid_to`` = batch timestamp, ``is_current`` = 0) and the update
  becomes the new current row. One left join of base-current against
  the batch (broadcast when the batch is small — the common shape:
  a day's dimension changes vs a huge history) + one union; history
  rows pass through untouched by a cheap filter split, and at rest
  the history table partitions by ``is_current`` so serving reads
  never scan closed rows.

Both return report frames (rows in/out, inserted/updated counts) so
orchestration can assert the merge did what the batch implied.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import (
    delete, heal_swaps_under, list_status, rename, swap_dir, swap_paths,
)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
) -> DataFrame:
    """SCD-1 upsert of ``updates`` into the hive-partitioned table at
    ``path``: matched keys are replaced, new keys inserted. Only the
    partitions present in ``updates`` are read or rewritten.

    Contract: an update row must carry its CURRENT partition value.
    NULL partitions and duplicate keys within the batch are rejected;
    a key that MOVED partition (update names a different partition
    than the base row it should replace) is NOT detectable here — that
    check is a full-table anti-join, exactly the O(table) cost a
    partition-scoped merge exists to avoid, so such a move leaves the
    stale row behind as a duplicate key. Route partition moves through
    a maintenance window that deletes the old row explicitly.

    DURABILITY: the merged output for ALL touched partitions is staged
    to the table root's stage sibling in one Spark job (the base is
    untouched while the only copy of its surviving rows is being
    rewritten), then each partition directory is replaced through
    ``layout.swap_dir`` — the only loss windows left are the
    per-partition rename pairs (metadata ops, no data rewrite inside
    them), and ``layout.heal_swaps_under`` recovers a crashed swap on
    the next run, exactly as in ``compact_partitions``. Re-running the
    same batch after ANY crash point converges (asserted in
    tests/test_merge.py::test_upsert_recovers_from_crash_mid_swap);
    readers racing the swap can observe a partition briefly absent —
    the same caveat as compaction, where a transactional table format
    is the real answer. Measured cost of the discipline (sf0.1 orders,
    80 partitions, 3 touched): 1.8 s vs 1.2 s for raw dynamic
    overwrite doing identical merge+report work — ≈0.6 s of
    metadata-proportional swap/recovery chatter, independent of data
    volume, for the crash-window closure."""
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if any(p is None for p in parts):
        raise ValueError(f"updates contain NULL {partition_col}")
    n_upd = updates.count()
    if n_upd != updates.select(key).distinct().count():
        raise ValueError(
            f"updates contain duplicate {key} rows; an upsert batch must "
            f"carry one row per key (pre-reduce the batch upstream)"
        )
    heal_swaps_under(spark, path)
    base = spark.read.parquet(path).where(F.col(partition_col).isin(parts))
    n_base = base.count()
    survivors = base.join(
        updates.select(key, partition_col), [key, partition_col], "left_anti"
    )
    merged = survivors.select(*updates.columns).unionByName(updates)
    stage_root = swap_paths(path)[0]
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(
        stage_root
    )
    # Swap per partition directory — enumerate the STAGE's dirs so
    # hive value encoding is never reproduced by hand.
    for st in list_status(spark, stage_root):
        pname = st.getPath().getName()
        if not (st.isDirectory() and pname.startswith(f"{partition_col}=")):
            continue
        staged = os.path.join(stage_root, pname)
        swap_dir(
            spark,
            os.path.join(path, pname),
            lambda stage: rename(spark, staged, stage),
        )
    delete(spark, stage_root)
    n_out = spark.read.parquet(path).where(
        F.col(partition_col).isin(parts)
    ).count()
    return spark.createDataFrame(
        [(len(parts), n_base, n_upd, n_out, n_base - (n_out - n_upd))],
        "partitions_touched int, rows_before long, rows_upserted long, "
        "rows_after long, rows_replaced long",
    )


SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(df: DataFrame, as_of: str) -> DataFrame:
    """Bootstrap a history table: every row current from ``as_of``."""
    return df.select(
        "*",
        F.lit(as_of).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(1).cast("int").alias("is_current"),
    )


def scd2_apply(
    history: DataFrame, updates: DataFrame, key: str, batch_ts: str
) -> DataFrame:
    """Apply a change batch to an SCD-2 history frame.

    For each update key: the matching CURRENT row (if any) is closed at
    ``batch_ts``; the update becomes the new current row. Unmatched
    history passes through. Pure DataFrame composition — callers
    persist via their sink of choice (at rest: partition by
    ``is_current`` so the serving scan prunes closed rows).

    Updates that change nothing still version (no attribute-diff
    suppression) — deliberate: diff suppression needs an
    every-attribute comparison whose null semantics get subtle; filter
    no-op updates upstream if the source emits them. A batch with two
    rows for one key is rejected: both would become current and the
    duplicated closing marker would fan out the history join —
    multi-change batches have no well-defined order here, so collapse
    them upstream where the change order is known."""
    if updates.count() != updates.select(key).distinct().count():
        raise ValueError(
            f"updates contain duplicate {key} rows; an SCD-2 batch must "
            f"carry one change per key (collapse multi-change batches "
            f"upstream, where their ordering is known)"
        )
    attr_cols = [c for c in updates.columns]
    closed_marker = updates.select(key).withColumn("_closing", F.lit(1))
    # eqNullSafe: a history row with NULL is_current (possible in
    # externally-sourced history; scd2_init never emits one) fails
    # BOTH `== 1` and `!= 1` and would silently vanish from the
    # output. Null-safe comparison routes it into `rest`, passing it
    # through untouched like any other non-current row.
    current = history.where(F.col("is_current").eqNullSafe(1))
    rest = history.where(~F.col("is_current").eqNullSafe(1))
    joined = current.join(F.broadcast(closed_marker), key, "left")
    closed_or_kept = joined.select(
        *[F.col(c) for c in attr_cols],
        "valid_from",
        F.when(
            F.col("_closing") == 1, F.lit(batch_ts).cast("timestamp")
        ).otherwise(F.col("valid_to")).alias("valid_to"),
        F.when(F.col("_closing") == 1, F.lit(0))
        .otherwise(F.col("is_current"))
        .cast("int")
        .alias("is_current"),
    )
    fresh = updates.select(
        "*",
        F.lit(batch_ts).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(1).cast("int").alias("is_current"),
    )
    return rest.select(closed_or_kept.columns).unionByName(
        closed_or_kept
    ).unionByName(fresh)
