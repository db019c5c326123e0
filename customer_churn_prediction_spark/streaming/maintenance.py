"""The one epoch-store lifecycle every maintained at-rest store shares.

A maintained store is a parquet directory partitioned by ``epoch_id``
(plus, for some families, a second partition column). Each family
declares its sub-store path, its extra partition columns and its
``merge`` — the function that turns stored partials into the current
state — and composes the pieces below:

- ``write_epoch`` — the exactly-once epoch write: dynamic partition
  overwrite, so a crash-replayed epoch rewrites its own partitions
  instead of appending duplicates;
- ``read_epochs`` — the one missing-path guard: ``merge`` over the
  stored partials, or the typed empty frame before the first epoch;
- ``compact_epochs`` — the one fold: epochs ``<= upto_epoch`` go
  through the SAME ``merge`` the reader applies and are relabelled to
  the single ``_BASE_EPOCH``, newer epochs are kept as they are, and
  the result replaces the store through ``layout.swap_dir``;
- ``rebuild_base`` — the erasure path for lossy states: the store's
  whole history is replaced, through the same swap, by a state
  recomputed from the scrubbed source;
- ``erase_keys`` — the partition-scoped in-place erase for the stores
  whose rows are self-contained, behind the write-ahead ledger
  (``layout.append_ledger`` / ``read_ledger`` / ``compact_ledger``,
  the batch erasure ledger's set); each of those families'
  ``compact`` also folds its ledger to one file.

Every filesystem step goes through ``sources/layout``'s Hadoop API,
so a ``file://``, ``hdfs://`` or ``s3a://`` store behaves like a
plain local path.

Twelve families use them (tests/test_maintained_stores.py runs the
shared contract over each):

- rebuild governance: CMS partials (``sketch``), HLL registers
  (``hll``), Bloom bits (``bloom``), KMV sketches (``kmv``), the
  hourly resample rollup (``resample``), the decayed counters
  (``decay``), the A-ES weighted reservoir (``sample``) and the
  bigram LM counts (``bigram``);
- in-place governance: the streaming IVF lists (``ann_ingest``), the
  session-transition log and counts (``transitions``) and the
  benchmark-gram registry (``novelty``);
- the GK quantile reports (``quantiles``) keep their state behind the
  stream checkpoint and use none of these.

The epoch-partitioned sinks of ``ingest``, ``fragment_ingest``,
``vector_ingest`` and ``selection`` land through ``write_epoch`` too.
One implementation, so a fix to a crash window or an empty-store edge
lands in every store at once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.layout import delete, exists, heal_swap, list_status, swap_dir

# Partition that holds folded or rebuilt history: never a live epoch
# id, so a replay of a real epoch cannot collide with it.
_BASE_EPOCH = -1


def write_epoch(
    df: DataFrame, path: str, epoch_id: int, *sub_partitions: str
) -> None:
    """Land ``df`` as epoch ``epoch_id`` of the store at ``path``,
    partitioned by ``epoch_id`` and then ``sub_partitions``. Dynamic
    overwrite touches only the partitions present in ``df``, so a
    replayed epoch replaces its own output and nothing else."""
    (
        df.withColumn("epoch_id", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id", *sub_partitions)
        .parquet(path)
    )


def read_epochs(
    spark: SparkSession, path: str, merge, empty_schema: str
) -> DataFrame:
    """``merge`` over every stored partial of the store at ``path``
    (the frame ``merge`` receives carries the partition columns), or
    an empty frame of ``empty_schema`` when nothing is stored yet, so
    a read before the first epoch answers instead of raising."""
    if not exists(spark, path):
        return spark.createDataFrame([], empty_schema)
    return merge(spark.read.parquet(path))


def compact_epochs(
    spark: SparkSession,
    path: str,
    upto_epoch: int,
    merge,
    sub_partitions: tuple[str, ...] = (),
) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition
    through ``merge`` — the function the family's reader applies, so
    a compacted store serves exactly what it served before. Newer
    epochs are carried over unchanged.

    OFFLINE maintenance: run with the maintenance query STOPPED and a
    frontier at or below the last committed epoch — a folded epoch
    that later replays would be merged twice (the caller owns that
    invariant, as for ``sources/layout.vacuum_epochs``). Crash safety
    is ``layout.swap_dir``; an already-folded store has nothing left
    below the frontier to re-add, so a re-run is a no-op.

    A never-ingested (or erased-to-empty) store is a no-op, like
    ``read_epochs``'s guard — but only after the swap's heal: a swap
    that crashed between its renames leaves only the old copy."""
    parts = ("epoch_id", *sub_partitions)

    def _write(stage: str) -> None:
        rows = spark.read.parquet(path)
        folded = merge(
            rows.where(F.col("epoch_id") <= F.lit(upto_epoch))
        ).withColumn("epoch_id", F.lit(_BASE_EPOCH))
        keep = rows.where(F.col("epoch_id") > F.lit(upto_epoch))
        (
            folded.unionByName(keep.select(*folded.columns))
            .repartition(*parts)
            .write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(stage)
        )

    heal_swap(spark, path)
    if exists(spark, path):
        swap_dir(spark, path, _write)


def rebuild_base(live_path: str, state_df: DataFrame) -> None:
    """Replace a store's ENTIRE epoch history with a freshly computed
    base partition — THE erasure path for lossy states. A shared
    bit/register/cell cannot be unlearned in place (it may belong to
    other keys), so governance for such a store is: scrub the SOURCE,
    recompute the state from the clean source, and swap it in as the
    base epoch. The swap is ``layout.swap_dir``, so a crash mid-rebuild
    never leaves a half-forgotten store — readers see the old state or
    the clean state, nothing between. OFFLINE (maintenance query
    stopped); the restarted query's checkpoint must be fresh, since
    the old offsets' epochs no longer exist in the store.

    ``state_df`` is the family's mergeable state computed over the
    scrubbed source. Requires an existing store — rebuilding a store
    that never ingested is meaningless (there is nothing to
    forget)."""
    spark = state_df.sparkSession
    if not exists(spark, live_path):
        raise FileNotFoundError(
            f"rebuild_base: no store at {live_path} — nothing to "
            "rebuild; a first build is the maintenance query's job"
        )
    if state_df.isEmpty():
        # Scrub removed every key: the truthful state is "never
        # ingested" — remove the store and let read_epochs answer the
        # typed empty frame.
        delete(spark, live_path)
        return

    def _write(stage: str) -> None:
        (
            state_df.withColumn("epoch_id", F.lit(_BASE_EPOCH))
            .repartition("epoch_id")
            .write.mode("overwrite")
            .partitionBy("epoch_id")
            .parquet(stage)
        )

    swap_dir(spark, live_path, _write)


def erase_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    ids: list[int],
    part_cols: tuple[str, ...],
) -> tuple[int, int, int]:
    """Partition-scoped erase of every row whose ``key_col`` is in
    ``ids`` from the store at ``path``, partitioned by ``part_cols``.

    Only the partitions that CONTAIN one of the ids are rewritten —
    found with one pushdown-filtered aggregate, then pruned coarsely
    by a per-column ``isin`` (a SMALL expression tree, O(distinct
    values), that still statically prunes the scan) plus an exact
    broadcast semi-join on the partition tuple; an OR-chain per tuple
    would grow linearly with the touched partitions. Every other
    partition's files are left byte-untouched. Survivors stage to a
    sibling dir (a path write cannot read from itself; the stage also
    makes a crash re-runnable; it is no dot-prefixed swap stage
    because it is read back, and Spark ignores a hidden root path),
    dynamic overwrite replaces exactly the
    touched partitions, and partitions left EMPTY are deleted
    directly — then any parent partition dir they emptied, then the
    store root if no partition is left, so readers and ``compact``
    see a never-ingested store instead of a directory whose schema
    cannot be inferred.

    Run OFFLINE or on committed epochs only (the compact invariant).
    Returns (partitions_touched, rows_before, rows_after), counted
    over the TOUCHED partitions only — counting the whole store would
    cost two full scans of pure bookkeeping."""
    if not exists(spark, path):
        return 0, 0, 0
    store = spark.read.parquet(path)
    hit = (
        store.where(F.col(key_col).isin(ids))
        .groupBy(*part_cols)
        .count()
        .collect()
    )
    if not hit:
        return 0, 0, 0
    n_erased = sum(int(r["count"]) for r in hit)
    pairs = sorted(tuple(int(r[c]) for c in part_cols) for r in hit)
    dtypes = dict(store.dtypes)
    pairs_df = spark.createDataFrame(
        pairs, ", ".join(f"{c} long" for c in part_cols)
    ).select(*[F.col(c).cast(dtypes[c]) for c in part_cols])
    coarse = store
    for i, c in enumerate(part_cols):
        coarse = coarse.where(F.col(c).isin(sorted({p[i] for p in pairs})))
    touched = coarse.join(F.broadcast(pairs_df), list(part_cols), "left_semi")
    stage = path.rstrip("/") + "__forget_stage"
    delete(spark, stage)
    (
        touched.where(~F.col(key_col).isin(ids))
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(stage)
    )
    # explicit schema: a partition whose every row was erased stages
    # ZERO files, and a schema-less parquet read of that cannot infer
    staged = spark.read.schema(store.schema).parquet(stage)
    counts = staged.groupBy(*part_cols).count().collect()
    live = {tuple(int(r[c]) for c in part_cols) for r in counts}
    n_after = sum(int(r["count"]) for r in counts)
    if live:
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(path)
        )
    delete(spark, stage)
    for p in set(pairs) - live:
        dirs = [f"{c}={v}" for c, v in zip(part_cols, p)]
        # the emptied leaf, then each parent it leaves without a
        # partition below it, then the root
        for depth in range(len(dirs), -1, -1):
            d = os.path.join(path, *dirs[:depth])
            if depth < len(dirs) and _has_partitions(spark, d):
                break
            delete(spark, d)
    return len(pairs), n_after + n_erased, n_after


def _has_partitions(spark: SparkSession, d: str) -> bool:
    return any(
        st.isDirectory() and "=" in st.getPath().getName()
        for st in list_status(spark, d)
    )
