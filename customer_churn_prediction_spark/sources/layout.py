"""At-rest data layout management and the one rewrite layer every
at-rest store shares.

Layout operators every 100 TB deployment needs around the query
tiers:

* **write_corpus_layout** — the at-rest shape for the documents table:
  hive-partitioned by ``lang`` (every per-language query becomes
  directory-level partition PRUNING — the scan never lists the other
  languages' files) and range-distributed + sorted by ``n_chars``
  within each language, so length predicates prune at parquet
  row-group granularity via min/max footer stats and files have
  bounded, even sizes (repartitionByRange splits a hot language across
  many files instead of one giant writer task).
* **compact_partitions** — streaming/incremental ingest produces many
  small files per partition (each micro-batch epoch appends its own);
  at scale the resulting file-listing and task-scheduling overhead
  dominates scans. Compaction rewrites only the partitions whose file
  count exceeds what their bytes justify, bin-packing to a target file
  size, each through ``swap_dir`` (a table format — Delta/Iceberg — is
  the real answer when readers race maintenance; its commit protocol
  replaces the rename pair, the bin-packing below is the same).
* **vacuum_epochs** — retention for the exactly-once epoch-partitioned
  sinks: drops epoch partitions below a caller-committed frontier
  (see its docstring for why the watermark is epoch-id-based).

The rewrite layer every at-rest store shares (this module,
``sources/merge``, ``sources/forget``, ``sources/writers``,
``streaming/maintenance``):

* **one filesystem API** — ``exists`` / ``list_status`` / ``rename``
  / ``delete`` on the Hadoop FileSystem of the path, so a ``file://``,
  ``hdfs://`` or ``s3a://`` store behaves like a plain local one;
* **one directory swap** — ``swap_dir`` with its entry-time heal and
  one naming scheme (``swap_paths``), for whole stores and single
  partitions alike;
* **one erasure ledger** — ``append_ledger`` / ``read_ledger`` /
  ``compact_ledger``, for the batch and the streaming ledgers.

``scan_metrics`` executes a plan and returns the scan's real executed
metrics (files read, rows output) — the evidence layer: layout claims
here are ASSERTED from executed plans in tests/test_layout.py, not
inferred from plan strings.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_corpus_layout(
    df: DataFrame,
    path: str,
    partition_col: str = "lang",
    order_col: str = "n_chars",
    files_per_partition: int = 4,
) -> None:
    """Write the partitioned + range-sorted corpus layout.

    ``repartitionByRange(partition_col, order_col)`` both (a) routes
    each hive partition's rows to a bounded set of writer tasks — a hot
    language becomes several evenly-sized files, never one giant one —
    and (b) makes the per-file ``order_col`` ranges DISJOINT, so a
    range predicate selects a contiguous subset of files and parquet
    min/max stats skip whole row groups. ``sortWithinPartitions``
    tightens the per-row-group min/max inside each file.

    ``files_per_partition`` scales total range partitions; at 100 TB
    set it from table bytes / target file size (same arithmetic as
    ``compact_partitions``).
    """
    n_part = df.select(partition_col).distinct().count()
    (
        df.repartitionByRange(
            max(1, n_part * files_per_partition),
            F.col(partition_col),
            F.col(order_col),
        )
        .sortWithinPartitions(partition_col, order_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def scan_metrics(df: DataFrame) -> dict[str, int]:
    """Execute ``df``'s plan and return the (first) parquet scan's
    executed metrics — {numFiles, numOutputRows, filesSize, ...}.

    Runs the plan via ``executeCollect`` on the SAME QueryExecution the
    metrics hang off (a separate ``.count()`` action would plan its own
    execution and leave these metrics at zero)."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.executeCollect()
    out: dict[str, int] = {}

    def walk(node) -> None:
        if "Scan" in node.nodeName() and not out:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                out[kv._1()] = kv._2().value()
        # AdaptiveSparkPlanExec and QueryStageExec are LEAVES in
        # children() terms — their subtrees hang off executedPlan() /
        # plan(); without these hops any AQE-wrapped query
        # (join/aggregate above the scan) silently yields no scan.
        if "AdaptiveSparkPlan" in node.nodeName():
            walk(node.executedPlan())
        if "QueryStage" in node.nodeName():
            walk(node.plan())
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(plan)
    if not out:
        raise ValueError(
            "no parquet scan found in executed plan (unexpected plan "
            "shape):\n" + plan.toString()
        )
    return out


def zorder_key(bucket_a, bucket_b, bits: int = 8):
    """Morton (Z-order) interleave of two pre-bucketed int columns —
    a pure expression (no UDF, no global sort): bit i of each bucket
    lands at output bits 2i+1 / 2i, so sorting by the key clusters
    BOTH dimensions at once.

    Buckets are clamped into [0, 2^bits) here (out-of-range values —
    e.g. a date before the binning base going negative — would
    sign-extend through shiftright and scramble the key); compute them
    with the house fixed-literal-edge binning (floor(col / width)),
    NOT ntile — ranked quantiles need the one global sort that cannot
    survive 1000 executors, and data-independent edges keep the key
    stable across ingest batches (a re-ranked ntile key would scatter
    yesterday's files). Give both dimensions comparable bucket
    resolution: if one spans 2^k buckets and the other 2^j with
    j << k, each Z-tile is a thin slab covering most of the coarse
    dimension and that dimension stops pruning."""
    top = (1 << bits) - 1
    a = F.greatest(F.lit(0), F.least(bucket_a.cast("long"), F.lit(top)))
    b = F.greatest(F.lit(0), F.least(bucket_b.cast("long"), F.lit(top)))
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return key


def write_zorder_layout(
    df: DataFrame,
    path: str,
    bucket_a,
    bucket_b,
    n_files: int = 16,
    bits: int = 8,
) -> None:
    """Write ``df`` range-distributed and sorted by the Z-order key of
    two bucket expressions. Every file then spans a small Z-range —
    i.e. a small rectangle in BOTH dimensions — so parquet footer
    min/max stats prune files for predicates on EITHER column (a
    single-column sort only ever prunes its own column). This is the
    table-format ZORDER BY, expressed with stock Spark writes; the
    skip-ability is asserted from the real parquet footers in
    tests/test_layout.py, not assumed."""
    keyed = df.withColumn("_zkey", zorder_key(bucket_a, bucket_b, bits))
    (
        keyed.repartitionByRange(n_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------
# The one filesystem API of the at-rest stores.


def _fs_path(spark: SparkSession, path: str):
    """The Hadoop FileSystem serving ``path``, and its Hadoop Path."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _is_data_file(name: str) -> bool:
    return not (name.startswith("_") or name.startswith("."))


def _must(ok: bool, action: str, src, dst=None) -> None:
    """Hadoop FileSystem.rename/delete report failure by RETURNING
    FALSE (dst exists, src vanished, permission), not by raising — and
    rename-into-an-existing-dir silently nests src INSIDE dst. Treating
    a false return as success is how a compaction 'succeeds' while
    hiding staged data inside a live partition, so every step checks
    its return and aborts loudly instead."""
    if not ok:
        where = f"{src} -> {dst}" if dst is not None else str(src)
        raise IOError(f"filesystem {action} failed (returned false): {where}")


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_path(spark, path)
    return bool(fs.exists(jpath))


def list_status(spark: SparkSession, path: str) -> list:
    """The Hadoop FileStatus of every entry directly under ``path``
    (checksum files excluded); empty when ``path`` does not exist."""
    fs, jpath = _fs_path(spark, path)
    return list(fs.listStatus(jpath)) if fs.exists(jpath) else []


def _data_files(spark: SparkSession, path: str) -> list:
    return [
        st for st in list_status(spark, path)
        if st.isFile() and _is_data_file(st.getPath().getName())
    ]


def rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, jsrc = _fs_path(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    _must(fs.rename(jsrc, jdst), "rename", src, dst)


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; a no-op when ``path`` is absent. A false
    return aborts: on an erasure path it means the forgotten rows
    SURVIVED."""
    fs, jpath = _fs_path(spark, path)
    if fs.exists(jpath):
        _must(fs.delete(jpath, True), "delete", path)


# ---------------------------------------------------------------------
# The one crash-safe directory swap.

_STAGE, _OLD = "._swap_stage", "._swap_old"


def swap_paths(live: str) -> tuple[str, str]:
    """The (stage, old) siblings of the directory ``live``. Both are
    DOT-PREFIXED: Spark and Hadoop listings skip '.'-children, so a
    reader scanning the parent mid-swap (a table root whose partitions
    are swapped one by one) never discovers a staged or old copy as a
    bogus partition and double-counts."""
    parent, name = os.path.split(live.rstrip("/"))
    return (
        os.path.join(parent, f".{name}{_STAGE}"),
        os.path.join(parent, f".{name}{_OLD}"),
    )


def heal_swap(spark: SparkSession, live: str) -> None:
    """Recover a crashed swap of ``live``. An old directory with no
    live one is the ONLY copy (the crash hit between the two renames):
    restore it, never delete it. An old directory whose live one
    exists is a swap that lost only its final delete: drop it. A stage
    is always pre-swap garbage: drop it."""
    stage, old = swap_paths(live)
    if exists(spark, old):
        if exists(spark, live):
            delete(spark, old)
        else:
            rename(spark, old, live)
    delete(spark, stage)


def heal_swaps_under(spark: SparkSession, parent: str) -> None:
    """Recover every crashed swap directly under ``parent``. The
    per-partition callers run it before they list partitions: a
    partition whose live directory a crash left missing would not be
    listed, and its old copy would never come back."""
    for st in list_status(spark, parent):
        name = st.getPath().getName()
        for suffix in (_STAGE, _OLD):
            if name.startswith(".") and name.endswith(suffix):
                heal_swap(
                    spark, os.path.join(parent, name[1:-len(suffix)])
                )


def swap_dir(spark: SparkSession, live: str, fill) -> None:
    """Replace the directory ``live`` with what ``fill(stage)`` puts at
    the stage path, crash-safely:

      1. entry-time heal of any PRIOR crashed swap of ``live``;
      2. ``fill(stage)`` completes the replacement before anything
         moves (a Spark write, or a rename of an already staged dir);
      3. live -> old, stage -> live, old deleted.

    A crash before step 3 leaves the original serving; between the two
    renames the directory is briefly absent (readers racing the swap
    can see that — a table format's commit protocol is the real answer
    to that class); any crash leaves a state step 1 recovers on the
    next call, so a re-run converges. A missing ``live`` is created."""
    stage, old = swap_paths(live)
    heal_swap(spark, live)
    fill(stage)
    if exists(spark, live):
        rename(spark, live, old)
    rename(spark, stage, live)
    delete(spark, old)


# ---------------------------------------------------------------------
# The one write-ahead erasure ledger: the batch ledger
# (``sources/forget``) and the streaming stores' ledgers.


def append_ledger(
    spark: SparkSession, path: str, schema: str, rows: list[tuple]
) -> None:
    """Write-ahead record of an erasure batch: append ``rows`` (typed
    by the DDL ``schema``) to the ledger at ``path`` BEFORE any store
    is touched, so a rebuild or a crash-replayed epoch that brings an
    erased key back can be scrubbed again. Erasure requests are
    human-scale, so one appended file per batch is the right grain.

    ``repartition(1)``, not ``coalesce(1)``: a local-list DataFrame
    parallelizes into defaultParallelism Python partitions, and a
    coalesced single task evaluates them SERIALLY (one Python worker
    spin-up each — measured ~4.5 s at local[32] for a 16-row batch vs
    ~0.4 s with the shuffle, which evaluates upstream in parallel)."""
    if rows:
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(path)


def read_ledger(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Distinct rows ever recorded in the ledger at ``path`` (an empty
    frame of ``schema`` when none). A SET at read time — duplicates
    from replayed batches are free."""
    if not exists(spark, path):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(path).distinct()


def compact_ledger(
    spark: SparkSession, path: str, schema: str
) -> tuple[int, int]:
    """Rewrite the append-only ledger at ``path`` as one file of
    distinct rows.

    Every batch appends one small file, so a long-running deployment
    accumulates thousands and each scrub pays a listing-bound read.
    Compaction is safe because every consumer reads a ledger as a SET,
    which also gives the crash discipline: the compacted file is
    APPENDED first and the superseded files deleted after, so a crash
    anywhere leaves duplicate rows (deduped at read), never missing
    ones, and there is no moment where the ledger is absent. The
    distinct set is collected driver-side (erasure requests are
    human-scale, like the scrub's own collect).

    Returns ``(files_before, files_after)``; no-op at <= 1 data file.
    """
    before = [st.getPath().getName() for st in _data_files(spark, path)]
    if len(before) <= 1:
        return (len(before), len(before))
    rows = spark.read.parquet(path).distinct().collect()
    append_ledger(spark, path, schema, rows)
    for name in before:
        delete(spark, os.path.join(path, name))
    return (len(before), len(_data_files(spark, path)))


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Bin-pack each hive partition's data files toward
    ``target_bytes`` per file; rewrite ONLY partitions whose current
    file count exceeds ``ceil(bytes / target)`` — already-compact
    partitions are untouched, which is what makes repeated runs
    idempotent no-ops.

    Returns a report DataFrame (partition, files_before, files_after,
    bytes) — the same shape a table-format OPTIMIZE emits. Each
    rewrite is one ``swap_dir`` of the partition directory, read
    directly (the partition column lives in the directory name, so the
    rewrite round-trips files byte-for-stats without touching it)."""
    heal_swaps_under(spark, path)
    report = []
    for st in list_status(spark, path):
        if not st.isDirectory():
            continue
        pname = st.getPath().getName()
        if "=" not in pname or pname.startswith((".", "_")):
            continue
        live = os.path.join(path, pname)
        files = _data_files(spark, live)
        total = sum(f.getLen() for f in files)
        want = max(1, math.ceil(total / target_bytes))
        after = len(files)
        if len(files) > want:
            swap_dir(
                spark,
                live,
                lambda stage: spark.read.parquet(live)
                .coalesce(want)
                .write.mode("overwrite")
                .parquet(stage),
            )
            after = len(_data_files(spark, live))
        report.append((pname, len(files), after, total))
    return spark.createDataFrame(
        report, "partition string, files_before int, files_after int, bytes long"
    )


def vacuum_epochs(
    spark: SparkSession, path: str, retain_from_epoch: int
) -> DataFrame:
    """Drop epoch partitions older than ``retain_from_epoch`` from an
    epoch-partitioned sink directory (the exactly-once sinks —
    ``ml/serving.serve_scoring_stream``, ``streaming/ingest`` — write
    ``epoch=N`` partitions that accumulate forever; once downstream
    consumers have drained an epoch, retention is a POLICY decision
    this operator actuates). The watermark is epoch-id-based, not
    mtime-based, because epoch ids are the unit the replay guarantee
    is stated in: a crash-replayed epoch REWRITES its own partition,
    so vacuuming any epoch at or above the checkpoint's frontier could
    race a replay — callers pass a frontier their checkpoint has
    committed past.

    Hadoop-FS-correct and loud on failure like the sibling maintenance
    ops (a false delete means retained data was reported vacuumed).
    Returns the audit frame (epoch, action): 'deleted' per vacuumed
    epoch — idempotent: a second run reports nothing.

    If the sink carries a ``_LATEST`` pointer (the report sinks written
    through ``streaming/drift.publish_epoch_report``, including the
    append-only audit trails), the frontier is CAPPED at the pointed-to
    epoch: a frontier above it would delete the very directory
    ``read_report`` resolves, turning a retention-policy mistake into a
    broken reader. The cap is reported as a ``'pinned:_LATEST'`` row so
    the caller sees the policy was overridden rather than silently
    honored.
    """
    fs, latest = _fs_path(spark, os.path.join(path, "_LATEST"))
    report = []
    if fs.isFile(latest):
        stream = fs.open(latest)
        try:
            jio = spark._jvm.java.io
            reader = jio.BufferedReader(jio.InputStreamReader(stream, "UTF-8"))
            pointed = (reader.readLine() or "").strip()
        finally:
            stream.close()
        if pointed.startswith("epoch="):
            try:
                pointed_epoch = int(pointed.split("=", 1)[1])
            except ValueError:
                pointed_epoch = None
            if pointed_epoch is not None and retain_from_epoch > pointed_epoch:
                retain_from_epoch = pointed_epoch
                report.append((pointed_epoch, "pinned:_LATEST"))
    for st in list_status(spark, path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("epoch=")):
            continue
        try:
            epoch = int(name.split("=", 1)[1])
        except ValueError:
            # not one of our integer epochs (e.g. a hive null
            # partition) — never delete what we can't order
            continue
        if epoch < retain_from_epoch:
            delete(spark, os.path.join(path, name))
            report.append((epoch, "deleted"))
    return spark.createDataFrame(report, "epoch long, action string")
