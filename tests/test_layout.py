"""Layout + compaction (sources/layout.py): partition pruning and
row-group skipping asserted from EXECUTED scan metrics, compaction
correctness/idempotency from real file listings."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.sources import layout


def _files(path: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith(("_", "."))
    ]


def test_lang_filter_prunes_files_in_executed_scan(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus_layout")
    docs = load_table(spark, sf_dir, "documents")
    layout.write_corpus_layout(docs, out)
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    assert len(langs) > 1
    total_files = len(_files(out))

    one = spark.read.parquet(out).where(F.col("lang") == langs[0])
    m = layout.scan_metrics(one)
    assert 0 < m["numFiles"] < total_files
    # and the result is exactly that language's rows
    expected = docs.where(F.col("lang") == langs[0]).count()
    assert m["numOutputRows"] == expected


def test_range_layout_sorts_within_files(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions must leave each file
    internally sorted by n_chars with near-disjoint ranges — the
    precondition for parquet min/max skipping on length predicates."""
    out = str(tmp_path / "corpus_layout2")
    docs = load_table(spark, sf_dir, "documents")
    layout.write_corpus_layout(docs, out)
    # pick one partition dir with >1 file
    part_dirs = [
        d for d in glob.glob(os.path.join(out, "lang=*")) if os.path.isdir(d)
    ]
    checked = 0
    for d in part_dirs:
        for f in _files(d):
            vals = [r.n_chars for r in spark.read.parquet(f).collect()]
            assert vals == sorted(vals), f
            checked += 1
    assert checked >= len(part_dirs)


def test_length_predicate_is_pushed_to_scan(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus_layout3")
    layout.write_corpus_layout(load_table(spark, sf_dir, "documents"), out)
    q = spark.read.parquet(out).where(
        (F.col("lang") == "en") & (F.col("n_chars") > 200)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(n_chars" in plan
    assert "PartitionFilters" in plan


def test_compaction_binpacks_only_fragmented_partitions(spark, sf_dir, tmp_path):
    out = str(tmp_path / "fragmented")
    docs = load_table(spark, sf_dir, "documents")
    # simulate micro-batch ingest: 12 files per partition
    docs.repartition(12).write.mode("overwrite").partitionBy("lang").parquet(out)
    before = spark.read.parquet(out)
    before_rows = before.count()
    before_files = len(_files(out))

    report = layout.compact_partitions(spark, out, target_bytes=64 * 1024 * 1024)
    rows = {r.partition: r for r in report.collect()}
    assert rows, "no partitions reported"
    after_files = len(_files(out))
    assert after_files < before_files
    for r in rows.values():
        assert r.files_after <= r.files_before
        assert r.files_after >= 1

    # data unchanged (content equality incl. the partition column)
    after = spark.read.parquet(out)
    assert after.count() == before_rows
    assert (
        after.groupBy("lang").count().orderBy("lang").collect()
        == load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .orderBy("lang")
        .collect()
    )

    # idempotent: second run touches nothing
    report2 = layout.compact_partitions(spark, out, target_bytes=64 * 1024 * 1024)
    for r in report2.collect():
        assert r.files_before == r.files_after
    assert len(_files(out)) == after_files


def test_compaction_leaves_compact_partitions_alone(spark, sf_dir, tmp_path):
    out = str(tmp_path / "already_compact")
    load_table(spark, sf_dir, "documents").coalesce(1).write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(out)
    files_before = sorted(_files(out))
    mtimes = {f: os.path.getmtime(f) for f in files_before}
    layout.compact_partitions(spark, out, target_bytes=64 * 1024 * 1024)
    files_after = sorted(_files(out))
    assert files_after == files_before
    assert all(os.path.getmtime(f) == mtimes[f] for f in files_after)


def test_zorder_layout_prunes_on_both_dims_via_footers(spark, sf_dir, tmp_path):
    """Z-order vs single-column sort, judged by the REAL parquet
    footer stats (what any min/max pruner consults): under Z-order a
    narrow predicate on EITHER dimension overlaps a fraction of the
    files; under a price-only sort the date predicate overlaps ~all
    files."""
    import datetime as dt

    import pyarrow.parquet as pa_pq

    orders = load_table(spark, sf_dir, "orders")
    zdir = str(tmp_path / "orders_z")
    sdir = str(tmp_path / "orders_pricesort")
    bucket_date = F.floor(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        / 16
    )
    # comparable resolution on both dims (see zorder_key docstring):
    # dates span ~150 16-day buckets, prices ~250 2000-unit buckets.
    bucket_price = F.least(F.floor(F.col("o_totalprice") / 2000), F.lit(255))
    layout.write_zorder_layout(orders, zdir, bucket_date, bucket_price)
    (
        orders.repartitionByRange(16, F.col("o_totalprice"))
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    def overlap_counts(d, date_lo, date_hi, price_lo, price_hi):
        files = _files(d)
        date_hits = price_hits = 0
        for f in files:
            md = pa_pq.ParquetFile(f).metadata
            dmin = dmax = pmin = pmax = None
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    st = col.statistics
                    if st is None:
                        continue
                    name = col.path_in_schema
                    if name == "o_orderdate":
                        dmin = st.min if dmin is None else min(dmin, st.min)
                        dmax = st.max if dmax is None else max(dmax, st.max)
                    if name == "o_totalprice":
                        pmin = st.min if pmin is None else min(pmin, st.min)
                        pmax = st.max if pmax is None else max(pmax, st.max)
            if dmin is not None and not (dmax < date_lo or dmin > date_hi):
                date_hits += 1
            if pmin is not None and not (pmax < price_lo or pmin > price_hi):
                price_hits += 1
        return len(files), date_hits, price_hits

    date_lo = dt.datetime(1996, 6, 1)
    date_hi = dt.datetime(1996, 7, 1)
    n_z, z_date, z_price = overlap_counts(zdir, date_lo, date_hi, 0.0, 50000.0)
    n_s, s_date, s_price = overlap_counts(sdir, date_lo, date_hi, 0.0, 50000.0)
    assert n_z > 4 and n_s > 4
    # Z-order: both dimensions prune.
    assert z_date < n_z * 0.7, (z_date, n_z)
    assert z_price < n_z * 0.7, (z_price, n_z)
    # Price sort: price prunes hard, the date predicate cannot.
    assert s_price < n_s * 0.5
    assert s_date > z_date
    # same rows either way
    assert (
        spark.read.parquet(zdir).count()
        == spark.read.parquet(sdir).count()
        == orders.count()
    )


def test_zorder_key_is_monotone_in_locality(spark):
    """Adjacent (a, b) cells must map to nearby keys: the key of
    (a, b) differs from (a, b+1) in low bits only when b+1 doesn't
    carry — spot-check the classic Morton values."""
    rows = spark.range(1).select(
        layout.zorder_key(F.lit(0), F.lit(0)).alias("k00"),
        layout.zorder_key(F.lit(0), F.lit(1)).alias("k01"),
        layout.zorder_key(F.lit(1), F.lit(0)).alias("k10"),
        layout.zorder_key(F.lit(1), F.lit(1)).alias("k11"),
        layout.zorder_key(F.lit(2), F.lit(3)).alias("k23"),
    ).collect()[0]
    assert (rows.k00, rows.k01, rows.k10, rows.k11) == (0, 1, 2, 3)
    # interleave(a=10₂ at odd bits, b=11₂ at even bits) = 1101₂
    assert rows.k23 == 0b1101


def test_staging_dirs_invisible_to_readers_and_gcd(spark, sf_dir, tmp_path):
    """Mid-rewrite staging must be invisible: a dot-prefixed staged
    copy of a partition is ignored by spark.read (no double counting),
    and a leftover old-dir from a crashed run is GC'd by the next run
    without being mistaken for a fragmented partition."""
    out = str(tmp_path / "staging_vis")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    n = spark.read.parquet(out).count()
    parts = sorted(
        os.path.basename(d) for d in glob.glob(os.path.join(out, "lang=*"))
    )
    live = os.path.join(out, parts[0])
    stage, old = layout.swap_paths(live)
    # simulate a crash: staged copy + old copy both left behind
    import shutil

    shutil.copytree(live, stage)
    shutil.copytree(live, old)
    # readers do not see the staged copies
    assert spark.read.parquet(out).count() == n
    # next compaction run GCs them and reports only real partitions
    report = layout.compact_partitions(spark, out, target_bytes=64 * 1024 * 1024)
    assert not os.path.exists(stage)
    assert not os.path.exists(old)
    assert sorted(r.partition for r in report.collect()) == parts
    assert spark.read.parquet(out).count() == n


def test_compaction_restores_partition_lost_between_swap_renames(
    spark, sf_dir, tmp_path
):
    """Crash point BETWEEN the two swap renames: the live partition
    dir is gone and its only copy is the swap's old sibling. The next run
    must RESTORE old -> live, never GC it (review r6: the previous GC
    deleted the only copy — silent data loss)."""
    out = str(tmp_path / "crash_mid_swap")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    n = spark.read.parquet(out).count()
    live = glob.glob(os.path.join(out, "lang=*"))[0]
    old = layout.swap_paths(live)[1]
    # simulate: rename(live -> old) happened, crash before stage -> live
    os.rename(live, old)
    assert spark.read.parquet(out).count() < n  # partition is dark
    layout.compact_partitions(spark, out, target_bytes=64 * 1024 * 1024)
    # restored and visible again, staging gone, zero rows lost
    assert os.path.isdir(live)
    assert not os.path.exists(old)
    assert spark.read.parquet(out).count() == n


def test_scan_metrics_handles_aqe_wrapped_plans(spark, sf_dir):
    """An aggregate above the scan wraps the plan in
    AdaptiveSparkPlanExec; scan_metrics must hop into the adaptive
    subtree instead of silently returning nothing."""
    df = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
    )
    m = layout.scan_metrics(df)
    assert m["numOutputRows"] > 0


def test_zorder_key_properties(spark):
    """Morton-key properties over a sampled bucket domain: bijective
    (distinct cells -> distinct keys), bounded by 2^(2*bits), clamped
    out-of-range inputs equal their clamped twins (no sign-extension
    scrambling), and exactly invertible by bit de-interleave."""
    rows = spark.range(0, 64).select(
        (F.col("id") % 8).alias("a"), (F.col("id") / 8).cast("long").alias("b")
    )
    keyed = rows.select(
        "a", "b", layout.zorder_key(F.col("a"), F.col("b"), bits=3).alias("k")
    ).collect()
    keys = [r.k for r in keyed]
    assert len(set(keys)) == 64
    assert all(0 <= k < 64 for k in keys)
    for r in keyed:
        a = sum(((r.k >> (2 * i + 1)) & 1) << i for i in range(3))
        b = sum(((r.k >> (2 * i)) & 1) << i for i in range(3))
        assert (a, b) == (r.a, r.b)
    # clamping: negative and overflowing buckets key like their clamps
    edge = spark.range(1).select(
        layout.zorder_key(F.lit(-5), F.lit(99), bits=3).alias("k_oob"),
        layout.zorder_key(F.lit(0), F.lit(7), bits=3).alias("k_clamped"),
    ).collect()[0]
    assert edge.k_oob == edge.k_clamped


def test_vacuum_epochs_drops_only_below_watermark(spark, tmp_path):
    """Epoch retention on an exactly-once sink layout: epochs below
    the committed frontier are vacuumed, the frontier and everything
    newer survives byte-identically, non-epoch paths are untouched,
    and a re-run is an idempotent no-op."""
    sink = str(tmp_path / "scores")
    for e in range(5):
        spark.range(3).withColumn("epoch", F.lit(e)).write.mode(
            "append"
        ).partitionBy("epoch").parquet(sink)
    # a non-epoch sibling (checkpoint-ish dir) must not be touched
    os.makedirs(os.path.join(sink, "_state"), exist_ok=True)

    r1 = layout.vacuum_epochs(spark, sink, retain_from_epoch=3)
    assert sorted(r.epoch for r in r1.collect()) == [0, 1, 2]
    kept = spark.read.parquet(sink)
    assert sorted(
        r.epoch for r in kept.select("epoch").distinct().collect()
    ) == [3, 4]
    assert kept.count() == 6
    assert os.path.isdir(os.path.join(sink, "_state"))

    r2 = layout.vacuum_epochs(spark, sink, retain_from_epoch=3)
    assert r2.count() == 0


def test_vacuum_epochs_never_deletes_the_latest_pointer_target(
    spark, tmp_path
):
    """A report sink (publish_epoch_report layout) carries a _LATEST
    pointer; a retention frontier above the pointed-to epoch would
    delete the directory read_report resolves. The frontier must be
    capped at the pointer, with a 'pinned:_LATEST' audit row showing
    the policy was overridden rather than silently honored."""
    sink = str(tmp_path / "audit")
    for e in range(5):
        spark.range(2).withColumn("epoch", F.lit(e)).write.mode(
            "append"
        ).partitionBy("epoch").parquet(sink)
    with open(os.path.join(sink, "_LATEST"), "w") as f:
        f.write("epoch=2")

    r = layout.vacuum_epochs(spark, sink, retain_from_epoch=4)
    actions = {r_.epoch: r_.action for r_ in r.collect()}
    assert actions == {0: "deleted", 1: "deleted", 2: "pinned:_LATEST"}
    kept = spark.read.parquet(sink)
    assert sorted(
        x.epoch for x in kept.select("epoch").distinct().collect()
    ) == [2, 3, 4]
    # the pointer still resolves to an existing directory
    assert os.path.isdir(os.path.join(sink, "epoch=2"))
    # a frontier at or below the pointer is unaffected by the cap
    r2 = layout.vacuum_epochs(spark, sink, retain_from_epoch=2)
    assert r2.count() == 0


# Modules under streaming/ and sources/ that may still touch the local
# filesystem directly, each with its reason. Everything else reaches
# storage through the Hadoop FileSystem of the path (layout.exists /
# list_status / rename / delete), so a file://, hdfs:// or s3a://
# store behaves like a plain local path.
_LOCAL_FS_ALLOWED = {
    # the TFRecord codecs write and finalize their own local part
    # files outside Spark's writer
    "sources/tfrecord.py": "local TFRecord part-file codec",
    "sources/tfrecord_datasource.py": "local TFRecord datasource writer",
    # the _LATEST report pointers need an atomic replace, which the
    # Hadoop FileSystem API does not give on every filesystem
    "streaming/drift.py": "_LATEST report pointer",
    "streaming/sketch.py": "_LATEST report pointer (_prev_candidates)",
}

_LOCAL_FS_CALLS = {
    "os.rename", "os.remove", "os.listdir", "os.path.isdir",
    "os.path.exists", "shutil.rmtree",
}


def test_store_code_uses_only_the_hadoop_filesystem_api():
    """No module under ``streaming/`` or ``sources/`` outside the
    allow-list calls the local filesystem for an existence check,
    listing, rename or delete."""
    import ast

    import customer_churn_prediction_spark as pkg

    root = os.path.dirname(pkg.__file__)
    calls = {}
    for sub in ("streaming", "sources"):
        for path in sorted(glob.glob(os.path.join(root, sub, "*.py"))):
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            calls[rel] = [
                f"{rel}:{node.lineno} {ast.unparse(node.func)}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and ast.unparse(node.func) in _LOCAL_FS_CALLS
            ]
    offenders = [
        c for rel, found in calls.items() if rel not in _LOCAL_FS_ALLOWED
        for c in found
    ]
    assert not offenders, offenders
    # an allow-list entry whose module no longer needs it is stale
    assert all(calls.get(rel) for rel in _LOCAL_FS_ALLOWED), calls
