"""SCD-1 partition-scoped upsert + SCD-2 history (sources/merge.py):
merge correctness, partition-scoping (untouched partitions' files not
rewritten), replay idempotency, and history invariants."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.sources import layout, merge


def _seed_partitioned(spark, sf_dir, out):
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    return docs


def _files_mtimes(out, lang):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(out, f"lang={lang}", "*"))
        if not os.path.basename(f).startswith(("_", "."))
    }


def test_upsert_replaces_and_inserts_only_in_touched_partitions(
    spark, sf_dir, tmp_path
):
    out = str(tmp_path / "docs_scd1")
    docs = _seed_partitioned(spark, sf_dir, out)
    langs = sorted(r.lang for r in docs.select("lang").distinct().collect())
    touched, untouched = langs[0], langs[1]
    before_untouched = _files_mtimes(out, untouched)

    victim = docs.where(F.col("lang") == touched).limit(1).collect()[0]
    updates = spark.createDataFrame(
        [
            (victim.doc_id, "REWRITTEN", 9, victim.source, touched),
            (99_000_001, "BRAND NEW", 9, "srcN", touched),
        ],
        "doc_id long, text string, n_chars long, source string, lang string",
    )
    n_before = docs.count()
    report = merge.upsert_partitioned(spark, out, updates, "doc_id", "lang").collect()[0]
    assert report.partitions_touched == 1
    assert report.rows_upserted == 2
    assert report.rows_replaced == 1

    after = spark.read.parquet(out)
    assert after.count() == n_before + 1
    got = {r.doc_id: r.text for r in after.where(
        F.col("doc_id").isin(victim.doc_id, 99_000_001)).collect()}
    assert got[victim.doc_id] == "REWRITTEN"
    assert got[99_000_001] == "BRAND NEW"
    # untouched partition's files were not rewritten
    assert _files_mtimes(out, untouched) == before_untouched


def test_upsert_replay_is_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "docs_scd1_replay")
    docs = _seed_partitioned(spark, sf_dir, out)
    lang = docs.select("lang").distinct().limit(1).collect()[0].lang
    updates = spark.createDataFrame(
        [(99_000_002, "NEW", 3, "srcN", lang)],
        "doc_id long, text string, n_chars long, source string, lang string",
    )
    merge.upsert_partitioned(spark, out, updates, "doc_id", "lang")
    once = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    merge.upsert_partitioned(spark, out, updates, "doc_id", "lang")
    twice = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    assert once == twice


def test_scd2_closes_and_versions(spark):
    base = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "cust long, tier string"
    )
    hist = merge.scd2_init(base, "2024-01-01")
    updates = spark.createDataFrame([(1, "platinum")], "cust long, tier string")
    out = merge.scd2_apply(hist, updates, "cust", "2024-02-01")
    rows = sorted(
        (r.cust, r.tier, r.is_current, str(r.valid_to)) for r in out.collect()
    )
    assert rows == [
        (1, "gold", 0, "2024-02-01 00:00:00"),
        (1, "platinum", 1, "None"),
        (2, "silver", 1, "None"),
    ]
    # second batch: versions stack, exactly one current row per key
    out2 = merge.scd2_apply(
        out, spark.createDataFrame([(1, "gold")], "cust long, tier string"),
        "cust", "2024-03-01",
    )
    per_key = out2.groupBy("cust").agg(
        F.sum("is_current").alias("n_cur"), F.count("*").alias("n")
    ).collect()
    assert all(r.n_cur == 1 for r in per_key)
    assert {r.cust: r.n for r in per_key} == {1: 3, 2: 1}
    # closed intervals chain: valid_to of one version == valid_from of next
    v1 = sorted(
        (str(r.valid_from), str(r.valid_to))
        for r in out2.where("cust = 1").collect()
    )
    assert v1 == [
        ("2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        ("2024-02-01 00:00:00", "2024-03-01 00:00:00"),
        ("2024-03-01 00:00:00", "None"),
    ]


def test_scd2_null_is_current_rows_pass_through(spark):
    """Externally-sourced history can carry NULL is_current; the
    current/rest split must be null-safe so such rows are passed
    through untouched instead of failing both `== 1` and `!= 1` and
    silently vanishing (ADVICE r5)."""
    hist = spark.createDataFrame(
        [
            (1, "gold", "2024-01-01 00:00:00", None, 1),
            (1, "bronze", "2023-01-01 00:00:00", "2024-01-01 00:00:00", 0),
            (2, "silver", "2024-01-01 00:00:00", None, None),
        ],
        "cust long, tier string, valid_from string, valid_to string, "
        "is_current int",
    ).select(
        "cust", "tier",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    updates = spark.createDataFrame([(1, "platinum")], "cust long, tier string")
    out = merge.scd2_apply(hist, updates, "cust", "2024-02-01").collect()
    assert len(out) == 4  # closed + new for cust 1, bronze, NULL row kept
    null_rows = [r for r in out if r.is_current is None]
    assert [(r.cust, r.tier) for r in null_rows] == [(2, "silver")]


def test_scd2_batch_join_broadcasts(spark):
    base = spark.createDataFrame(
        [(i, "t") for i in range(100)], "cust long, tier string"
    )
    hist = merge.scd2_init(base, "2024-01-01")
    updates = spark.createDataFrame([(1, "x")], "cust long, tier string")
    out = merge.scd2_apply(hist, updates, "cust", "2024-02-01")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_upsert_rejects_null_partition(spark, sf_dir, tmp_path):
    out = str(tmp_path / "docs_nullpart")
    _seed_partitioned(spark, sf_dir, out)
    updates = spark.createDataFrame(
        [(1, "x", 1, "s", None)],
        "doc_id long, text string, n_chars long, source string, lang string",
    )
    import pytest

    with pytest.raises(ValueError):
        merge.upsert_partitioned(spark, out, updates, "doc_id", "lang")


def test_duplicate_key_batches_are_rejected(spark, sf_dir, tmp_path):
    """A batch with two rows for one key has no well-defined merge
    order: both upsert and SCD-2 must refuse it rather than fan out
    (two current rows / doubled history)."""
    import pytest

    out = str(tmp_path / "docs_dupkey")
    _seed_partitioned(spark, sf_dir, out)
    lang = (
        spark.read.parquet(out).select("lang").distinct().limit(1)
        .collect()[0].lang
    )
    dup = spark.createDataFrame(
        [(7, "a", 1, "s", lang), (7, "b", 1, "s", lang)],
        "doc_id long, text string, n_chars long, source string, lang string",
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge.upsert_partitioned(spark, out, dup, "doc_id", "lang")

    hist = merge.scd2_init(
        spark.createDataFrame([(7, "x")], "cust long, tier string"),
        "2024-01-01",
    )
    dup2 = spark.createDataFrame(
        [(7, "y"), (7, "z")], "cust long, tier string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge.scd2_apply(hist, dup2, "cust", "2024-02-01")


def test_upsert_recovers_from_crash_mid_swap(spark, tmp_path):
    """Simulate every distinct crash state of the staged-swap commit
    and assert a re-run of the same batch converges to the correct
    merged table: (a) live dir renamed away but stage not yet swapped
    in (the only copy of survivors is the old dir — must be RESTORED,
    never GC'd), (b) stage root left behind after a completed swap."""
    import os

    path = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "k int, p string, v int"
    )
    base.write.partitionBy("p").parquet(path)
    updates = spark.createDataFrame(
        [(2, "a", 99), (4, "a", 40)], "k int, p string, v int"
    )

    # Crash state (a): live p=a renamed to the old name, no swap yet.
    live = os.path.join(path, "p=a")
    os.rename(live, layout.swap_paths(live)[1])
    merge.upsert_partitioned(spark, path, updates, key="k",
                             partition_col="p")
    got = {
        (r.k, r.p, r.v)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a", 10), (2, "a", 99), (3, "b", 30), (4, "a", 40)}

    # Crash state (b): stage root left behind with stale content.
    stale = spark.createDataFrame([(9, "a", 900)], "k int, p string, v int")
    stage_root = layout.swap_paths(path)[0]
    stale.write.partitionBy("p").parquet(stage_root)
    merge.upsert_partitioned(spark, path, updates, key="k",
                             partition_col="p")
    got = {
        (r.k, r.p, r.v)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a", 10), (2, "a", 99), (3, "b", 30), (4, "a", 40)}
    assert not os.path.exists(stage_root)
