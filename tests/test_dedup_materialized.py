"""Materialized corpus-bands incremental dedup: the continual-ingestion
story as a tested plan, not prose.

Two claims: (1) the materialized form computes exactly the inline
form's relation; (2) the corpus side of the candidate join is a
bucketed-table scan with ZERO Exchange — re-crawl dedup never
re-hashes or re-shuffles the at-rest corpus.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.sources.writers import sf_tag
from customer_churn_prediction_spark.text import dedup


def _fresh_ingest(spark, sf_dir):
    table = f"corpus_bands_{sf_tag(sf_dir)}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(
        warehouse.removeprefix("file:") + f"/{table}", ignore_errors=True
    )
    return dedup.corpus_bands_ingest(spark, sf_dir)


def test_materialized_matches_inline(spark, sf_dir):
    """Same (doc_id, dup_of, jaccard) rows as the inline corpus pass."""
    _fresh_ingest(spark, sf_dir)
    got = dedup.dedup_incremental_materialized(spark, sf_dir)
    want = dedup.dedup_incremental(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_corpus_bands_table_matches_inline_bands(spark, sf_smoke):
    """The at-rest band rows are exactly the inline corpus-side bands."""
    tbl = _fresh_ingest(spark, sf_smoke)
    d = load_table(spark, sf_smoke, "documents")
    corpus = d.where(
        (F.col("doc_id") % dedup.INCREMENTAL_MOD)
        < dedup.INCREMENTAL_NEW_RESIDUE
    )
    inline = dedup._bands_from(corpus).select(
        "doc_id", dedup._band_key().alias("band_key")
    )
    assert sorted(map(tuple, tbl.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_corpus_side_joins_with_zero_exchange(spark, sf_smoke):
    """The candidate join reads the bucketed band table scan-only: the
    ONLY shuffle in the join plan is the batch side being partitioned
    into the table's bucket layout. (Broadcast is disabled so the plan
    shows the sort-merge shape a 100 TB re-crawl uses; at that scale
    neither side is broadcastable.)"""
    corpus = _fresh_ingest(spark, sf_smoke)
    d = load_table(spark, sf_smoke, "documents")
    is_new = (
        F.col("doc_id") % dedup.INCREMENTAL_MOD
    ) >= dedup.INCREMENTAL_NEW_RESIDUE
    batch = dedup._bands_from(d.where(is_new)).select(
        "doc_id", dedup._band_key().alias("band_key")
    )
    joined = batch.alias("n").join(corpus.alias("c"), "band_key")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    # Bucketed scan actually engaged on the corpus side.
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    # Exactly one shuffle: the batch side. A second Exchange would mean
    # the planner re-shuffled the at-rest corpus.
    assert plan.count("Exchange hashpartitioning") == 1, plan
