"""Fragment-check-on-ingest (streaming/fragment_ingest.py) and its
batch form (text/dedup.py::fragment_pairs_incremental): oracle
parity, stream-equals-batch across epoch slicings and an injected
crash-replay, and the frozen-df losslessness the design rests on."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.streaming import fragment_ingest as fi
from customer_churn_prediction_spark.text import dedup

from .conftest import CrashOnce, drain_to_exception as _drain
from .oracle_utils import assert_matches_oracle


def _fresh_stores(spark, sf_dir):
    from customer_churn_prediction_spark.sources.writers import sf_tag

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    )
    for table in (
        f"corpus_grams_{sf_tag(sf_dir)}",
        f"corpus_gram_df_{sf_tag(sf_dir)}",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(
            warehouse.removeprefix("file:") + f"/{table}",
            ignore_errors=True,
        )


def _new_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % dedup.INCREMENTAL_MOD)
        >= dedup.INCREMENTAL_NEW_RESIDUE
    )


def _rows(df):
    return sorted(
        map(tuple, df.select("doc_id", "dup_of", "containment").collect())
    )


def test_fragments_incremental_oracle_parity(spark, sf_dir):
    assert_matches_oracle(
        dedup.fragment_pairs_incremental(spark, sf_dir),
        dedup.STAGED_ORACLES["dedup_fragments_incremental"],
        sf_dir,
    )


def test_fragments_are_asymmetric_and_directed(spark, sf_dir):
    rows = dedup.fragment_pairs_incremental(spark, sf_dir).collect()
    assert rows, "fixture must contain contained new docs"
    new_ids = {r.doc_id for r in _new_docs(spark, sf_dir).collect()}
    for r in rows:
        assert r.doc_id in new_ids        # contained side is the drop
        assert r.dup_of not in new_ids    # container is at-rest corpus
        assert r.containment >= dedup.CONTAINMENT_THRESHOLD
    # best-match: exactly one container per flagged new doc
    assert len({r.doc_id for r in rows}) == len(rows)


def test_fragment_stream_equals_batch_form(spark, sf_dir, tmp_path):
    """Two arrival files = two epochs under availableNow; candidates
    only pair a new doc with the corpus, so the union of per-epoch
    drop-lists equals the batch form however ingestion is sliced."""
    _fresh_stores(spark, sf_dir)
    new_docs = _new_docs(spark, sf_dir)
    stream_dir = str(tmp_path / "arrivals")
    half = F.col("doc_id") % 2 == 0
    new_docs.where(half).coalesce(1).write.mode("overwrite").parquet(
        stream_dir
    )
    new_docs.where(~half).coalesce(1).write.mode("append").parquet(
        stream_dir
    )

    out_dir = str(tmp_path / "droplist")
    q = fi.fragment_ingest_stream(
        spark, sf_dir, stream_dir, out_dir,
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(180), "availableNow drain timed out"
    assert q.exception() is None

    got = _rows(spark.read.parquet(out_dir))
    want = _rows(dedup.fragment_pairs_incremental(spark, sf_dir))
    assert got == want and len(got) > 0


def test_fragment_stream_crash_replay_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """Crash after the sink write, before the offset commit: the
    recovery run must overwrite the replayed epoch's own partition —
    no duplicates, final drop-list equals batch."""
    _fresh_stores(spark, sf_dir)
    new_docs = _new_docs(spark, sf_dir)
    stream_dir = str(tmp_path / "arrivals")
    half = F.col("doc_id") % 2 == 0
    new_docs.where(half).coalesce(1).write.mode("overwrite").parquet(
        stream_dir
    )
    new_docs.where(~half).coalesce(1).write.mode("append").parquet(
        stream_dir
    )
    out_dir = str(tmp_path / "droplist")

    crash = CrashOnce(at_epoch=0)
    q = fi.fragment_ingest_stream(
        spark, sf_dir, stream_dir, out_dir,
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        fault=crash,
    )
    assert _drain(q) is not None, "fault must abort the first run"
    assert crash.fired

    q2 = fi.fragment_ingest_stream(
        spark, sf_dir, stream_dir, out_dir,
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        query_name="fragment_ingest_recovery",
    )
    assert q2.awaitTermination(180), "recovery drain timed out"
    assert q2.exception() is None

    got = spark.read.parquet(out_dir)
    assert _rows(got) == _rows(
        dedup.fragment_pairs_incremental(spark, sf_dir)
    )
    # one row per flagged doc even across the replayed epoch
    assert got.count() == got.select("doc_id").distinct().count()


def test_prefix_losslessness_under_stale_df(spark, sf_dir):
    """The design's load-bearing claim: the prefix filter stays EXACT
    under ANY df ranking (pigeonhole over any floor((1-τ)n)+1 grams),
    so a frozen/stale snapshot changes candidate volume, never the
    answer. Rank the new docs' grams by a deliberately WRONG df table
    (constant 1 for every gram) and assert the verified best-match
    output is unchanged."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_new = (
        F.col("doc_id") % dedup.INCREMENTAL_MOD
    ) >= dedup.INCREMENTAL_NEW_RESIDUE
    new_sh = dedup._gram_rows(d.where(is_new))
    cor_sh = dedup._gram_rows(d.where(~is_new))
    stale_df = new_sh.select("shingle").distinct().withColumn(
        "df", F.lit(1)
    )
    cands = dedup._fragment_candidates(new_sh, stale_df, cor_sh)
    got = _rows(dedup._containment_best_match(d, cands))
    want = _rows(dedup.fragment_pairs_incremental(spark, sf_dir))
    assert got == want and len(got) > 0
