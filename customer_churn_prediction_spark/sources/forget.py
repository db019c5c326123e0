"""Right-to-be-forgotten propagation across the derived at-rest stores.

A 100 TB training-data deployment keeps MANY copies of every document
beyond the source lake: LSH band rows (`text/dedup.corpus_bands_ingest`),
the int8 vector store (`similarity/ann.int8_store_ingest`), the IVF
inverted lists (`similarity/ann.ivf_lists_ingest`), and the IVF-PQ code
table (`similarity/pq.ivf_pq_store_ingest`). A compliance deletion
(GDPR/CCPA erasure, licensing takedown, contamination removal) is only
complete when every derived copy is gone too — and rebuilding each
store from scratch per deletion batch is exactly the O(corpus) cost the
at-rest layouts exist to avoid.

This module deletes by LAYOUT:

- **Hive-partitioned stores** (IVF lists, IVF-PQ codes — partitioned by
  ``centroid_id``): the ids' cells are found with a partition-pruned
  scan, survivors of ONLY those cells are rewritten via dynamic
  partition overwrite, and a cell left empty has its partition
  directory removed outright (dynamic overwrite cannot express "this
  partition now has zero rows"). Cost: O(touched cells), not O(store).
- **Bucketed / flat stores** (corpus bands, int8 store): rows are not
  clustered by document, so the honest cost is a full filtered rewrite
  — staged to a sibling then swapped, because Spark (correctly) refuses
  to overwrite a table from a plan that reads it. At scale this is why
  deletions are BATCHED: one rewrite amortizes any number of queued
  erasure requests, and the band/int8 stores are orders of magnitude
  smaller than the corpus text.

Deleting from the SOURCE parquet is the lake's move (see
``sources/merge.upsert_partitioned`` for owned tables); model artifacts
trained on forgotten data are a retraining decision, not a row
deletion — both are documented contract boundaries, not gaps.

**Erasure is durable across rebuilds.** Every derived store here is a
cache of the source lake, and a rebuild (fresh session catalog,
post-crash recovery) re-materializes from a source that may still hold
the rows — which would silently UNDO an attested erasure. So every
erasure batch is first recorded in a persisted per-tag ledger
(``erasure_ledger_{tag}`` parquet under the warehouse root, written,
read and compacted by the rewrite layer's one ledger —
``layout.append_ledger`` / ``read_ledger`` / ``compact_ledger``, the
same set behind the streaming stores' ledgers), and
``writers.managed_ingest`` calls :func:`scrub_rebuilt_store` after any
rebuild to re-apply the ledgered ids to the freshly built store. The
ledger is written BEFORE the store deletes (write-ahead): a crash
mid-erasure leaves the ids recorded, and the replayed batch (or the
next rebuild's scrub) converges the stores. :func:`reapply_erasure_ledger`
is the manual recovery form covering all stores at once.

Every existence check and delete goes through the rewrite layer's
filesystem API (``sources/layout``), so the erasure paths are
object-store/HDFS-correct and a delete that fails aborts loudly
instead of reporting rows forgotten that survived.

Every function returns the audit report frame a compliance workflow
records: (store, layout, partitions_touched, rows_before, rows_after).
Idempotent: re-running with the same ids touches nothing and reports
zero forgotten rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import append_ledger, compact_ledger, delete, read_ledger
from .writers import sf_tag, warehouse_store, write_bucketed

_REPORT_SCHEMA = (
    "store string, layout string, partitions_touched int, "
    "rows_before long, rows_after long"
)

_LEDGER_SCHEMA = "kind string, id long"

# Derived stores a rebuild can re-materialize: name prefix -> (request
# kind, layout spec scrub_rebuilt_store replays the erasure with).
_DERIVED_STORES = (
    ("ivf_lists_", "vector", {"id_col": "vec_id", "layout": "partitioned"}),
    ("ivf_pq_store_", "vector", {"id_col": "vec_id", "layout": "partitioned"}),
    ("int8_store_", "vector", {"id_col": "vec_id", "layout": "flat"}),
    ("corpus_bands_", "document", {"id_col": "doc_id", "layout": "bucketed"}),
)


def _ledger_path(tag: str) -> str:
    return os.path.join(warehouse_store(), f"erasure_ledger_{tag}")


def _record_erasure(spark: SparkSession, tag: str, kind: str,
                    ids: list[int]) -> None:
    """Write-ahead ``layout.append_ledger`` of one erasure batch."""
    append_ledger(
        spark, _ledger_path(tag), _LEDGER_SCHEMA,
        [(kind, int(i)) for i in ids],
    )


def read_erasure_ledger(spark: SparkSession, tag: str) -> DataFrame:
    """Distinct (kind, id) rows ever erased for this fixture tag; empty
    frame when no erasure has been recorded."""
    return read_ledger(spark, _ledger_path(tag), _LEDGER_SCHEMA)


def compact_erasure_ledger(spark: SparkSession, tag: str) -> tuple[int, int]:
    """``layout.compact_ledger`` of the per-tag batch ledger."""
    return compact_ledger(spark, _ledger_path(tag), _LEDGER_SCHEMA)


def scrub_rebuilt_store(spark: SparkSession, table: str) -> None:
    """Re-apply the persisted erasure ledger to a freshly REBUILT
    derived store (called by ``writers.managed_ingest`` right after its
    ``write_fn``): a rebuild reads the source lake, which may legally
    still contain rows whose derived copies were erased — without this
    hook the rebuild would resurrect them and silently invalidate the
    audit report that attested the erasure. No-op (one existence check)
    for non-derived tables and when no ledger exists."""
    for prefix, kind, spec in _DERIVED_STORES:
        if table.startswith(prefix):
            tag = table[len(prefix):]
            break
    else:
        return
    ledger = read_erasure_ledger(spark, tag)
    ids = sorted(
        int(r.id) for r in ledger.where(F.col("kind") == kind).collect()
    )
    if not ids:
        return
    if spec["layout"] == "partitioned":
        _forget_partitioned(spark, table, spec["id_col"], ids)
    elif spec["layout"] == "bucketed":
        from ..text.dedup import CORPUS_BANDS_BUCKETS

        _forget_full_rewrite(
            spark, table, spec["id_col"], ids,
            bucket_col="band_key", n_buckets=CORPUS_BANDS_BUCKETS,
        )
    else:
        _forget_full_rewrite(spark, table, spec["id_col"], ids)


def _overwrite_dynamic(spark: SparkSession, df: DataFrame, table: str) -> None:
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _forget_partitioned(
    spark: SparkSession,
    table: str,
    id_col: str,
    ids: list[int],
    part_col: str = "centroid_id",
) -> tuple[int, int, int]:
    """Partition-scoped delete from a hive-partitioned managed store.
    Returns (partitions_touched, rows_before, rows_after)."""
    store = spark.table(table)
    n_before = store.count()
    hit = (
        store.where(F.col(id_col).isin(ids))
        .select(part_col)
        .distinct()
        .collect()
    )
    cells = [r[0] for r in hit]
    if not cells:
        return 0, n_before, n_before
    touched = store.where(F.col(part_col).isin(cells))
    survivors = touched.where(~F.col(id_col).isin(ids))
    # insertInto matches by position: partition column must come last,
    # which is how spark.table() already orders a partitioned table.
    live_cells = {
        r[0] for r in survivors.select(part_col).distinct().collect()
    }
    if live_cells:
        _overwrite_dynamic(
            spark, survivors.where(F.col(part_col).isin(list(live_cells))),
            table,
        )
    # Cells with no survivors: dynamic overwrite never touches them, so
    # the forgotten rows would survive — drop the partition dir itself.
    for cell in set(cells) - live_cells:
        delete(
            spark,
            os.path.join(warehouse_store(), table, f"{part_col}={cell}"),
        )
    spark.sql(f"REFRESH TABLE {table}")
    return len(cells), n_before, spark.table(table).count()


def _forget_full_rewrite(
    spark: SparkSession,
    table: str,
    id_col: str,
    ids: list[int],
    bucket_col: str | None = None,
    n_buckets: int = 0,
) -> tuple[int, int, int]:
    """Filtered rewrite of a flat or bucketed store, staged to a
    sibling path first (Spark refuses to overwrite a table from a plan
    that reads it — and that refusal is the crash-safety we want: the
    live table stays intact until the staged copy is complete).

    The bucketed path drops the live table before re-bucketing the
    staged survivors; a crash in that window leaves no live table —
    and needs NO recovery code, because every derived store here is a
    cache of the source lake: the next consumer (including a re-run of
    this erasure batch, which ingests before deleting) rebuilds it via
    ``managed_ingest``'s tableExists() trigger and the batch re-deletes
    its ids (crash-state simulated and converged in
    ``tests/test_forget.py::test_forget_documents_self_heals_after_crash_mid_swap``)."""
    store = spark.table(table)
    n_before = store.count()
    if store.where(F.col(id_col).isin(ids)).limit(1).count() == 0:
        return 0, n_before, n_before
    survivors = store.where(~F.col(id_col).isin(ids))
    # NOT dot-prefixed: Spark's file index treats a hidden path
    # component as invisible even when named explicitly, so a dot-dir
    # stage would read back EMPTY and the rewrite would destroy the
    # store (caught by the WARN in the first test run). The stage sits
    # at the warehouse root under its own name — no table reader scans
    # there, so visibility to table scans is not a concern.
    stage = os.path.join(warehouse_store(), f"{table}__forget_stage")
    delete(spark, stage)
    survivors.write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    n_staged = staged.count()
    if n_staged == 0 and n_before > len(ids):
        raise IOError(
            f"staged survivors for {table} read back empty — aborting "
            "before overwriting the live store"
        )
    if bucket_col is not None:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        delete(spark, os.path.join(warehouse_store(), table))
        write_bucketed(
            staged, bucket_col, table, n_buckets,
            path=os.path.join(warehouse_store(), table),
        )
    else:
        staged.write.mode("overwrite").insertInto(table, overwrite=True)
    spark.sql(f"REFRESH TABLE {table}")
    n_after = spark.table(table).count()
    delete(spark, stage)
    return 1, n_before, n_after


def forget_vectors(
    spark: SparkSession, sf_dir: str, vec_ids: list[int],
    record: bool = True,
) -> DataFrame:
    """Erase ``vec_ids`` from every derived vector store (IVF lists,
    IVF-PQ codes, int8 store), ingesting any store that is not yet
    materialized first (erasure must cover stores a later job would
    rebuild from the pre-deletion source only if the source itself is
    already clean — ingest-then-forget keeps the report truthful).
    The batch is ledgered (write-ahead) before any delete so a later
    rebuild re-applies it; ``record=False`` is the ledger-replay path
    (:func:`reapply_erasure_ledger`), which must not re-append."""
    from ..similarity.ann import int8_store_ingest, ivf_lists_ingest
    from ..similarity.pq import ivf_pq_store_ingest

    ivf_lists_ingest(spark, sf_dir)
    ivf_pq_store_ingest(spark, sf_dir)
    int8_store_ingest(spark, sf_dir)
    tag = sf_tag(sf_dir)
    if record:
        _record_erasure(spark, tag, "vector", vec_ids)
    rows = []
    for table, layout in (
        (f"ivf_lists_{tag}", "hive-partitioned"),
        (f"ivf_pq_store_{tag}", "hive-partitioned"),
    ):
        p, b, a = _forget_partitioned(spark, table, "vec_id", vec_ids)
        rows.append((table, layout, p, b, a))
    p, b, a = _forget_full_rewrite(
        spark, f"int8_store_{tag}", "vec_id", vec_ids
    )
    rows.append((f"int8_store_{tag}", "flat", p, b, a))
    return spark.createDataFrame(rows, _REPORT_SCHEMA)


def forget_documents(
    spark: SparkSession, sf_dir: str, doc_ids: list[int],
    record: bool = True,
) -> DataFrame:
    """Erase ``doc_ids``' LSH band rows from the materialized corpus
    bands table, so future incremental-dedup batches can no longer
    collide with (and therefore reconstruct the fingerprints of) the
    forgotten documents. Ledgered like :func:`forget_vectors`."""
    from ..text.dedup import CORPUS_BANDS_BUCKETS, corpus_bands_ingest

    corpus_bands_ingest(spark, sf_dir)
    tag = sf_tag(sf_dir)
    if record:
        _record_erasure(spark, tag, "document", doc_ids)
    table = f"corpus_bands_{tag}"
    p, b, a = _forget_full_rewrite(
        spark, table, "doc_id", doc_ids,
        bucket_col="band_key", n_buckets=CORPUS_BANDS_BUCKETS,
    )
    return spark.createDataFrame(
        [(table, "bucketed", p, b, a)], _REPORT_SCHEMA
    )


def reapply_erasure_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual recovery: re-apply every ledgered erasure to every
    derived store (idempotent — already-clean stores report zero rows
    removed). The bulk form of the per-table ``scrub_rebuilt_store``
    hook, for operators restoring a warehouse wholesale."""
    tag = sf_tag(sf_dir)
    rows = read_erasure_ledger(spark, tag).collect()
    vec_ids = sorted(int(r.id) for r in rows if r.kind == "vector")
    doc_ids = sorted(int(r.id) for r in rows if r.kind == "document")
    reports = []
    if vec_ids:
        reports.append(forget_vectors(spark, sf_dir, vec_ids, record=False))
    if doc_ids:
        reports.append(forget_documents(spark, sf_dir, doc_ids, record=False))
    if not reports:
        return spark.createDataFrame([], _REPORT_SCHEMA)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
