"""Training-run input manifests: freeze the exact file inventory a run
consumed; verify it before a retrain or an audit replays the run.

Model reproducibility needs BOTH halves pinned: the serving bundle
records the model (``ml/serving.export_serving_bundle``); this module
records the DATA — per input table, the exact data files (path, bytes,
modification time) and the row count. That is the same granularity a
transactional table format pins in a snapshot: two runs over the same
manifest-verified inventory read byte-identical inputs, and any
compaction, upsert, erasure, or re-crawl between them is detected
BEFORE a "reproduction" silently trains on different data.

File-level rather than row-hash by design: a content hash over
engine-formatted row strings is not portable across engines or stable
across float formatting, while the file inventory is an
engine-independent fact the filesystem itself asserts — and at 100 TB
a manifest scan is a metadata listing, not a data read. Row counts are
included as the one cheap content-level cross-check (they catch a
rewritten-in-place file whose size happens to collide).

Hadoop-FS-correct like the sibling maintenance ops: listings go
through the FileSystem API, so the manifest works against HDFS/object
stores, not just local paths.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .layout import _fs_path, _is_data_file

_DEFAULT_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SCHEMA = (
    "table string, file string, bytes long, modified long, n_rows long"
)


def _table_files(spark: SparkSession, table_path: str) -> list[tuple]:
    fs, root = _fs_path(spark, table_path)
    if not fs.exists(root):
        # a vanished table (dropped store, unmounted snapshot) is a
        # 'missing' verdict at verify time, not a listing exception
        return []
    out = []
    stack = [root]
    while stack:
        for st in fs.listStatus(stack.pop()):
            if st.isDirectory():
                stack.append(st.getPath())
            elif _is_data_file(st.getPath().getName()):
                out.append(
                    (
                        st.getPath().toUri().getPath(),
                        int(st.getLen()),
                        int(st.getModificationTime()),
                    )
                )
    return sorted(out)


def freeze_inputs(
    spark: SparkSession, sf_dir: str, tables: tuple = _DEFAULT_TABLES
) -> DataFrame:
    """The manifest frame for ``tables`` under ``sf_dir``: one row per
    data file plus the owning table's row count."""
    rows = []
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        files = _table_files(spark, path)
        if not files:
            # nothing to record: a table whose every data file vanished
            # surfaces as 'missing' rows at verify time, not a read
            # error here (spark.read cannot even infer a schema then)
            continue
        try:
            n = spark.read.parquet(path).count()
        except Exception:
            # an unreadable (corrupted / mid-rewrite) table still gets
            # its file inventory recorded; n_rows = -1 marks the count
            # unknown — verify's size/mtime comparison flags the drift
            # without needing the read to succeed
            n = -1
        for f, size, mtime in files:
            rows.append((t, f, size, mtime, n))
    return spark.createDataFrame(rows, _SCHEMA)


def write_manifest(
    spark: SparkSession,
    sf_dir: str,
    manifest_path: str,
    tables: tuple = _DEFAULT_TABLES,
) -> dict:
    """Freeze and persist the manifest as one JSON document (atomic
    publish via rename — the serving-bundle discipline). Returns it."""
    frame = freeze_inputs(spark, sf_dir, tables)
    doc = {
        "sf_dir": os.path.abspath(sf_dir),
        "files": [r.asDict() for r in frame.collect()],
    }
    os.makedirs(os.path.dirname(manifest_path) or ".", exist_ok=True)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)
    return doc


def verify_manifest(
    spark: SparkSession, manifest_path: str, sf_dir: str | None = None
) -> DataFrame:
    """Compare the frozen manifest against the CURRENT inventory.
    Returns one row per discrepancy — (table, file, status in
    {'missing', 'added', 'changed', 'rowcount'}) — so an EMPTY result
    IS the verification. ``sf_dir`` overrides the frozen dir (verify a
    relocated COPY of the same snapshot; modification times are
    excluded from the comparison then — a copy legitimately re-stamps
    them — while byte sizes and row counts still must match). All file
    keys are reported in the manifest's own coordinates."""
    with open(manifest_path) as f:
        doc = json.load(f)
    base = doc["sf_dir"]
    target = os.path.abspath(sf_dir) if sf_dir else base
    relocated = target != base

    def _to_base(p: str) -> str:
        # key CURRENT paths back into manifest coordinates
        return p.replace(target, base, 1) if relocated else p

    frozen_tables = sorted({r["table"] for r in doc["files"]})
    current = {
        (r.table, _to_base(r.file)): r
        for r in freeze_inputs(
            spark, target, tables=tuple(frozen_tables)
        ).collect()
    }
    problems = []
    seen = set()
    for r in doc["files"]:
        key = (r["table"], r["file"])
        seen.add(key)
        cur = current.get(key)
        if cur is None:
            problems.append((r["table"], r["file"], "missing"))
        elif cur.bytes != r["bytes"] or (
            not relocated and cur.modified != r["modified"]
        ):
            problems.append((r["table"], r["file"], "changed"))
        elif cur.n_rows != r["n_rows"]:
            problems.append((r["table"], r["file"], "rowcount"))
    for key, cur in current.items():
        if key not in seen:
            problems.append((key[0], key[1], "added"))
    return spark.createDataFrame(
        problems, "table string, file string, status string"
    )


# ------------------------------------------------------------- stores

def freeze_stores(
    spark: SparkSession, tables: tuple | list
) -> DataFrame:
    """The manifest frame for derived MANAGED stores (IVF lists, PQ
    codes, corpus bands, int8 store …): same inventory the input
    manifest records, rooted at the warehouse. A serving deployment
    pins the exact index version it answers from — after an erasure
    batch, a compaction, or a re-ingest the manifest no longer
    verifies, which is precisely the signal to re-pin."""
    from .writers import warehouse_store

    rows = []
    for t in tables:
        path = os.path.join(warehouse_store(), t)
        files = _table_files(spark, path)
        if not files:
            continue
        try:
            n = spark.table(t).count()
        except Exception:
            n = -1
        for f, size, mtime in files:
            rows.append((t, f, size, mtime, n))
    return spark.createDataFrame(rows, _SCHEMA)


def write_store_manifest(
    spark: SparkSession, tables: tuple | list, manifest_path: str
) -> dict:
    """Freeze and persist the store manifest (atomic publish)."""
    frame = freeze_stores(spark, tables)
    doc = {
        "kind": "stores",
        "tables": sorted(tables),
        "files": [r.asDict() for r in frame.collect()],
    }
    os.makedirs(os.path.dirname(manifest_path) or ".", exist_ok=True)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)
    return doc


def verify_store_manifest(
    spark: SparkSession, manifest_path: str
) -> DataFrame:
    """Discrepancy frame for a frozen store manifest — empty IS the
    verification, same statuses as ``verify_manifest``."""
    with open(manifest_path) as f:
        doc = json.load(f)
    current = {
        (r.table, r.file): r
        for r in freeze_stores(spark, tuple(doc["tables"])).collect()
    }
    problems = []
    seen = set()
    for r in doc["files"]:
        key = (r["table"], r["file"])
        seen.add(key)
        cur = current.get(key)
        if cur is None:
            problems.append((r["table"], r["file"], "missing"))
        elif (cur.bytes, cur.modified) != (r["bytes"], r["modified"]):
            problems.append((r["table"], r["file"], "changed"))
        elif cur.n_rows != r["n_rows"]:
            problems.append((r["table"], r["file"], "rowcount"))
    for key, cur in current.items():
        if key not in seen:
            problems.append((key[0], key[1], "added"))
    return spark.createDataFrame(
        problems, "table string, file string, status string"
    )
