"""Seeded input generator for the engine benchmark.

Everything is derived from the base tables committed in ``base/`` (a
copy of the sf0.001 star schema plus the events, documents and
embeddings tables), so the benchmark needs no data outside its own
directory. The generator runs in the benchmark process, untimed; the
engine only ever sees the parquet directories it writes.

A snapshot is a seeded resample of the base:

* ``customer``: a seeded subset of ``CUSTOMER_SHARE`` of the
  customers (without replacement, so no row is duplicated and no new
  ties appear in ordered or top-k queries), with their orders and
  those orders' lineitems;
* ``events``: user ids relabelled by a seeded permutation;
* ``documents``, ``embeddings`` and the dimension tables are copied
  unchanged. (Relabelling document ids changes how many rounds the
  connected-components loop of ``dedup_lsh_components`` runs, which
  would make the amount of work depend on the seed.)

The row counts of a snapshot depend only on the base, never on the
seed, so every seed asks the engine for about the same work.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

COPIED_TABLES = (
    "region", "nation", "supplier", "part", "documents", "embeddings",
)
CUSTOMER_SHARE = 0.9


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))


def _relabel(table: pa.Table, col: str, rng: np.random.Generator) -> pa.Table:
    """Replace ``col`` by a seeded permutation of its distinct values."""
    values = table.column(col).to_numpy()
    distinct = np.unique(values)
    mapping = dict(zip(distinct.tolist(), rng.permutation(distinct).tolist()))
    relabelled = pa.array([mapping[v] for v in values.tolist()],
                          type=table.schema.field(col).type)
    return table.set_column(table.schema.get_field_index(col), col, relabelled)


def make_snapshot(out_dir: str, seed: int) -> str:
    """Write one seeded snapshot of every catalog table under ``out_dir``
    (a fresh directory) and return it."""
    if os.path.exists(out_dir):
        raise FileExistsError(out_dir)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)

    customer = _read("customer")
    keys = customer.column("c_custkey").to_numpy()
    kept = np.sort(rng.choice(keys, size=int(len(keys) * CUSTOMER_SHARE),
                              replace=False))
    kept_arr = pa.array(kept, type=customer.schema.field("c_custkey").type)
    customer = customer.filter(pc.is_in(customer.column("c_custkey"), kept_arr))
    orders = _read("orders")
    orders = orders.filter(pc.is_in(
        orders.column("o_custkey"),
        pa.array(kept, type=orders.schema.field("o_custkey").type)))
    lineitem = _read("lineitem")
    lineitem = lineitem.filter(pc.is_in(
        lineitem.column("l_orderkey"), orders.column("o_orderkey")))

    tables = {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": _relabel(_read("events"), "user_id", rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    for name in COPIED_TABLES:
        shutil.copyfile(os.path.join(BASE_DIR, f"{name}.parquet"),
                        os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def query_orders(names: list[str], seed: int, passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    rng = np.random.default_rng([seed, 1])
    return [[names[i] for i in rng.permutation(len(names))]
            for _ in range(passes)]


def fingerprint(sf_dir: str) -> str:
    """Hash of a snapshot's files (used to show two seeds differ)."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()
