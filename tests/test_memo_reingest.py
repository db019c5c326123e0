"""Every fit memo refits when its source table is re-ingested at the
same path.

Each case fits once on a copy of the smoke tables, rewrites one source
table in place with different content, and fits again at the same
path. The second fit must equal a cold fit of the rewritten data at a
fresh path, and must differ from the first (so the rewrite really
moves the model).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from customer_churn_prediction_spark import memo
from customer_churn_prediction_spark.catalog import TABLES
from customer_churn_prediction_spark.ml import dataset, jobs
from customer_churn_prediction_spark.similarity import ann
from customer_churn_prediction_spark.similarity import pq as pqm
from customer_churn_prediction_spark.text import selection, vocab

from .conftest import SF_SMOKE


def _negate_embeddings(t: pa.Table) -> pa.Table:
    col = t["embedding"].combine_chunks()
    neg = pa.ListArray.from_arrays(
        col.offsets, pc.negate(col.flatten()), type=col.type
    )
    return t.set_column(t.schema.get_field_index("embedding"), "embedding", neg)


def _reverse_texts(t: pa.Table) -> pa.Table:
    i = t.schema.get_field_index("text")
    return t.set_column(i, "text", pc.utf8_reverse(t["text"]))


def _drop_quarter_of_orders(t: pa.Table) -> pa.Table:
    return t.filter(pc.not_equal(pc.bit_wise_and(t["o_orderkey"], 3), 0))


def _lut_with_fixed_codebook(spark, sf_dir):
    # a codebook fixed across the case isolates the LUT memo from the
    # codebook memo
    cb = pqm.train_pq(spark, SF_SMOKE)
    return [tuple(r) for r in pqm._lut_rows(spark, sf_dir, cb)]


def _vectorized(spark, sf_dir):
    train_t, test_t, n_rows = jobs._shared_vectorized_split(spark, sf_dir)
    rows = sorted(
        (r.features.toArray().tolist(), r.label) for r in train_t.collect()
    )
    n_test = test_t.count()
    return n_rows - n_test, n_test, rows


CASES = {
    "centroids": (
        "embeddings", _negate_embeddings,
        lambda spark, d: [tuple(r) for r in ann._centroids(spark, d)],
    ),
    "semantic_centroids": (
        "embeddings", _negate_embeddings,
        lambda spark, d: [tuple(r) for r in ann._semantic_centroids(spark, d)],
    ),
    "pq_codebook": (
        "embeddings", _negate_embeddings,
        lambda spark, d: pqm.train_pq(spark, d),
    ),
    "pq_lut": ("embeddings", _negate_embeddings, _lut_with_fixed_codebook),
    "bpe_merges": (
        "documents", _reverse_texts,
        lambda spark, d: sorted(map(tuple, vocab.bpe_merges(spark, d).collect())),
    ),
    "dsir_bands": (
        "documents", _reverse_texts,
        lambda spark, d: sorted(
            map(tuple, selection.corpus_select_dsir(spark, d).collect())
        ),
    ),
    "shared_vectorized_split": ("orders", _drop_quarter_of_orders, _vectorized),
}


def _copy_tables(dst: str) -> None:
    os.makedirs(dst)
    for t in TABLES:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{dst}/{t}.parquet")


def _rewrite(sf_dir: str, table: str, change) -> None:
    """Replace ``table`` under ``sf_dir`` by ``change`` of the source."""
    path = f"{sf_dir}/{table}.parquet"
    pq.write_table(change(pq.read_table(f"{SF_SMOKE}/{table}.parquet")),
                   path + ".tmp")
    os.replace(path + ".tmp", path)


@pytest.mark.parametrize("case", sorted(CASES))
def test_fit_memo_refits_on_same_path_reingest(spark, tmp_path, case):
    table, change, fit = CASES[case]
    sf_dir = str(tmp_path / "sf")
    _copy_tables(sf_dir)
    first = fit(spark, sf_dir)

    _rewrite(sf_dir, table, change)
    again = fit(spark, sf_dir)

    fresh = str(tmp_path / "fresh")
    _copy_tables(fresh)
    _rewrite(fresh, table, change)
    want = fit(spark, fresh)
    assert want != first, "the rewrite must change the fitted model"
    assert again == want, f"{case}: stale fit served after re-ingest"


def test_training_memo_versions_every_table_it_reads(spark, tmp_path):
    """The ml.jobs shared memos are versioned by ``_TRAINING_TABLES``;
    that must be exactly what ``churn_training_set`` loads."""
    sf_dir = str(tmp_path / "sf")
    _copy_tables(sf_dir)
    dataset.churn_training_set(spark, sf_dir)
    loaded = {k[2] for k in memo.entries("relation") if k[1] == sf_dir}
    assert loaded == set(jobs._TRAINING_TABLES)
