"""dedup_containment (text/dedup.py staged split): asymmetric
containment dedup — oracle parity, the fragment-in-document case that
symmetric Jaccard structurally misses, direction and threshold
invariants."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from customer_churn_prediction_spark.text import dedup

from .oracle_utils import assert_matches_oracle


def test_containment_oracle_parity(spark, sf_dir):
    assert_matches_oracle(
        dedup.containment_pairs(spark, sf_dir),
        dedup.ORACLES["dedup_containment"],
        sf_dir,
    )


def _write_docs(tmp_path, docs):
    """A documents-only fixture directory. The table is ONE parquet
    file, so the DuckDB oracle reads it as well as Spark."""
    out = tmp_path / "docs_sf"
    out.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": [t for _, t in docs],
            "lang": ["en"] * len(docs),
            "source": ["test"] * len(docs),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }),
        out / "documents.parquet",
    )
    return str(out)


def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """A 30-word fragment embedded verbatim in a 600-word document:
    containment of the fragment is 1.0, but Jaccard is ~30/600 — far
    below JACCARD_THRESHOLD, so the symmetric pipeline is blind to it
    by construction."""
    rng = random.Random(7)
    words = [f"w{rng.randrange(10_000)}" for _ in range(600)]
    big = " ".join(words)
    fragment = " ".join(words[100:130])
    unrelated = " ".join(f"z{rng.randrange(10_000)}" for _ in range(50))
    sf = _write_docs(tmp_path, [(1, big), (2, fragment), (3, unrelated)])

    got = dedup.containment_pairs(spark, sf).collect()
    assert [(r.contained, r.container) for r in got] == [(2, 1)]
    assert got[0].containment == 1.0

    jac = dedup.ngram_jaccard_pairs(spark, sf).collect()
    assert jac == [], "sanity: symmetric Jaccard must miss the pair"


def test_containment_direction_and_threshold(spark, sf_dir):
    rows = dedup.containment_pairs(spark, sf_dir).collect()
    assert rows, "fixture corpus must contain containment pairs"
    ids = {(r.contained, r.container) for r in rows}
    for r in rows:
        assert r.containment >= dedup.CONTAINMENT_THRESHOLD
        assert r.contained != r.container
        # directed: at most one orientation per pair
        assert (r.container, r.contained) not in ids

    # the contained side's gram set is never larger than the container
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(dedup._word_shingles_spark()).alias("grams")
    ).select("doc_id", F.size("grams").alias("n"))
    sizes = {r.doc_id: r.n for r in d.collect()}
    for r in rows:
        assert sizes[r.contained] <= sizes[r.container]


def test_best_match_ties_go_to_the_lowest_id(spark, tmp_path):
    """One best-match rule for both measures: highest score, ties to
    the lowest corpus id. New doc 8 has two corpus near-dups (1 and 2,
    one extra word each) with equal Jaccard 18/19, and both contain it
    fully; new fragment 18 sits whole inside corpus docs 3 and 4
    (containment 1.0 each). Corpus docs are written highest id first,
    so a first-row pick would choose wrong."""
    rng = random.Random(11)

    def words(prefix, n):
        return " ".join(f"{prefix}{rng.randrange(10_000)}" for _ in range(n))

    base, frag = words("w", 20), words("v", 12)
    sf = _write_docs(tmp_path, [
        (2, "h2 " + base),
        (1, base + " t1"),
        (8, base),
        (4, words("x", 20) + " " + frag),
        (3, frag + " " + words("y", 20)),
        (18, frag),
        (5, words("z", 30)),
    ])
    # the ties are real: both candidates verify with equal scores
    contained = {
        (r.contained, r.container): r.containment
        for r in dedup.containment_pairs(spark, sf).collect()
    }
    assert contained[(8, 1)] == contained[(8, 2)] == 1.0
    assert contained[(18, 3)] == contained[(18, 4)] == 1.0
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.lsh_verified_pairs(spark, sf).collect()
    }
    assert jac[(1, 8)] == jac[(2, 8)] == 18 / 19

    incremental = dedup.dedup_incremental(spark, sf)
    assert [tuple(r) for r in incremental.collect()] == [(8, 1, 18 / 19)]
    assert_matches_oracle(
        incremental, dedup.ORACLES["dedup_incremental"], sf
    )
    fragments = dedup.fragment_pairs_incremental(spark, sf)
    assert sorted(tuple(r) for r in fragments.collect()) == [
        (8, 1, 1.0), (18, 3, 1.0)
    ]
    assert_matches_oracle(
        fragments, dedup.STAGED_ORACLES["dedup_fragments_incremental"], sf
    )
