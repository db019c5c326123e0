from customer_churn_prediction_spark.similarity import ann


def test_lsh_candidates_subset_and_recall(spark, sf_dir):
    """LSH top-k must be a subset of valid vectors with sane sims, and
    multiprobe should recover a reasonable share of the exact top-k."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    approx_rows = ann.ann_lsh_bucketed(spark, sf_dir).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert approx, "LSH returned no candidates"
    assert all(-1.0 <= r.cosine_sim <= 1.0 for r in approx_rows)
    recall = len(exact & approx) / len(exact)
    # Random-hyperplane LSH on near-random vectors: expect partial recall.
    assert recall > 0.05, f"suspiciously low LSH recall: {recall}"


def test_bruteforce_k_per_query(spark, sf_dir):
    df = ann.ann_bruteforce_topk(spark, sf_dir)
    counts = {r.query_id: r["count"] for r in df.groupBy("query_id").count().collect()}
    assert set(counts) == set(range(ann.N_QUERIES))
    assert all(c == ann.TOP_K for c in counts.values())


def test_kmeans_refine_reduces_inertia(spark, sf_dir):
    """Lloyd refinement must not worsen the within-cluster cosine
    inertia of the seed model (it minimizes it by construction)."""
    from pyspark.sql import functions as F

    from customer_churn_prediction_spark.similarity import ann

    e = ann._embeddings(spark, sf_dir)

    def inertia(cents):
        cells = ann._cells_expr(cents)
        return (
            e.select((1 - F.element_at(cells, 1)["s"]).alias("d"))
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    seed = ann._centroids(spark, sf_dir)
    refined = ann.kmeans_refine(spark, sf_dir)
    assert inertia(refined) <= inertia(seed) + 1e-6


def test_ann_ivf_kmeans_returns_ranked_topk(spark, sf_dir):
    from customer_churn_prediction_spark.similarity import ann

    rows = ann.ann_ivf_kmeans(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        sims = [r.cosine_sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def _fresh_ivf_ingest(spark, sf_dir):
    import shutil

    from customer_churn_prediction_spark.sources.writers import sf_tag

    table = f"ivf_lists_{sf_tag(sf_dir)}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(
        warehouse.removeprefix("file:") + f"/{table}", ignore_errors=True
    )
    return ann.ivf_lists_ingest(spark, sf_dir)


def test_ivf_materialized_matches_inline(spark, sf_dir):
    """Same (query, neighbor, sim, rank) rows as the inline assignment."""
    _fresh_ivf_ingest(spark, sf_dir)
    got = ann.ann_ivf_materialized(spark, sf_dir)
    want = ann.ann_ivf(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_ivf_materialized_probe_prunes_partitions(spark, sf_dir):
    """The inverted-list scan must be PRUNED to the probed cells at
    runtime: the probe side broadcasts, and dynamic partition pruning
    turns its centroid_ids into a PartitionFilter on the lists table —
    the at-scale contract that a probe reads its lists' files only,
    never the corpus."""
    _fresh_ivf_ingest(spark, sf_dir)
    df = ann.ann_ivf_materialized(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "no dynamic partition pruning on the inverted-list scan:\n" + plan
    )


def test_quantize_reconstruction_error_bounded(spark, sf_dir):
    """Dequantized components must sit within half a quantization step
    of the original (|q*scale - v| <= scale/2), q within int8 range,
    and per-vector row count = DIM."""
    from pyspark.sql import functions as F

    qdf = ann.embedding_quantize(spark, sf_dir)
    orig = ann._embeddings(spark, sf_dir).select(
        "vec_id", F.posexplode("v").alias("dim", "val")
    )
    j = qdf.join(orig, ["vec_id", "dim"])
    bad = j.where(
        (F.abs(F.col("q") * F.col("scale") - F.col("val"))
         > F.col("scale") / 2 + 1e-12)
        | (F.abs(F.col("q")) > 127)
    )
    assert bad.count() == 0, bad.limit(5).collect()
    counts = qdf.groupBy("vec_id").count()
    assert counts.where(F.col("count") != ann.DIM).count() == 0


def test_int8_search_recall_vs_float_baseline(spark, sf_dir):
    """Quantized search must recover nearly all of the float top-k:
    int8 error moves near-tie neighbors, nothing else. Also the
    oracle-shape invariants: k rows per query, sims in [-1, 1]."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    rows = ann.ann_bruteforce_int8(spark, sf_dir).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    assert all(-1.0 <= r.cosine_sim <= 1.0 for r in rows)
    per_q = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert set(per_q) == set(range(ann.N_QUERIES))
    assert all(c == ann.TOP_K for c in per_q.values())
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"int8 recall too low: {recall}"


def test_ann_ivf_oracle_parity(spark, sf_dir):
    """Retired-baseline contract (registry.RETIRED, r10): the inline
    IVF form keeps driver-rigor oracle parity standalone — it shares
    the committed ORACLE with the registered ann_ivf_materialized and
    runs as the IVF tier inside ann_recall_matrix."""
    from .oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        ann.ann_ivf(spark, sf_dir), ann.ORACLES["ann_ivf"], sf_dir
    )


def test_ann_bruteforce_int8_oracle_parity(spark, sf_dir):
    """Retired-baseline contract (registry.RETIRED, r10): the inline
    int8 quantize-and-search keeps driver-rigor oracle parity
    standalone — the registered at-rest twin serves the same plan from
    the quantized store, and the inline form is the int8 tier inside
    ann_recall_matrix."""
    from .oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        ann.ann_bruteforce_int8(spark, sf_dir),
        ann.ORACLES["ann_bruteforce_int8"],
        sf_dir,
    )
