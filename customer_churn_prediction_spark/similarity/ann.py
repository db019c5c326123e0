"""Approximate-nearest-neighbor search over the `embeddings` table.

Three tiers, per the north star (BASELINE.json):

* ``ann_bruteforce_topk``   — exact cosine top-k for a query set via a
  broadcast cross join. Correct at any scale where |queries| is small:
  the candidate scan stays partition-parallel and nothing shuffles
  (queries broadcast, per-partition top-k via window).
* ``embedding_neardup_pairs`` — exact all-pairs near-dup at a cosine
  threshold. O(n²): only for modest n; the LSH tier replaces it at scale.
* ``ann_lsh_bucketed``      — random-hyperplane LSH: 4 md5-derived
  hyperplanes bucket vectors into 16 signature buckets; queries probe
  their own bucket plus all Hamming-1 neighbors (multiprobe), then
  rank exact cosine within candidates. The bucket equi-join replaces
  the O(n²) cross join — this is the 100 TB path.

Cosine math is built from array expressions (``zip_with`` +
``aggregate`` left fold) on doubles; similarities are rounded to 6dp
before ranking so both engines order identically (accumulation-order
float noise is ~1e-14, far below the rounding grid).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table

N_QUERIES = 5  # vec_id < 5 plays the query set
TOP_K = 10
NEARDUP_THRESHOLD = 0.4
N_PLANES = 4
DIM = 64


def _vec(col: str):
    return F.expr(f"transform({col}, x -> cast(x as double))")


def _with_norm(df: DataFrame, vcol: str = "v") -> DataFrame:
    return df.withColumn(
        "nrm",
        F.sqrt(
            F.expr(f"aggregate(transform({vcol}, x -> x * x), 0D, (a, x) -> a + x)")
        ),
    )


def _cosine(a: str, b: str, na: str, nb: str):
    # try_divide, not '/': a zero-norm vector (an all-zeros embedding —
    # a padding row or a failed encoder upstream) makes the denominator
    # 0, which RAISES under ANSI while every DuckDB oracle's division
    # yields NULL. NULL cosine then falls out of >=threshold filters
    # and ranks last, exactly like the oracle; values are bit-identical
    # wherever the norms are nonzero (the fixtures' always are).
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    return F.round(F.try_divide(dot, F.col(na) * F.col(nb)), 6)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    return _with_norm(e.select("vec_id", _vec("embedding").alias("v")))


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against all vectors.

    BASELINE — ground truth for recall grading; at scale deploy
    ``ann_lsh_bucketed`` / ``ann_ivf_materialized``.
    """
    e = _embeddings(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine("qv", "v", "qn", "nrm").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dup (the O(n²) baseline the LSH
    variant exists to replace).

    BASELINE (retired from the registry in r6) — deploy
    ``ann_lsh_bucketed`` or ``dedup_semantic`` at scale."""
    e = _embeddings(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", _cosine("va", "vb", "na", "nb").alias("cosine_sim")
        )
        .where(F.col("cosine_sim") >= NEARDUP_THRESHOLD)
    )


def _planes() -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from md5 — reproducible
    across sessions with no RNG state."""
    planes = []
    for j in range(N_PLANES):
        comps = []
        for i in range(DIM):
            h = hashlib.md5(f"p{j}|d{i}".encode()).hexdigest()
            comps.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
        planes.append(comps)
    return planes


def _sig_col(vcol: str):
    """LSH signature: bit j = sign of dot(plane_j, v). One 2D plane
    literal + an aggregate loop keeps generated code small (the
    unrolled per-plane form inlines N_PLANES×DIM literals per use).

    coalesce is a NULLABILITY BARRIER, not a value change (r14, the
    simhash precedent): every sig consumer equi-joins on it, and the
    inferred ``isnotnull(sig)`` constraint otherwise pushes below the
    projection and re-evaluates the WHOLE plane fold inside the scan
    Filter — 2× the signature cost per row (found by the plan sweep).
    The fold over a non-null vector is never null; callers guard
    null vectors explicitly where the source can hold them."""
    planes_sql = "array(" + ", ".join(
        "array(" + ", ".join(f"{c}D" for c in plane) + ")"
        for plane in _planes()
    ) + ")"
    return F.expr(
        f"coalesce(aggregate(sequence(1, {N_PLANES}), 0, (acc, j) -> acc + "
        f"CASE WHEN aggregate(zip_with({vcol}, element_at({planes_sql}, j), "
        f"(x, y) -> x * y), 0D, (a, x) -> a + x) > 0 "
        f"THEN shiftleft(1, j - 1) ELSE 0 END), 0)"
    ).cast("int")


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN with Hamming-1 multiprobe: candidates come from
    a signature equi-join instead of a cross join. Oracle-paired: the
    hyperplanes are md5-derived ±1 literals, so the signature is the
    same plain SQL expression in DuckDB (sign threshold at 0 is safe —
    a 64-term dot of continuous embeddings is never within float noise
    of zero). Recall vs the brute-force tier is asserted in tests."""
    # explicit null-vector guard: _sig_col's coalesce barrier maps a
    # null vector to sig 0 instead of null, so the drop-at-join
    # semantics null sigs used to give is made explicit (and cheap —
    # one isnotnull per row, not a plane fold).
    e = (
        _embeddings(spark, sf_dir)
        .where(F.col("v").isNotNull())
        .withColumn("sig", _sig_col("v"))
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("sig").alias("qsig"),
    )
    # Multiprobe: the query's own bucket plus every Hamming-1 bucket.
    probes = q.select(
        "query_id", "qv", "qn",
        F.explode(
            F.array(
                F.col("qsig"),
                *[
                    F.col("qsig").bitwiseXOR(F.lit(1 << j))
                    for j in range(N_PLANES)
                ],
            )
        ).alias("sig"),
    )
    cands = e.join(F.broadcast(probes), "sig").where(
        F.col("vec_id") != F.col("query_id")
    )
    # No distinct needed: each vector carries exactly one sig and a
    # query's probe list holds 1 + N_PLANES DISTINCT sig values, so a
    # (query, candidate) pair can match at most once. (An extra
    # distinct here cost ~0.7 s of pure shuffle at sf0.1.)
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine("qv", "v", "qn", "nrm").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


N_CENTROIDS = 8  # vec_id in [100, 108) play the coarse centroids
N_PROBE = 2
# SemDeDup's k∝N rule: pick enough coarse cells that the EXPECTED cell
# holds ~this many docs, so within-cell pairwise cost stays constant
# per doc as the corpus grows (with k fixed, 10× data grows every cell
# 10× and pairs ~100× — measured 13.3× wall on the ×10 corpus before
# this rule; SCALE.md §10.2).
SEMANTIC_CELL_TARGET = 64


def _centroid_rows(raw: DataFrame, k: int) -> list:
    """The k fixture rows from vec_id 100, normalized, sorted by id.
    The vec_id range predicate pushes into the parquet scan, so the
    fetch is a pruned k-row read, not a pass over the table."""
    return sorted(
        _with_norm(
            raw.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + k))
            .select("vec_id", _vec("embedding").alias("v"))
        ).collect(),
        key=lambda r: r.vec_id,
    )


def _centroids(spark: SparkSession, sf_dir: str) -> list:
    """The 'fitted model' fetch, memoized per sf_dir (a model is fit
    once, scored many times)."""
    return memo.cached(
        "ann.centroids", sf_dir, memo.table_version(sf_dir, "embeddings"),
        lambda: _centroid_rows(
            load_table(spark, sf_dir, "embeddings"), N_CENTROIDS
        ),
    )


def _semantic_centroids(spark: SparkSession, sf_dir: str) -> list:
    """The k∝N coarse model for semantic dedup: k =
    max(N_CENTROIDS, ceil(n / SEMANTIC_CELL_TARGET)) fixture rows
    starting at vec_id 100, where n is the corpus size — holding the
    expected cell population constant as the corpus grows. The DuckDB
    oracle computes the identical k from ``count(*)`` in SQL, so both
    engines always agree on the model. Memoized like ``_centroids``
    (fit once, score many); the count is a metadata-only parquet job."""

    def fit() -> list:
        raw = load_table(spark, sf_dir, "embeddings")
        n = raw.count()
        return _centroid_rows(
            raw, max(N_CENTROIDS, -(-n // SEMANTIC_CELL_TARGET))
        )

    return memo.cached(
        "ann.semantic_centroids", sf_dir,
        memo.table_version(sf_dir, "embeddings"), fit,
    )


def _cells_expr(cent_rows) -> "F.Column":
    """The per-row cell-ranking expression for a given centroid model:
    one 2D literal + a transform loop (small generated code), struct
    sort on (sim DESC, centroid_id ASC)."""
    cents_sql = "array(" + ", ".join(
        "array(" + ", ".join(f"{x!r}D" for x in c.v) + ")" for c in cent_rows
    ) + ")"
    norms_sql = "array(" + ", ".join(
        f"{float(c.nrm)!r}D" for c in cent_rows
    ) + ")"
    ids_sql = "array(" + ", ".join(str(int(c.vec_id)) for c in cent_rows) + ")"
    n = len(cent_rows)
    return F.expr(
        f"sort_array(transform(sequence(1, {n}), ci -> "
        f"named_struct("
        f"'s', round(aggregate(zip_with(v, element_at({cents_sql}, ci), "
        f"(x, y) -> x * y), 0D, (a, x) -> a + x) "
        f"/ (nrm * element_at({norms_sql}, ci)), 6), "
        f"'nid', -element_at({ids_sql}, ci))), false)"
    )


def _ivf_probes(e: DataFrame, cent_rows) -> DataFrame:
    """Query-side probe rows: (query_id, qv, qn, centroid_id) for each
    query's N_PROBE closest cells. The vec_id predicate pushes into the
    scan, so the cell ranking runs only over the query rows."""
    cells = _cells_expr(cent_rows)
    return (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.explode(F.slice(cells, 1, N_PROBE)).alias("cell"),
        )
        .select(
            "query_id", "qv", "qn",
            (-F.col("cell")["nid"]).alias("centroid_id"),
        )
    )


def _probe_and_rank(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """Candidate join + exact-cosine rank: the shared tail of every IVF
    form. Probes broadcast (|queries|·N_PROBE rows); candidates come
    from the centroid_id equi-join only."""
    cands = assigned.join(F.broadcast(probes), "centroid_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine("qv", "v", "qn", "nrm").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _ivf_topk(e: DataFrame, cent_rows) -> DataFrame:
    """Shared IVF query body: assign, probe, rank (see ann_ivf).

    The coalesce on centroid_id is a NULLABILITY BARRIER, not a value
    change (r14 plan sweep): ``nid`` comes from the centroid-id
    LITERAL array so the assignment is never null, but the probe
    equi-join infers ``isnotnull(centroid_id)`` and pushes it below
    this projection — re-evaluating the ENTIRE k-way cell-ranking
    expression inside the scan Filter, doubling the assignment cost
    over the corpus. coalesce never fires; it only stops the
    inference."""
    cells = _cells_expr(cent_rows)
    assigned = e.select(
        "vec_id", "v", "nrm",
        F.coalesce(
            -F.element_at(cells, 1)["nid"], F.lit(-1)
        ).alias("centroid_id"),
    )
    return _probe_and_rank(assigned, _ivf_probes(e, cent_rows))


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of
    ``N_CENTROIDS`` fixed coarse centroids (rows vec_id 100..107 — a
    deterministic stand-in for a k-means fit); queries probe their
    ``N_PROBE`` closest cells and rank exact cosine within them.

    BASELINE — the inline form re-assigns the whole corpus per query
    (3.7× at ×10 data); deploy ``ann_ivf_materialized``, which serves
    from the at-rest cell-partitioned lists.

    The centroid set is the fitted model: collected once (8 rows) and
    re-emitted as expression literals — exactly how a k-means model is
    broadcast in production. Cell assignment is then a PURE MAP over
    the scan (sort an 8-element struct array per row): no cross join,
    no window shuffle; the only shuffles left are the probe join and
    the final per-query top-k. At 100 TB the inverted lists would be
    written bucketed by ``centroid_id`` so probes are partition-pruned.

    The ``cells`` expression appears in both branches, but the probe
    branch evaluates it only on the ``vec_id < N_QUERIES`` rows (the
    predicate pushes into the parquet scan before the projection), so
    the assignment math runs once over the table + once over the tiny
    query set — not twice over the table.

    No distinct on candidates: every vector is assigned to exactly ONE
    cell and a query's N_PROBE probe cells are distinct, so each
    (query, candidate) pair joins at most once (a redundant distinct
    was a whole extra shuffle, ~0.7 s at sf0.1)."""
    return _ivf_topk(_embeddings(spark, sf_dir), _centroids(spark, sf_dir))


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage form a
    100 TB ANN deployment actually keeps its vectors in (4× smaller
    than float32, int8 dot-product kernels): scale = max|v|/127,
    q_i = round(v_i/scale) ∈ [-127, 127]. Output is COO-shaped
    (vec_id, dim, q, scale) — one row per component — because flat
    relational rows are what the driver's canonicalizer and any
    columnar sink handle exactly (the r3 lesson from the array-output
    crashes); at rest this lands as an (id → 64×int8 + 1×float)
    page. Expression-only (aggregate fold for the max, one
    posexplode): scan-speed, no shuffle. round() is HALF_UP
    (away-from-zero) in both engines, so q is bit-identical; a zero
    vector quantizes to all zeros by the CASE guard instead of 0/0."""
    e = _embeddings(spark, sf_dir)
    scale = (
        F.expr("aggregate(v, 0D, (a, x) -> greatest(a, abs(x)))") / 127.0
    ).alias("scale")
    staged = e.select("vec_id", scale, F.posexplode("v").alias("dim", "val"))
    q = (
        F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.round(F.col("val") / F.col("scale"), 0))
        .cast("int")
    )
    return staged.select("vec_id", "dim", q.alias("q"), "scale")


def _quantized_vectors(e: DataFrame) -> DataFrame:
    """(vec_id, qv int-array, scale) — the array-form twin of
    ``embedding_quantize``'s COO output, kept internal for serving.

    ``scale`` is materialized in its own select stage BEFORE the
    transform() expression references it, so the lambda sees an
    ordinary column attribute — not a lateral column alias, whose
    resolution depends on ``spark.sql.lateralColumnAlias.enabled``
    and silently changes if the input ever gains a ``scale`` column."""
    staged = e.select(
        "vec_id",
        "v",
        (
            F.expr("aggregate(v, 0D, (a, x) -> greatest(a, abs(x)))") / 127.0
        ).alias("scale"),
    )
    return staged.select(
        "vec_id",
        "scale",
        F.expr(
            "transform(v, x -> if(scale = 0, 0, "
            "cast(round(x / scale, 0) as int)))"
        ).alias("qv"),
    )


def ann_bruteforce_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over the QUANTIZED store — proof the int8 form
    (``embedding_quantize``) actually serves search, not just shrinks
    storage.

    BASELINE — re-quantizes the corpus per query (6.8× at ×10 data);
    deploy ``ann_bruteforce_int8_stored``, which reads the at-rest
    int8 table. Similarity is the int8 dot product rescaled by the two
    scales and normalized by the int8 norms (so quantization error
    shifts scores a little — recall vs the float baseline is asserted
    in tests — but ranking is fully deterministic: the integer dot is
    exact in both engines and the float rescale is the same double
    math). Same plan shape as ``ann_bruteforce_topk``: broadcast query
    side, per-partition scoring, one top-k window; the scan side at
    rest would be the int8 page — 4× less IO than float32.

    Zero-norm guard: an all-zero vector quantizes to all zeros (the
    CASE guard in ``embedding_quantize``), so nrm8 = 0 and the cosine
    is undefined — Spark's x/0 → NULL while DuckDB follows IEEE
    (±inf/NaN), so such rows would break oracle parity. Both engines
    therefore drop nrm8 = 0 rows from query AND candidate sides —
    the same row-exclusion contract, not an engine-specific NULL."""
    # The zero-norm guard is expressed on the BASE vector, not on
    # nrm8: nrm8 > 0 ⟺ some component is non-zero (the max-|x|
    # element quantizes to ±127 exactly), and a filter on nrm8 gets
    # pushed below the projections with the WHOLE quantization
    # pipeline substituted into the scan Filter — measured ~3× the
    # per-row work (the same hidden-duplication class as the minhash
    # null filter). `exists` short-circuits at the first non-zero.
    e = _embeddings(spark, sf_dir).where(F.expr("exists(v, x -> x <> 0D)"))
    qn = _with_int8_norm(_quantized_vectors(e))
    return _int8_topk(qn)


def _with_int8_norm(q8: DataFrame) -> DataFrame:
    return q8.withColumn(
        "nrm8",
        F.sqrt(
            F.expr(
                "aggregate(transform(qv, x -> cast(x as double) * x), "
                "0D, (a, x) -> a + x)"
            )
        ),
    )


def _int8_topk(qn: DataFrame) -> DataFrame:
    """Shared search tail over an int8 vector frame (vec_id, qv,
    nrm8): works identically whether qv arrives as array<int> (the
    in-flight quantization) or array<tinyint> (the at-rest store) —
    the dot promotes elements to bigint either way."""
    queries = qn.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm8").alias("q_nrm8"),
    )
    dot = F.expr(
        "aggregate(zip_with(qv, q_qv, (x, y) -> cast(x as bigint) * y), "
        "0L, (a, x) -> a + x)"
    )
    pairs = qn.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot / (F.col("nrm8") * F.col("q_nrm8")), 6).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def int8_store_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the int8 store ``ann_bruteforce_int8``'s docstring
    promises: (vec_id, scale, qv array<tinyint>, nrm8) as a managed
    parquet table, written once at ingest. ``tinyint`` is the honest
    at-rest element type — parquet bit-packs the ≤8-bit values, so the
    vector payload lands ~4× smaller than the float32 source (measured
    in SCALE.md §9; scripts/int8_payoff.py reproduces it). nrm8 is
    precomputed so the serving scan never re-folds the array.

    Same idempotent tag/rebuild discipline as the IVF inverted lists
    and the corpus bands (sources/writers.managed_ingest)."""
    from ..sources.writers import managed_ingest, sf_tag

    table = f"int8_store_{sf_tag(sf_dir)}"

    def _write(path: str) -> None:
        q8 = _with_int8_norm(_quantized_vectors(_embeddings(spark, sf_dir)))
        stored = q8.select(
            "vec_id",
            "scale",
            F.expr("transform(qv, x -> cast(x as tinyint))").alias("qv"),
            "nrm8",
        )
        (
            stored.write.mode("overwrite")
            .option("path", path)
            .format("parquet")
            .saveAsTable(table)
        )

    return managed_ingest(spark, table, _write)


def ann_bruteforce_int8_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_bruteforce_int8`` in its production shape: the scan side
    is the at-rest int8 table (``int8_store_ingest``) instead of an
    in-flight quantization pass — same output rows, same oracle (the
    tinyint→int round trip and the stored nrm8 are value-exact). This
    is the measured form of the quantization tier's claim: 4× less IO
    per search against the same plan (whitelisted tiny-side NLJ)."""
    store = int8_store_ingest(spark, sf_dir)
    return _int8_topk(store.where(F.col("nrm8") > 0))


def ivf_lists_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED inverted lists ``ann_ivf``'s docstring promises:
    every vector assigned to its coarse cell ONCE at ingest and written
    as a managed parquet table hive-PARTITIONED by ``centroid_id`` —
    one directory per inverted list. Idempotent per sf_dir (same
    tag/rebuild discipline as the bucketed ingests).

    Partitioning (not bucketing) is the right at-rest layout here:
    probes touch N_PROBE of N_CENTROIDS cells, so the win is partition
    PRUNING — the scan reads only the probed lists' files — which
    dynamic partition pruning applies at runtime from the broadcast
    probe side (asserted in tests/test_similarity.py). At 100 TB with
    k in the thousands, a probe reads thousandths of the corpus
    instead of scanning it."""
    from ..sources.writers import managed_ingest, sf_tag

    table = f"ivf_lists_{sf_tag(sf_dir)}"

    def _write(path: str) -> None:
        e = _embeddings(spark, sf_dir)
        cells = _cells_expr(_centroids(spark, sf_dir))
        assigned = e.select(
            "vec_id", "v", "nrm",
            (-F.element_at(cells, 1)["nid"]).alias("centroid_id"),
        )
        (
            assigned.write.mode("overwrite")
            .partitionBy("centroid_id")
            .option("path", path)
            .format("parquet")
            .saveAsTable(table)
        )

    return managed_ingest(spark, table, _write)


def ann_ivf_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_ivf`` in its production shape: candidates come from the
    at-rest partitioned inverted-list table (``ivf_lists_ingest``)
    instead of an inline assignment pass — same output rows, same
    oracle. Per query run, only the |queries|·N_PROBE probe rows are
    computed; the corpus branch is a scan of the probed partitions
    (runtime-pruned via dynamic partition pruning off the broadcast
    probe side)."""
    lists = ivf_lists_ingest(spark, sf_dir)
    e = _embeddings(spark, sf_dir)
    probes = _ivf_probes(e, _centroids(spark, sf_dir))
    return _probe_and_rank(lists, probes)


KMEANS_ITERS = 2


def kmeans_refine(spark: SparkSession, sf_dir: str,
                  iters: int = KMEANS_ITERS) -> list:
    """Lloyd's k-means refinement of the fixed seed centroids — the
    engine's iterative-algorithm tier (non-SQL-expressible; registered
    rows-only through ``ann_ivf_kmeans``).

    Each iteration is fully distributed and shuffle-bounded:
    assignment is the literal-broadcast map (``_cells_expr`` — model
    as expression literals, no join), then new centroids come from ONE
    shuffle of (cluster, dim, value) rows — posexplode to 64 rows per
    vector, groupBy (cluster, dim) mean. Only k×dim aggregated rows
    (512 here) ever reach the driver per iteration, which is the same
    model-fetch pattern MLlib's own k-means uses (treeAggregate to
    driver, broadcast back). Centroid components round to 6dp per
    iteration so refits are bit-stable across partitionings."""
    from collections import namedtuple

    Cent = namedtuple("Cent", ["vec_id", "v", "nrm"])
    e = _embeddings(spark, sf_dir).cache()
    try:
        cents = [Cent(int(c.vec_id), list(c.v), float(c.nrm))
                 for c in _centroids(spark, sf_dir)]
        dim = len(cents[0].v)
        for _ in range(iters):
            cells = _cells_expr(cents)
            # Per-dim avg COLUMNS over the cluster key (r14
            # optimization): the old shape posexploded every vector
            # into DIM (cluster, dim, val) rows before the hash
            # aggregate — a DIM× row blowup through the Generate node
            # per iteration. The wide aggregate computes the same
            # means on the same single shuffle (map-side combined, k
            # rows × DIM columns reach the driver — still the MLlib
            # model-fetch shape), with the same 6dp rounding.
            assigned = e.select(
                (-F.element_at(cells, 1)["nid"]).alias("cluster"), "v"
            )
            rows = (
                assigned.groupBy("cluster")
                .agg(
                    *[
                        F.round(
                            F.avg(F.element_at("v", i + 1)), 6
                        ).alias(f"m{i}")
                        for i in range(dim)
                    ]
                )
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cluster[int(r.cluster)] = {
                    i: r[f"m{i}"] for i in range(dim)
                }
            new = []
            for c in cents:
                dims = by_cluster.get(c.vec_id)
                if dims is None:
                    new.append(c)  # empty cluster keeps its centroid
                    continue
                v = [dims[i] for i in range(len(c.v))]
                nrm = sum(x * x for x in v) ** 0.5
                new.append(Cent(c.vec_id, v, nrm))
            cents = new
        return cents
    finally:
        e.unpersist()


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over Lloyd-refined centroids. Oracle-paired: with a
    FIXED iteration count and 6dp-rounded intermediates the fit is
    deterministic, so the oracle unrolls the two Lloyd steps into a
    CTE chain (``_kmeans_oracle``); quality — lower within-cluster
    inertia than the seed model — is asserted in
    tests/test_similarity.py."""
    cents = kmeans_refine(spark, sf_dir)
    return _ivf_topk(_embeddings(spark, sf_dir), cents)


SEMDEDUP_THRESHOLD = 0.4


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation as a first-class query: per-query
    recall of the LSH-bucketed ANN against the exact brute-force
    top-k — the metric an embedding-serving deployment monitors when
    it tunes planes/probes (recall was previously asserted only inside
    tests; a 100 TB index rebuild wants it as a queryable report).

    One left join of the two result sets on (query_id, neighbor_id);
    both sides are the engine's own registry queries, so this also
    pins their composability. Scale: |queries|·k rows per side —
    evaluation is always run over a sampled query set, never the
    corpus."""
    exact = ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = ann_lsh_bucketed(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hits = exact.join(
        approx,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(
                F.when(F.col("an").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_hit"),
        )
        .withColumn(
            "recall", F.round(F.col("n_hit") / F.col("n_exact"), 6)
        )
    )


def _assign_cells_vectorized(e: DataFrame, cent_rows) -> DataFrame:
    """Coarse-cell assignment as an Arrow-batched numpy matmul — the
    kernel production IVF/SemDeDup uses once k grows past a few dozen.
    The expression form (``_cells_expr``) evaluates a zip_with fold
    per (row, centroid), allocating a temp array each time: O(N·k)
    allocations. Here each Arrow batch does ONE (n×d)·(d×k) matmul
    and an argmax — same asymptotics, ~8× less wall at k=80 (SCALE.md
    §10.2). Similarities are rounded to 6dp BEFORE the argmax — the
    exact ranking the expression form and the DuckDB oracle apply
    (``round(c_sim, 6)`` then (sim DESC, centroid_id ASC)) — and ties
    break toward the lowest centroid id (numpy argmax takes the first
    maximum; centroids arrive id-sorted), so all three paths assign
    identically even when two rounded cosines collide."""
    import numpy as np

    cents = sorted(cent_rows, key=lambda r: r.vec_id)
    cmat = np.array([list(c.v) for c in cents], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    ids = np.array([int(c.vec_id) for c in cents], dtype=np.int64)

    def assign(batches):
        for pdf in batches:
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            nrm = np.maximum(pdf["nrm"].to_numpy(), 1e-300)
            sims = np.round((v / nrm[:, None]) @ cmat.T, 6)
            pdf["centroid_id"] = ids[np.argmax(sims, axis=1)]
            yield pdf[["vec_id", "v", "nrm", "centroid_id"]]

    return e.mapInPandas(
        assign, "vec_id long, v array<double>, nrm double, centroid_id long"
    )


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    cent_rows: list | None = None,
    vectorized_assign: bool = True,
) -> DataFrame:
    """Semantic (embedding-space) near-duplicate removal — the
    SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings coarsely, then look for near-duplicates ONLY within a
    cluster, dropping every document that has an earlier (lower-id)
    within-cluster neighbor above the cosine threshold. This completes
    the dedup family: exact (bytes), MinHash/SimHash/n-gram (lexical),
    cross-modal, and now semantic (two docs saying the same thing in
    different words land in the same embedding neighborhood even when
    they share no shingles).

    Spark shape: cluster assignment is the same literal-broadcast pure
    map as ``ann_ivf`` (no shuffle), and the candidate search is a
    self-EQUI-join on ``centroid_id`` — pairwise cost is quadratic
    only within a cell, which is the knob production tunes (k grows
    with corpus size so cells stay bounded; at 100 TB the assigned
    table is the materialized ``ivf_lists_ingest`` layout and each
    cell's pairs co-locate in one partition). No all-pairs anywhere.

    Output is the drop-list: (vec_id, dup_of, cosine_sim) where
    ``dup_of`` is the best-matching earlier neighbor (max cosine, tie
    → min id) — the greedy keep-first-seen variant, deterministic by
    construction.

    The registered default IS the scale shape (VERDICT r5 item 4):
    ``cent_rows=None`` fits k ∝ N (``_semantic_centroids``:
    k = max(8, ceil(n/SEMANTIC_CELL_TARGET)), a rule the DuckDB oracle
    recomputes from ``count(*)`` so both engines agree on the model),
    and ``vectorized_assign=True`` runs the assignment as the
    Arrow/numpy matmul. Both knobs exist because each alone measured
    badly at ×10 data: with k fixed, cells grow linearly and
    within-cell pairs quadratically (13.3× wall, SCALE.md §10.2); with
    the expression-literal assignment, the per-(row, centroid)
    zip_with fold allocates a temp array each time and dominates at
    large k (21.4 s at k=80/×10 vs 2.7 s vectorized). The expression
    path (``vectorized_assign=False``) remains for the equality test
    that pins the two assignment kernels to each other."""
    e = _embeddings(spark, sf_dir)
    if vectorized_assign:
        assigned = _assign_cells_vectorized(
            e, cent_rows or _semantic_centroids(spark, sf_dir)
        )
    else:
        cells = _cells_expr(cent_rows or _semantic_centroids(spark, sf_dir))
        # coalesce: nullability barrier, see _ivf_topk (the self-join
        # below would otherwise inline the cell ranking into BOTH
        # sides' scan filters)
        assigned = e.select(
            "vec_id", "v", "nrm",
            F.coalesce(
                -F.element_at(cells, 1)["nid"], F.lit(-1)
            ).alias("centroid_id"),
        )
    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "centroid_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "centroid_id",
    )
    scored = (
        a.join(b, "centroid_id")
        .where(F.col("b_id") < F.col("a_id"))
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("b_id").alias("dup_of"),
            _cosine("va", "vb", "na", "nb").alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= SEMDEDUP_THRESHOLD)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("dup_of")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "dup_of", "cosine_sim")
    )


_E_SQL = """
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
)
"""

QUERIES = {
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf": ann_ivf,
    "ann_ivf_materialized": ann_ivf_materialized,
    "ann_ivf_kmeans": ann_ivf_kmeans,
    "embedding_quantize": embedding_quantize,
    "ann_bruteforce_int8": ann_bruteforce_int8,
    "ann_bruteforce_int8_stored": ann_bruteforce_int8_stored,
    "dedup_semantic": semantic_dedup,
    "ann_recall_eval": ann_recall_eval,
}


def _sig_sql() -> str:
    """The DuckDB twin of ``_sig_col``: same md5-derived ±1 plane
    literals, same sign threshold, same bit packing."""
    bits = []
    for j, plane in enumerate(_planes()):
        plane_sql = "[" + ", ".join(str(c) for c in plane) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, len(v) + 1), "
            f"i -> v[i::INT] * ({plane_sql})[i::INT])) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(bits)

ORACLES = {
    "ann_bruteforce_topk": f"""
WITH {_E_SQL},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(1, len(q.v) + 1),
                        i -> q.v[i::INT] * c.v[i::INT])) / (q.nrm * c.nrm), 6)
           AS cosine_sim
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {TOP_K}
""",
    "embedding_neardup_pairs": f"""
WITH {_E_SQL}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_sum(list_transform(range(1, len(a.v) + 1),
                      i -> a.v[i::INT] * b.v[i::INT])) / (a.nrm * b.nrm), 6)
         AS cosine_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
                     i -> a.v[i::INT] * b.v[i::INT])) / (a.nrm * b.nrm), 6)
      >= {NEARDUP_THRESHOLD}
""",
    "ann_ivf": f"""
WITH {_E_SQL},
cents AS (
  SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
  FROM n WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
asg AS (
  SELECT vec_id, v, nrm, centroid_id, c_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c_sim DESC, centroid_id) AS c_rank
  FROM (
    SELECT n.vec_id, n.v, n.nrm, c.centroid_id,
           round(list_sum(list_transform(range(1, len(n.v) + 1),
                          i -> n.v[i::INT] * c.cv[i::INT])) / (n.nrm * c.cn), 6)
             AS c_sim
    FROM n CROSS JOIN cents c)
),
assigned AS (SELECT vec_id, v, nrm, centroid_id FROM asg WHERE c_rank = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, centroid_id
  FROM asg WHERE vec_id < {N_QUERIES} AND c_rank <= {N_PROBE}
),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(1, len(p.qv) + 1),
                        i -> p.qv[i::INT] * a.v[i::INT])) / (p.qn * a.nrm), 6)
           AS cosine_sim
  FROM assigned a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
""",
}

# The materialized form computes the same relation as the inline form
# (only the corpus side's physical source differs), so it shares the
# oracle verbatim.
ORACLES["ann_ivf_materialized"] = ORACLES["ann_ivf"]

# unnest + generate_subscripts align positionally; posexplode's dim is
# 0-based, DuckDB's subscripts 1-based — hence pos - 1. DuckDB round()
# is away-from-zero like Spark's HALF_UP, so q matches bit-for-bit.
ORACLES["embedding_quantize"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
),
x AS (
  SELECT vec_id, scale, unnest(v) AS val,
         generate_subscripts(v, 1) AS pos
  FROM s
)
SELECT vec_id, CAST(pos - 1 AS INTEGER) AS dim,
       CAST(CASE WHEN scale = 0 THEN 0 ELSE round(val / scale) END
            AS INTEGER) AS q,
       scale
FROM x
"""

# Integer dot is exact in both engines; the double rescale is the same
# operation sequence, so scores hash-match at 6dp.
ORACLES["ann_bruteforce_int8"] = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
),
q8 AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(
           CASE WHEN scale = 0 THEN 0 ELSE round(x / scale) END
           AS INTEGER)) AS qv
  FROM s
),
n8 AS (
  SELECT vec_id, qv,
         sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * x)))
           AS nrm8
  FROM q8
),
nz AS (
  SELECT * FROM n8 WHERE nrm8 > 0
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(1, len(c.qv) + 1),
                 i -> CAST(c.qv[i::INT] AS BIGINT) * q.qv[i::INT]))
               / (c.nrm8 * q.nrm8), 6) AS cosine_sim
  FROM nz q JOIN nz c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM pairs)
WHERE rank <= {TOP_K}
"""

# The stored form computes the same relation as the in-flight form
# (only the scan side's physical source differs), so it shares the
# oracle verbatim — the ann_ivf_materialized precedent.
ORACLES["ann_bruteforce_int8_stored"] = ORACLES["ann_bruteforce_int8"]

# Same assignment CTEs as the ann_ivf oracle — except the centroid
# count follows the engine's k∝N rule, recomputed here from count(*)
# so oracle and engine always agree on the model — then the
# within-cell pairwise threshold + best-earlier-match window.
ORACLES["dedup_semantic"] = f"""
WITH {_E_SQL},
cents AS (
  SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
  FROM n WHERE vec_id >= 100
    AND vec_id < 100 + (SELECT GREATEST({N_CENTROIDS},
          CAST(ceil(count(*) / {SEMANTIC_CELL_TARGET}.0) AS BIGINT))
        FROM n)
),
asg AS (
  SELECT vec_id, v, nrm, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c_sim DESC, centroid_id) AS c_rank
  FROM (
    SELECT n.vec_id, n.v, n.nrm, c.centroid_id,
           round(list_sum(list_transform(range(1, len(n.v) + 1),
                          i -> n.v[i::INT] * c.cv[i::INT])) / (n.nrm * c.cn), 6)
             AS c_sim
    FROM n CROSS JOIN cents c)
),
assigned AS (SELECT vec_id, v, nrm, centroid_id FROM asg WHERE c_rank = 1),
hits AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS dup_of,
         round(list_sum(list_transform(range(1, len(a.v) + 1),
                        i -> a.v[i::INT] * b.v[i::INT])) / (a.nrm * b.nrm), 6)
           AS cosine_sim
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
)
SELECT vec_id, dup_of, cosine_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine_sim DESC, dup_of) AS rn
  FROM hits WHERE cosine_sim >= {SEMDEDUP_THRESHOLD})
WHERE rn = 1
"""

def _cos_sql(av: str, bv: str, an: str, bn: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, len({av}) + 1), "
        f"i -> {av}[i::INT] * {bv}[i::INT])) / ({an} * {bn}), 6)"
    )


def _kmeans_oracle(iters: int = KMEANS_ITERS) -> str:
    """SQL replay of ``kmeans_refine`` + the IVF query: Lloyd's
    iterations are deterministic given the fixed seed centroids and the
    per-iteration 6dp rounding, so a fixed ``iters`` unrolls into a CTE
    chain — assignment (rank cosine to current centroids), update
    (per-(cluster, dim) rounded mean), empty clusters carry forward —
    followed by the standard probe/rank tail. This is the honest limit
    of SQL-expressing an iterative fit: the ITERATION COUNT must be a
    constant; convergence-driven loops stay engine-side."""
    chains = []
    prev = "cent0"
    for k in range(1, iters + 1):
        chains.append(f"""
asg{k} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT n.vec_id, c.cid,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             {_cos_sql('n.v', 'c.cv', 'n.nrm', 'c.cn')} DESC, c.cid) AS rn
    FROM n CROSS JOIN {prev} c)
  WHERE rn = 1
),
upd{k} AS (
  SELECT a.cluster AS cid, d.dim, round(avg(d.val), 6) AS val
  FROM asg{k} a JOIN dims d USING (vec_id)
  GROUP BY 1, 2
),
new{k} AS (
  SELECT cid, list(val ORDER BY dim) AS cv,
         sqrt(list_sum(list_transform(list(val ORDER BY dim),
                                      x -> x * x))) AS cn
  FROM upd{k} GROUP BY cid
),
cent{k} AS (
  SELECT * FROM new{k}
  UNION ALL
  SELECT c.cid, c.cv, c.cn FROM {prev} c
  WHERE c.cid NOT IN (SELECT cid FROM new{k})
)""")
        prev = f"cent{k}"
    return f"""
WITH {_E_SQL},
dims AS (
  SELECT vec_id, unnest(v) AS val,
         CAST(generate_subscripts(v, 1) AS INTEGER) AS dim
  FROM n
),
cent0 AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
  WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
{",".join(chains)},
asg AS (
  SELECT vec_id, v, nrm, centroid_id, c_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c_sim DESC, centroid_id) AS c_rank
  FROM (
    SELECT n.vec_id, n.v, n.nrm, c.cid AS centroid_id,
           {_cos_sql('n.v', 'c.cv', 'n.nrm', 'c.cn')} AS c_sim
    FROM n CROSS JOIN {prev} c)
),
assigned AS (SELECT vec_id, v, nrm, centroid_id FROM asg WHERE c_rank = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, centroid_id
  FROM asg WHERE vec_id < {N_QUERIES} AND c_rank <= {N_PROBE}
),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
         {_cos_sql('p.qv', 'a.v', 'p.qn', 'a.nrm')} AS cosine_sim
  FROM assigned a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


ORACLES["ann_ivf_kmeans"] = _kmeans_oracle()

ORACLES["ann_lsh_bucketed"] = f"""
WITH {_E_SQL},
sig AS (
  SELECT vec_id, v, nrm, CAST({_sig_sql()} AS INTEGER) AS sig FROM n
),
probes AS (
  SELECT vec_id AS query_id, qv, qn,
         unnest([sig, {", ".join(f"xor(sig, {1 << j})" for j in range(N_PLANES))}]) AS sig
  FROM (SELECT vec_id, v AS qv, nrm AS qn, sig FROM sig
        WHERE vec_id < {N_QUERIES})
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(1, len(p.qv) + 1),
                        i -> p.qv[i::INT] * c.v[i::INT])) / (p.qn * c.nrm), 6)
           AS cosine_sim
  FROM sig c JOIN probes p USING (sig)
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""

# Recall eval composes the two result relations; both CTEs nest the
# existing oracles verbatim (DuckDB supports WITH inside a subquery),
# so this oracle can never drift from the queries it grades.
ORACLES["ann_recall_eval"] = f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({ORACLES["ann_bruteforce_topk"]})
),
approx AS (
  SELECT query_id, neighbor_id FROM ({ORACLES["ann_lsh_bucketed"]})
)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       round(count(a.neighbor_id) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
GROUP BY e.query_id
"""


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (r9, staged): the COMPUTE
# reduction the other tiers don't give. LSH buckets candidates and
# IVF prunes cells, but both still pay full-dimension cosine on every
# candidate; a JL sign projection (Achlioptas 2003: R[d][j] in {+1,-1}
# preserves pairwise inner products within ~1/sqrt(k)) shrinks every
# vector DIM -> RP_DIMS once, candidates are ranked in the cheap
# space (DIM/RP_DIMS = 2x fewer multiplies per pair), and exact
# cosine is paid only for the RP_CAND survivors per query. At 100 TB
# the projection is a zero-shuffle pure map over the corpus (the sign
# matrix is a compile-time literal — nothing is fit, nothing is
# collected), composable in front of IVF/PQ.
#
# FIDELITY IS MARGIN-DEPENDENT, and the fixture is adversarial: JL
# noise at k dims is ~1/sqrt(k) on cosine (k=32 -> ~0.18), while the
# synthetic embeddings' top-10 boundary sits only ~0.17 above rank-100
# (near-uniform vectors, chance-level margins) — so measured recall@10
# here is ~0.5, graded machine-visibly next to every other tier in
# ``recall.ann_recall_matrix``. On production text embeddings, whose
# cluster margins are a multiple of that, the same k preserves the
# ranking; RP_DIMS is the knob and the matrix row is the meter.
# Deploy as a pre-filter composed with IVF/PQ, not alone.
#
# The matrix is md5-seeded and embedded as literals in BOTH the Spark
# plan and the oracle SQL (generated from the same Python constant),
# and projected similarities are 6dp-rounded before ranking, so the
# candidate sets — and therefore the final top-k — are bit-identical
# across engines.
# ---------------------------------------------------------------------------

RP_DIMS = 32
RP_CAND = 5 * TOP_K


def _rp_matrix() -> list[list[float]]:
    """RP_DIMS columns of DIM signs, deterministic from md5 — shared
    verbatim by the Spark expressions and the oracle literals."""
    cols = []
    for j in range(RP_DIMS):
        col = []
        for d in range(DIM):
            h = hashlib.md5(f"rp|{d}|{j}".encode()).hexdigest()
            col.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        cols.append(col)
    return cols


_RP = _rp_matrix()


def _project(df: DataFrame, vcol: str = "v") -> DataFrame:
    """Add the RP_DIMS projected vector ``p`` and its norm ``pn`` —
    a pure map (each component is an ordered fold against a literal
    sign column, so both engines accumulate identically)."""
    comps = [
        F.expr(
            f"aggregate(zip_with({vcol}, array("
            + ", ".join(f"{x}D" for x in _RP[j])
            + "), (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
        for j in range(RP_DIMS)
    ]
    out = df.withColumn("p", F.array(*comps))
    return out.withColumn(
        "pn",
        F.sqrt(
            F.expr("aggregate(transform(p, x -> x * x), 0D,"
                   " (acc, x) -> acc + x)")
        ),
    )


def ann_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k via JL random projection: cheap-space candidates, exact re-rank.

    Rank ALL candidates in the 32-dim projected space (2x cheaper per
    pair), keep RP_CAND per query, then pay exact 64-dim cosine only
    for those survivors.
    Output schema matches ``ann_bruteforce_topk`` so
    ``ann_recall_matrix`` grades it against the exact tier (see the
    module-level fidelity note: ~0.5 recall@10 on this margin-free
    fixture is the expected JL behavior, not a bug)."""
    e = _project(_embeddings(spark, sf_dir))
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("p").alias("qp"),
        F.col("pn").alias("qpn"),
    )
    pairs = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "qv", "qn", "v", "nrm",
        _cosine("qp", "p", "qpn", "pn").alias("proj_sim"),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("proj_sim").desc(), F.col("neighbor_id")
    )
    cand = pairs.withColumn("crank", F.row_number().over(wc)).where(
        F.col("crank") <= RP_CAND
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            _cosine("qv", "v", "qn", "nrm").alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _rp_proj_sql() -> str:
    """The projected-vector expression as a DuckDB list literal of
    RP_DIMS ordered folds against the same sign columns."""
    comps = []
    for j in range(RP_DIMS):
        lits = ", ".join(str(x) for x in _RP[j])
        comps.append(
            "list_sum(list_transform(range(1, len(v) + 1), "
            f"i -> v[i::INT] * ([{lits}])[i::INT]))"
        )
    return "[" + ", ".join(comps) + "]"


STAGED_ORACLES = {
    "ann_rp_topk": f"""
WITH {_E_SQL},
proj AS (
  SELECT vec_id, v, nrm, p,
         sqrt(list_sum(list_transform(p, x -> x * x))) AS pn
  FROM (SELECT vec_id, v, nrm, {_rp_proj_sql()} AS p FROM n)
),
q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, p AS qp, pn AS qpn
  FROM proj WHERE vec_id < {N_QUERIES}
),
cand AS (
  SELECT * FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, q.qn, c.v, c.nrm,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_sum(list_transform(
                        range(1, {RP_DIMS} + 1),
                        i -> q.qp[i::INT] * c.p[i::INT]))
                      / (q.qpn * c.pn), 6) DESC,
                      c.vec_id) AS crank
    FROM proj c CROSS JOIN q
    WHERE c.vec_id <> q.query_id)
  WHERE crank <= {RP_CAND}
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id)
           AS rank
  FROM (
    SELECT query_id, neighbor_id,
           round(list_sum(list_transform(range(1, len(qv) + 1),
                          i -> qv[i::INT] * v[i::INT])) / (qn * nrm), 6)
             AS cosine_sim
    FROM cand))
WHERE rank <= {TOP_K}
""",
}

STAGED_QUERIES = {
    "ann_rp_topk": ann_rp_topk,
}
