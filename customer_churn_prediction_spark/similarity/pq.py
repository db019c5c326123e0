"""Product quantization (PQ): codebook training, encoding, and
asymmetric-distance (ADC) search.

Completes the embedding-store ladder: float32 → int8 scalar
quantization (ann.py:308, 4× smaller) → PQ codes (this module,
DIM×4 bytes → M bytes per vector = 64× smaller here), the layout an
embedding corpus at 100 TB actually serves from (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

* **Training** (``train_pq``) — per-subspace Lloyd, all M subspaces in
  ONE distributed pass per iteration: explode each vector into
  (m, subvector) rows, assign by argmin L2 against the codebook
  literals (a map — the model rides in the plan, no join), update via
  one (m, code, dim) hash aggregate. Only M·K·SUBDIM aggregated rows
  (1024 here) reach the driver per iteration — the same model-fetch
  shape as MLlib k-means and ann.py's ``kmeans_refine``. Seeds are the
  subvectors of fixed vec_ids (the IVF seed discipline), so the fit is
  deterministic; per-iteration 6dp rounding makes refits bit-stable.
* **Encoding** (``embedding_pq``) — pure map: per subspace, the argmin
  over 16 rounded literal distances; codes emitted as flat INT columns
  plus the reconstruction MSE. Zero shuffles.
* **ADC search** (``ann_pq_adc``) — the query stays EXACT (asymmetric):
  a 6dp-rounded lookup table LUT[q][m][code] = ||q_m − C[m][code]||²
  is computed engine-side (5·M·K = 320 values), collected, and folded
  back into the plan as literals; each stored vector's approximate
  distance is M array lookups + a fixed-order sum — a zero-join,
  zero-broadcast map over the code table, then the usual per-query
  top-k window. At scale this is the plan that never touches the
  float store: scan M bytes/vector, no shuffle until the k·|Q| result
  rows.

Determinism for oracle parity: every distance is rounded to 6dp
before any argmin/rank (ties break to the lowest code/id), centroid
means round to 6dp per iteration, and every multi-term sum is written
as an explicit left-assoc chain in BOTH engines. The DuckDB oracle
derives the codebook itself by unrolling the fixed iteration count
into a CTE chain (the ``_kmeans_oracle`` pattern, ann.py:967).

Staged for registry round 6 (driver budget full in r5);
tests/test_pq.py enforces oracle parity meanwhile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from .ann import (
    DIM,
    N_CENTROIDS,
    N_PROBE,
    N_QUERIES,
    TOP_K,
    _cells_expr,
    _centroids,
    _embeddings,
    _ivf_probes,
)

PQ_M = 4               # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16              # centroids per subspace -> 4-bit codes
PQ_ITERS = 2
PQ_SEED_BASE = 100     # vec_id in [100, 116) seed the codebooks


def _cb_literal(cb: list[list[list[float]]]) -> str:
    """codebook[m][j][d] -> a nested SQL array literal."""
    subs = []
    for m in range(PQ_M):
        cents = ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in cb[m][j]) + ")"
            for j in range(PQ_K)
        )
        subs.append(f"array({cents})")
    return "array(" + ", ".join(subs) + ")"


def _dists_expr(sv_sql: str, cb_m_sql: str) -> str:
    """16 rounded L2² distances of one subvector to one sub-codebook."""
    return (
        f"transform({cb_m_sql}, c -> round(aggregate("
        f"zip_with({sv_sql}, c, (x, y) -> (x - y) * (x - y)), "
        f"0D, (acc, x) -> acc + x), 6))"
    )


def train_pq(spark: SparkSession, sf_dir: str,
             iters: int = PQ_ITERS) -> list[list[list[float]]]:
    """Lloyd-refined per-subspace codebooks (deterministic, 6dp).
    Memoized per (application, sf_dir, iters): ``embedding_pq`` and
    ``ann_pq_adc`` share one fit instead of each re-running the
    distributed Lloyd passes."""
    key = (spark.sparkContext.applicationId, sf_dir, iters)
    version = memo.table_version(sf_dir, "embeddings")
    cached = memo.get("pq.codebook", key, version)
    if cached is not None:
        return cached
    e = _embeddings(spark, sf_dir).cache()
    try:
        seed_rows = {
            int(r.vec_id): list(r.v)
            for r in e.where(
                (F.col("vec_id") >= PQ_SEED_BASE)
                & (F.col("vec_id") < PQ_SEED_BASE + PQ_K)
            ).collect()
        }
        cb = [
            [
                seed_rows[PQ_SEED_BASE + j][m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
                for j in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
        for _ in range(iters):
            cb_sql = _cb_literal(cb)
            # one row per (vector, subspace); assignment is a map
            sub = e.select(
                "vec_id",
                F.posexplode(
                    F.expr(
                        "array("
                        + ", ".join(
                            f"slice(v, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
                            for m in range(PQ_M)
                        )
                        + ")"
                    )
                ).alias("m", "sv"),
            )
            # codebook literal parsed once per round (r14): the
            # distance array gets its own projection, then the argmin
            # references it by name instead of re-embedding the
            # literal (same expressions after constant folding).
            dists = _dists_expr("sv", f"element_at({cb_sql}, m + 1)")
            staged = sub.select("m", "sv", F.expr(dists).alias("d"))
            assigned = staged.select(
                "m",
                F.expr("array_position(d, array_min(d)) - 1")
                .cast("int").alias("code"),
                F.posexplode("sv").alias("dim", "val"),
            )
            rows = (
                assigned.groupBy("m", "code", "dim")
                .agg(F.round(F.avg("val"), 6).alias("mean"))
                .collect()
            )
            upd: dict[tuple[int, int], dict[int, float]] = {}
            for r in rows:
                upd.setdefault((int(r.m), int(r.code)), {})[int(r.dim)] = r.mean
            cb = [
                [
                    [upd[(m, j)][d] for d in range(PQ_SUBDIM)]
                    if (m, j) in upd
                    else cb[m][j]  # empty cell keeps its centroid
                    for j in range(PQ_K)
                ]
                for m in range(PQ_M)
            ]
        return memo.put("pq.codebook", key, version, cb)
    finally:
        e.unpersist()


def _codes_frame(
    e: DataFrame, cb: list[list[list[float]]], extra: tuple = ()
) -> DataFrame:
    """vec_id [, *extra], code0..codeM-1 (int), recon_mse — a pure map.
    ``extra`` names passthrough columns of ``e`` (e.g. the IVF cell
    assignment) to carry alongside the codes in the same projection.

    r14 (optimization): the codebook literal is parsed ONCE. The old
    shape inlined the full M×K×SUBDIM literal into every subspace's
    distance expression (three references per ``named_struct`` × M
    subspaces = 12 copies, ~240 KB of SQL text), and classic PySpark
    analyzes eagerly per transformation — parse+analyze of those
    literals dominated the query's Python-side build (~0.6 s per call
    at the bench; profiled r14). Now one projection computes the
    per-subspace distance arrays through a single fold that embeds the
    codebook once; codes/errors are cheap references to it. Same
    expressions after constant folding — values are bit-identical
    (pinned by the unchanged oracle)."""
    cb_sql = _cb_literal(cb)
    cols = ["vec_id", *extra]
    # all M distance arrays from ONE expression that parses the
    # codebook literal once: dall[m][j] = round(L2²(sv_m, cb[m][j]), 6)
    dall = (
        f"transform(sequence(1, {PQ_M}), m -> "
        + _dists_expr(
            f"slice(v, (m - 1) * {PQ_SUBDIM} + 1, {PQ_SUBDIM})",
            f"element_at({cb_sql}, m)",
        )
        + ")"
    )
    cols.append(F.expr(dall).alias("dall"))
    staged = e.select(*cols)
    err_terms = [f"array_min(element_at(dall, {m + 1}))" for m in range(PQ_M)]
    recon = " + ".join(err_terms)  # explicit left-assoc chain
    return staged.select(
        "vec_id",
        *extra,
        *[
            F.expr(
                f"cast(array_position(element_at(dall, {m + 1}), "
                f"array_min(element_at(dall, {m + 1}))) - 1 as int)"
            ).alias(f"code{m}")
            for m in range(PQ_M)
        ],
        F.expr(f"round(({recon}) / {DIM}, 6)").alias("recon_mse"),
    )


def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (fixed iters) + encode every vector. Encoding itself is
    zero-shuffle; training cost is the two documented Lloyd passes."""
    cb = train_pq(spark, sf_dir)
    return _codes_frame(_embeddings(spark, sf_dir), cb)


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k of the 5 fixture queries over the PQ
    code table — M lookups + a fixed-order sum per stored vector.

    BASELINE — prices the FULL corpus per query (no cell pruning) and
    re-encodes it inline; deploy ``ann_ivf_pq_stored``."""
    cb = train_pq(spark, sf_dir)
    e = _embeddings(spark, sf_dir)
    # Engine-computed LUT (rounded 6dp) so literals match the oracle's
    # own SQL-derived values bit-for-bit; memoized with the codebook it
    # derives from (r14 — one LUT job per session, not per build).
    lut_rows = _lut_rows(spark, sf_dir, cb)
    codes = _codes_frame(e, cb)
    per_query = []
    for r in sorted(lut_rows, key=lambda r: r.vec_id):
        terms = []
        for m in range(PQ_M):
            arr = "array(" + ", ".join(f"{x!r}D" for x in r[f"lut{m}"]) + ")"
            terms.append(f"element_at({arr}, code{m} + 1)")
        per_query.append(
            (int(r.vec_id), f"round({' + '.join(terms)}, 6)")
        )
    stack_args = ", ".join(
        f"{qid}L, {expr}" for qid, expr in per_query
    )
    long = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            f"stack({len(per_query)}, {stack_args})"
        ).alias("query_id", "adc_dist"),
    ).where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        long.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC architecture): the coarse IVF cells
    prune WHICH vectors are candidates, the PQ codes price them — the
    only composition that scales ANN to 100 TB, because neither a full
    scan (brute force / plain ADC touches every code) nor full-precision
    candidate vectors (plain IVF re-reads floats) survives there.

    One pure-map pass over the store computes BOTH the cell assignment
    and the PQ codes (shared projection — not two scans); candidates
    come from the broadcast probe equi-join on ``centroid_id`` exactly
    as in ``ann_ivf``; the ADC distance is M table lookups against the
    per-query LUT literals, evaluated only on the probed sliver. At
    rest this is ``ivf_lists_ingest`` storing codes instead of floats:
    partition-pruned probes over a store 16× smaller per vector.

    Coarse ranking is cosine (matching ``ann_ivf``'s cells), fine
    ranking is L2² ADC (matching ``ann_pq_adc``) — the mixed metric is
    deliberate and documented: FAISS's IVF+PQ pairs an arbitrary
    coarse quantizer with L2 ADC the same way.

    BASELINE — the inline form re-encodes the corpus per query; deploy
    ``ann_ivf_pq_stored``, which serves the same relation from the
    at-rest cell-partitioned code table."""
    cb = train_pq(spark, sf_dir)
    cent_rows = _centroids(spark, sf_dir)
    e = _embeddings(spark, sf_dir)
    cells = _cells_expr(cent_rows)
    assigned = e.select(
        "vec_id",
        "v",
        (-F.element_at(cells, 1)["nid"]).alias("centroid_id"),
    )
    coded = _codes_frame(assigned, cb, extra=("centroid_id",))
    return _probe_and_adc_rank(spark, sf_dir, coded, cb, cent_rows)


def _lut_rows(spark: SparkSession, sf_dir: str, cb) -> list:
    """Engine-computed, 6dp-rounded per-(query, subspace) LUT rows,
    sorted by vec_id; memoized per (application, sf_dir, PQ_ITERS).
    The LUTs are a function of the memoized codebook and the fixture
    query vectors, so one fetch serves every ADC build in a session.
    The codebook literal is parsed once (the _codes_frame r14 shape)."""
    key = (spark.sparkContext.applicationId, sf_dir, PQ_ITERS)
    version = memo.table_version(sf_dir, "embeddings")
    cached = memo.get("pq.lut", key, version)
    if cached is not None:
        return cached
    e = _embeddings(spark, sf_dir)
    cb_sql = _cb_literal(cb)
    dall = (
        f"transform(sequence(1, {PQ_M}), m -> "
        + _dists_expr(
            f"slice(v, (m - 1) * {PQ_SUBDIM} + 1, {PQ_SUBDIM})",
            f"element_at({cb_sql}, m)",
        )
        + ")"
    )
    staged = e.where(F.col("vec_id") < N_QUERIES).select(
        "vec_id", F.expr(dall).alias("dall")
    )
    rows = sorted(
        staged.select(
            "vec_id",
            *[
                F.expr(f"element_at(dall, {m + 1})").alias(f"lut{m}")
                for m in range(PQ_M)
            ],
        ).collect(),
        key=lambda r: r.vec_id,
    )
    return memo.put("pq.lut", key, version, rows)


def _adc_lut_expr(spark: SparkSession, sf_dir: str, cb) -> str:
    """Per-(query, subspace) LUTs as one 2D literal per subspace,
    indexed by (query_id, code) — engine-computed and 6dp-rounded so
    the values match the oracle's SQL-derived LUT bit-for-bit."""
    lut_rows = _lut_rows(spark, sf_dir, cb)
    terms = []
    for m in range(PQ_M):
        rows_sql = ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in r[f"lut{m}"]) + ")"
            for r in lut_rows
        )
        terms.append(
            f"element_at(element_at(array({rows_sql}), "
            f"cast(query_id as int) + 1), code{m} + 1)"
        )
    return " + ".join(terms)


def _probe_and_adc_rank(
    spark: SparkSession, sf_dir: str, coded: DataFrame, cb, cent_rows
) -> DataFrame:
    """The shared IVF-PQ query tail: broadcast-probe join on
    ``centroid_id`` over any (vec_id, centroid_id, code0..M-1) frame —
    in-flight or at-rest — then LUT-ADC score and per-query top-k."""
    probes = _ivf_probes(
        _embeddings(spark, sf_dir), cent_rows
    ).select("query_id", "centroid_id")
    cands = coded.join(F.broadcast(probes), "centroid_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            f"round({_adc_lut_expr(spark, sf_dir, cb)}, 6)"
        ).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivf_pq_store_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest IVF-PQ index: every vector's coarse cell AND PQ
    codes computed once at ingest, written as a managed parquet table
    hive-partitioned by ``centroid_id`` with ``tinyint`` codes — the
    FAISS-file equivalent expressed as a table. Probes then read
    N_PROBE of the partitions (runtime partition pruning) and each row
    costs M code bytes instead of DIM floats: the two reductions —
    which rows, and bytes per row — that make 100 TB ANN serveable.
    Same idempotent tag/rebuild discipline as the other ingests."""
    from ..sources.writers import managed_ingest, sf_tag

    table = f"ivf_pq_store_{sf_tag(sf_dir)}"

    def _write(path: str) -> None:
        cb = train_pq(spark, sf_dir)
        e = _embeddings(spark, sf_dir)
        cells = _cells_expr(_centroids(spark, sf_dir))
        assigned = e.select(
            "vec_id",
            "v",
            (-F.element_at(cells, 1)["nid"]).alias("centroid_id"),
        )
        coded = _codes_frame(assigned, cb, extra=("centroid_id",))
        stored = coded.select(
            "vec_id",
            *[
                F.col(f"code{m}").cast("tinyint").alias(f"code{m}")
                for m in range(PQ_M)
            ],
            "centroid_id",
        )
        (
            stored.write.mode("overwrite")
            .partitionBy("centroid_id")
            .option("path", path)
            .format("parquet")
            .saveAsTable(table)
        )

    return managed_ingest(spark, table, _write)


def ann_ivf_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_ivf_pq`` in its production shape: candidates come from the
    at-rest partitioned code table (``ivf_pq_store_ingest``) — same
    output rows, same oracle (the tinyint→int round trip is
    value-exact). Per query run nothing of the corpus is re-encoded;
    the scan reads only the probed cells' code files."""
    cb = train_pq(spark, sf_dir)
    store = ivf_pq_store_ingest(spark, sf_dir).select(
        "vec_id",
        *[F.col(f"code{m}").cast("int").alias(f"code{m}") for m in range(PQ_M)],
        "centroid_id",
    )
    return _probe_and_adc_rank(
        spark, sf_dir, store, cb, _centroids(spark, sf_dir)
    )


# ------------------------------------------------------------------ oracles

_L2_SQL = (
    "round(list_sum(list_transform(range(1, {n} + 1), "
    "i -> ({a}[i::INT] - {b}[i::INT]) * ({a}[i::INT] - {b}[i::INT]))), 6)"
)


def _pq_cte_chain(iters: int = PQ_ITERS) -> str:
    """cb0 (seed subvectors) -> cb{iters} via unrolled Lloyd, all in
    SQL. Mirrors train_pq: rounded distances, lowest-code ties,
    6dp-rounded means, empty cells carry forward."""
    l2 = _L2_SQL.format(n=PQ_SUBDIM, a="s.sv", b="c.cv")
    chains = []
    prev = "cb0"
    for k in range(1, iters + 1):
        chains.append(f"""
asg{k} AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {l2} ASC, c.code) AS rn
    FROM sub s JOIN {prev} c ON c.m = s.m)
  WHERE rn = 1
),
upd{k} AS (
  SELECT a.m, a.code, d.dim, round(avg(d.val), 6) AS val
  FROM asg{k} a
  JOIN subdims d ON d.vec_id = a.vec_id AND d.m = a.m
  GROUP BY 1, 2, 3
),
new{k} AS (
  SELECT m, code, list(val ORDER BY dim) AS cv
  FROM upd{k} GROUP BY 1, 2
),
cb{k} AS (
  SELECT * FROM new{k}
  UNION ALL
  SELECT c.m, c.code, c.cv FROM {prev} c
  WHERE NOT EXISTS (SELECT 1 FROM new{k} n
                    WHERE n.m = c.m AND n.code = c.code)
)""")
        prev = f"cb{k}"
    return ",".join(chains)


_PQ_BASE_SQL = f"""
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sub AS (
  SELECT vec_id, m,
         list_transform(range(1, {PQ_SUBDIM} + 1),
                        i -> v[(m * {PQ_SUBDIM} + i)::INT]) AS sv
  FROM (SELECT vec_id, v, unnest(range(0, {PQ_M})) AS m FROM e)
),
subdims AS (
  SELECT vec_id, m, unnest(sv) AS val,
         CAST(generate_subscripts(sv, 1) AS INTEGER) AS dim
  FROM sub
),
cb0 AS (
  SELECT m, (vec_id - {PQ_SEED_BASE}) AS code, sv AS cv
  FROM sub
  WHERE vec_id >= {PQ_SEED_BASE} AND vec_id < {PQ_SEED_BASE + PQ_K}
),
{_pq_cte_chain()}
"""

_FINAL_CB = f"cb{PQ_ITERS}"

_CODES_SQL = f"""
codesF AS (
  SELECT vec_id, m, code, d FROM (
    SELECT s.vec_id, s.m, c.code,
           {_L2_SQL.format(n=PQ_SUBDIM, a="s.sv", b="c.cv")} AS d,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_L2_SQL.format(n=PQ_SUBDIM, a="s.sv", b="c.cv")} ASC,
                                       c.code) AS rn
    FROM sub s JOIN {_FINAL_CB} c ON c.m = s.m)
  WHERE rn = 1
)
"""

_RECON_CHAIN = " + ".join(
    f"max(CASE WHEN m = {m} THEN d END)" for m in range(PQ_M)
)

PQ_ORACLE = f"""
WITH {_PQ_BASE_SQL},
{_CODES_SQL}
SELECT vec_id,
       {", ".join(f"CAST(max(CASE WHEN m = {m} THEN code END) AS INTEGER) AS code{m}" for m in range(PQ_M))},
       round(({_RECON_CHAIN}) / {DIM}, 6) AS recon_mse
FROM codesF
GROUP BY vec_id
"""

_ADC_CHAIN = " + ".join(
    f"max(CASE WHEN m = {m} THEN d END)" for m in range(PQ_M)
)

ADC_ORACLE = f"""
WITH {_PQ_BASE_SQL},
{_CODES_SQL},
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code,
         {_L2_SQL.format(n=PQ_SUBDIM, a="q.sv", b="c.cv")} AS d
  FROM sub q JOIN {_FINAL_CB} c ON c.m = q.m
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT t.query_id, t.vec_id AS neighbor_id,
         round(({_ADC_CHAIN}), 6) AS adc_dist
  FROM (
    SELECT l.query_id, cf.vec_id, cf.m, l.d
    FROM codesF cf JOIN lut l ON l.m = cf.m AND l.code = cf.code) t
  WHERE t.vec_id <> t.query_id
  GROUP BY t.query_id, t.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, adc_dist, rank FROM ranked
WHERE rank <= {TOP_K}
"""

IVF_PQ_ORACLE = f"""
WITH {_PQ_BASE_SQL},
{_CODES_SQL},
nv AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
  FROM nv WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
asg AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c_sim DESC, centroid_id) AS c_rank
  FROM (
    SELECT nv.vec_id, c.centroid_id,
           round(list_sum(list_transform(range(1, len(nv.v) + 1),
                          i -> nv.v[i::INT] * c.cv[i::INT])) / (nv.nrm * c.cn), 6)
             AS c_sim
    FROM nv CROSS JOIN cents c)
),
assigned AS (SELECT vec_id, centroid_id FROM asg WHERE c_rank = 1),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM asg
  WHERE vec_id < {N_QUERIES} AND c_rank <= {N_PROBE}
),
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code,
         {_L2_SQL.format(n=PQ_SUBDIM, a="q.sv", b="c.cv")} AS d
  FROM sub q JOIN {_FINAL_CB} c ON c.m = q.m
  WHERE q.vec_id < {N_QUERIES}
),
cands AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
adc AS (
  SELECT t.query_id, t.vec_id AS neighbor_id,
         round(({_ADC_CHAIN}), 6) AS adc_dist
  FROM (
    SELECT cd.query_id, cd.vec_id, cf.m, l.d
    FROM cands cd
    JOIN codesF cf ON cf.vec_id = cd.vec_id
    JOIN lut l ON l.query_id = cd.query_id AND l.m = cf.m AND l.code = cf.code) t
  GROUP BY t.query_id, t.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= {TOP_K}
"""

# Staged registry surface — wire into plans/registry._MODULES (plus
# PRIORITY) in round 6 when driver-budget slots rotate free.
QUERIES = {
    "embedding_pq": embedding_pq,
    "ann_pq_adc": ann_pq_adc,
    "ann_ivf_pq": ann_ivf_pq,
    "ann_ivf_pq_stored": ann_ivf_pq_stored,
}
# The stored form computes the same relation as the inline form (only
# the code table's physical source differs), so it shares the oracle.
ORACLES = {
    "embedding_pq": PQ_ORACLE,
    "ann_pq_adc": ADC_ORACLE,
    "ann_ivf_pq": IVF_PQ_ORACLE,
    "ann_ivf_pq_stored": IVF_PQ_ORACLE,
}
