"""Multi-feature drift: PSI of every RFM model input, one report.

``drift_psi`` watches one order-level column; the report a model owner
actually pages on is per-FEATURE drift — did the distribution of each
model input (recency / frequency / monetary) move between the training
snapshot and a later scoring snapshot. Features are per-customer
aggregates, so the comparison is between two feature COMPUTATIONS at
two as-of dates, not two row slices.

Scale design:

* **One pushed-down scan, CASE-split double feature build.** The
  baseline window (training features: orders < FEAT_END, as-of ASOF)
  and the shifted window (scoring features: all orders < LABEL_END,
  as-of six months later) overlap, so a single scan over the union
  range feeds ONE per-customer aggregate computing BOTH feature sets
  as conditional columns — never two scans, never a self-join of
  features.
* **Fixed literal bands** (the calibration/IV edges — ``ml/
  calibration.py``), then ``stack`` unpivots (feature, side, band)
  rows BEFORE the tiny count aggregate; the PSI formula itself is the
  ONE shared implementation, ``monitoring.psi_from_counts``,
  partitioned by feature via its ``by`` parameter.
* A customer inactive in a window has NO features on that side (all
  three bands NULL via the activity guard, dropped before counting) —
  PSI compares the ACTIVE populations; ``base_n``/``curr_n`` sums let
  a reader separate population-mix shift from shape shift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import ASOF, FEAT_END_EXCL, FEAT_START, LABEL_END_EXCL
from ..operators import labeling
from .calibration import _FREQ_CAP, _MON_CAP, _MON_WIDTH, _REC_CAP, _REC_WIDTH
from .monitoring import _PSI_EPS, _PSI_NBINS, psi_from_counts, window_rfm

# the scoring snapshot: six months after the training as-of
ASOF_CURR = "1998-06-30"


def drift_psi_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature PSI between the training and scoring snapshots —
    one row per monitored feature with its stability verdict."""
    # the module's LABEL_END_EXCL, read per call, ends the scoring side
    o = labeling.window_orders(spark, sf_dir, LABEL_END_EXCL)
    in_base = labeling.in_feature_window()

    def feats(cond, asof, tag):
        return window_rfm(cond, asof, f"{tag}_rec", f"{tag}_freq", f"{tag}_mon")

    per_cust = o.groupBy("o_custkey").agg(
        *feats(in_base, ASOF, "b"),
        *feats(F.lit(True), ASOF_CURR, "c"),
    )

    def bands(tag):
        # activity guard: no orders in the window (freq 0) -> NULL
        # bands on that side, dropped before counting
        g = f"{tag}_freq > 0"
        return (
            f"if({g}, least(floor({tag}_rec / {_REC_WIDTH}), {_REC_CAP}), null)",
            f"if({g}, least({tag}_freq, {_FREQ_CAP}), null)",
            f"if({g}, least(floor({tag}_mon / {_MON_WIDTH}), {_MON_CAP}), null)",
        )

    b, c = bands("b"), bands("c")
    stack_args = ", ".join(
        f"'{feat}', {flag}L, cast({expr} as int)"
        for feat, b_expr, c_expr in (
            ("recency", b[0], c[0]),
            ("frequency", b[1], c[1]),
            ("monetary", b[2], c[2]),
        )
        for flag, expr in (("1", b_expr), ("0", c_expr))
    )
    long = per_cust.select(
        F.expr(f"stack(6, {stack_args}) as (feature, is_base, band)")
    ).where(F.col("band").isNotNull())
    per_band = long.groupBy("feature", F.col("band").alias("bucket")).agg(
        F.sum("is_base").alias("base_n"),
        (F.count(F.lit(1)) - F.sum("is_base")).alias("curr_n"),
    )
    return psi_from_counts(
        per_band,
        nbins=_PSI_NBINS,
        eps=_PSI_EPS,
        with_fracs=False,
        by=("feature",),
    ).orderBy("feature", "bucket")


_BANDS_SQL = {
    "recency": "least(CAST(floor({t}_rec / %d) AS INT), %d)"
    % (_REC_WIDTH, _REC_CAP),
    "frequency": "least(CAST({t}_freq AS INT), %d)" % _FREQ_CAP,
    "monetary": "least(CAST(floor({t}_mon / %s) AS INT), %d)"
    % (_MON_WIDTH, _MON_CAP),
}


def _side_selects() -> str:
    rows = []
    for feat, tmpl in _BANDS_SQL.items():
        for flag, tag in (("1", "b"), ("0", "c")):
            band = tmpl.format(t=tag)
            rows.append(
                f"SELECT '{feat}' AS feature, {flag} AS is_base, "
                f"CASE WHEN {tag}_freq > 0 THEN {band} END AS band "
                f"FROM per_cust"
            )
    return "\nUNION ALL\n".join(rows)


DRIFT_FEATURES_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
    date_diff('day',
      CAST(max(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                    THEN o_orderdate END) AS DATE),
      DATE '{ASOF}') AS b_rec,
    count(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
               THEN 1 END) AS b_freq,
    round(coalesce(sum(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                            THEN o_totalprice END), 0.0), 2) AS b_mon,
    date_diff('day', CAST(max(o_orderdate) AS DATE),
              DATE '{ASOF_CURR}') AS c_rec,
    count(*) AS c_freq,
    round(sum(o_totalprice), 2) AS c_mon
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{LABEL_END_EXCL}'
  GROUP BY o_custkey
),
long AS (
  {_side_selects()}
),
per_band AS (
  SELECT feature, band AS bucket,
         CAST(sum(is_base) AS BIGINT) AS base_n,
         CAST(count(*) - sum(is_base) AS BIGINT) AS curr_n
  FROM long WHERE band IS NOT NULL
  GROUP BY 1, 2
),
frac AS (
  SELECT *,
    (base_n + {_PSI_EPS}) / (sum(base_n) OVER (PARTITION BY feature)
        + {_PSI_EPS * _PSI_NBINS}) AS p_base,
    (curr_n + {_PSI_EPS}) / (sum(curr_n) OVER (PARTITION BY feature)
        + {_PSI_EPS * _PSI_NBINS}) AS p_curr
  FROM per_band
)
SELECT feature, bucket, base_n, curr_n,
  round((p_base - p_curr) * ln(p_base / p_curr), 6) AS psi_term,
  round(sum((p_base - p_curr) * ln(p_base / p_curr))
          OVER (PARTITION BY feature), 6) AS psi_total
FROM frac
ORDER BY feature, bucket
"""

def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift: cell-occupancy PSI of the vector
    population against the frozen coarse-centroid model — the
    monitoring tier's missing modality (scalar features are covered by
    ``drift_psi`` / ``drift_psi_features``; a vector store drifts when
    its EMBEDDINGS move, e.g. after an encoder re-train or a content
    shift, and the scalar reports cannot see it).

    Shape: the centroid model is the SAME frozen fit every ANN tier
    serves from (``ann._centroids``, collected once and re-emitted as
    expression literals), so assignment is a pure map — one scan of
    the embeddings table, one tiny hash aggregate over (cell, side),
    then the ONE shared PSI formula (``monitoring.psi_from_counts``)
    over the 8-cell histogram pair. At 100 TB: O(scan) + an 8-row
    report, no shuffle wider than the aggregate.

    Snapshots (fixture convention): baseline = the stored corpus;
    current = a deterministic RE-EMBEDDING of the same corpus
    (element-wise ``abs`` — the encoder-swap stand-in: same documents,
    a representation space the index was never built for), mirrored
    exactly by the oracle so the PSI is hash-gated, not just
    smoke-tested. Comparing the same population under two encoders
    makes the null floor exactly zero — an even/odd row split at
    fixture sizes carries a sampling-noise PSI of ~0.1 by itself,
    which would swamp the signal the report exists to flag."""
    from ..similarity.ann import (
        N_CENTROIDS, _cells_expr, _centroids, _with_norm,
    )

    raw = load_table(spark, sf_dir, "embeddings", spread=True)
    sided = raw.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("is_base"),
                    F.expr(
                        "transform(embedding, x -> cast(x as double))"
                    ).alias("v"),
                ),
                F.struct(
                    F.lit(0).alias("is_base"),
                    F.expr(
                        "transform(embedding, x -> abs(cast(x as double)))"
                    ).alias("v"),
                ),
            )
        ).alias("s")
    ).select(F.col("s.is_base").alias("is_base"), F.col("s.v").alias("v"))
    cells = _cells_expr(_centroids(spark, sf_dir))
    assigned = _with_norm(sided).select(
        "is_base", (-F.element_at(cells, 1)["nid"]).alias("bucket")
    )
    per_bucket = assigned.groupBy("bucket").agg(
        F.sum("is_base").cast("long").alias("base_n"),
        F.sum(1 - F.col("is_base")).cast("long").alias("curr_n"),
    )
    return psi_from_counts(per_bucket, nbins=N_CENTROIDS, eps=_PSI_EPS)


def _embedding_drift_oracle() -> str:
    from ..similarity.ann import N_CENTROIDS

    # Cosines rounded to 6dp before the rank on BOTH sides (the ann
    # tier's bit-stability convention); sums of the int side flags
    # cast from HUGEINT to BIGINT (the house gotcha).
    smooth = _PSI_EPS * N_CENTROIDS
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
  FROM e WHERE vec_id >= 100 AND vec_id < {100 + N_CENTROIDS}
),
sided AS (
  SELECT vec_id, 1 AS is_base, v AS sv FROM e
  UNION ALL
  SELECT vec_id, 0 AS is_base,
         list_transform(v, x -> abs(x)) AS sv
  FROM e
),
sn AS (
  SELECT vec_id, is_base, sv,
         sqrt(list_sum(list_transform(sv, x -> x * x))) AS snrm
  FROM sided
),
asg AS (
  SELECT vec_id, is_base, centroid_id,
         row_number() OVER (PARTITION BY vec_id, is_base
                            ORDER BY c_sim DESC, centroid_id) AS c_rank
  FROM (
    SELECT s.vec_id, s.is_base, c.centroid_id,
           round(list_sum(list_transform(range(1, len(s.sv) + 1),
                          i -> s.sv[i::INT] * c.cv[i::INT]))
                 / (s.snrm * c.cn), 6) AS c_sim
    FROM sn s CROSS JOIN cents c)
),
per_bucket AS (
  SELECT centroid_id AS bucket,
         CAST(sum(is_base) AS BIGINT) AS base_n,
         CAST(sum(1 - is_base) AS BIGINT) AS curr_n
  FROM asg WHERE c_rank = 1
  GROUP BY 1
),
frac AS (
  SELECT *,
    (base_n + {_PSI_EPS}) / (sum(base_n) OVER () + {smooth}) AS p_base,
    (curr_n + {_PSI_EPS}) / (sum(curr_n) OVER () + {smooth}) AS p_curr
  FROM per_bucket
)
SELECT bucket, base_n, curr_n,
  round(p_base, 6) AS base_frac,
  round(p_curr, 6) AS curr_frac,
  round((p_base - p_curr) * ln(p_base / p_curr), 6) AS psi_term,
  round(sum((p_base - p_curr) * ln(p_base / p_curr)) OVER (), 6)
    AS psi_total
FROM frac
ORDER BY bucket
"""


TEXT_DRIFT_B = 64       # hashed-vocabulary histogram bins
_TD_SEED = "tdrift|"
# the vocabulary-shift stand-in: a deterministic vowel-rotation
# cipher — same documents, a shifted token distribution (the "crawl
# source changed tokenizer/language mix" analog of embedding_drift's
# abs() re-embedding); identity on both sides makes the null floor
# exactly 0
_TD_FROM, _TD_TO = "aeiou", "eioua"


def _td_bucket(tok_col):
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_TD_SEED), tok_col)), 1, 15
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(TEXT_DRIFT_B),
    )


def text_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-corpus drift: hashed-vocabulary PSI — the monitoring
    tier's third modality, completing scalar features
    (``drift_psi_features``) and embeddings (``embedding_drift``). A
    training corpus drifts when its TOKEN distribution moves (new
    crawl sources, language-mix shift, template churn) long before any
    scalar doc stat does; hashing the vocabulary into TEXT_DRIFT_B
    buckets makes the histogram fixed-width at any corpus size, and
    the report is the ONE shared PSI formula over that pair.

    Shape: one scan of the corpus (both sides ride an exploded
    two-struct array, the ``embedding_drift`` convention), one tiny
    (bucket, side) aggregate, psi_from_counts — at 100 TB: O(scan) +
    a 64-row report. Snapshots (fixture convention, mirrored exactly
    by the oracle so the PSI is hash-gated): baseline = the corpus;
    current = the same corpus under a deterministic vowel-rotation
    cipher — same documents, a vocabulary the baseline never saw."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    sided = docs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("is_base"),
                    F.col("text").alias("t"),
                ),
                F.struct(
                    F.lit(0).alias("is_base"),
                    F.translate(
                        F.col("text"), _TD_FROM, _TD_TO
                    ).alias("t"),
                ),
            )
        ).alias("s")
    ).select(F.col("s.is_base").alias("is_base"), F.col("s.t").alias("t"))
    toks = sided.select(
        "is_base",
        F.explode(
            F.split(F.trim(F.lower(F.col("t"))), r"\s+")
        ).alias("tok"),
    )
    per_bucket = toks.groupBy(
        _td_bucket(F.col("tok")).alias("bucket")
    ).agg(
        F.sum("is_base").cast("long").alias("base_n"),
        F.sum(1 - F.col("is_base")).cast("long").alias("curr_n"),
    )
    return psi_from_counts(per_bucket, nbins=TEXT_DRIFT_B, eps=_PSI_EPS)


def _text_drift_oracle() -> str:
    smooth = _PSI_EPS * TEXT_DRIFT_B
    bucket_sql = (
        f"CAST(('0x' || substring(md5('{_TD_SEED}' || tok), 1, 15)) "
        f"AS BIGINT) % {TEXT_DRIFT_B}"
    )
    return f"""
WITH sided AS (
  SELECT 1 AS is_base, text AS t FROM documents
  UNION ALL
  SELECT 0 AS is_base, translate(text, '{_TD_FROM}', '{_TD_TO}') AS t
  FROM documents
),
toks AS (
  SELECT is_base,
         unnest(string_split_regex(trim(lower(t)), '\\s+')) AS tok
  FROM sided
),
per_bucket AS (
  SELECT {bucket_sql} AS bucket,
         CAST(sum(is_base) AS BIGINT) AS base_n,
         CAST(sum(1 - is_base) AS BIGINT) AS curr_n
  FROM toks GROUP BY 1
),
frac AS (
  SELECT *,
    (base_n + {_PSI_EPS}) / (sum(base_n) OVER () + {smooth}) AS p_base,
    (curr_n + {_PSI_EPS}) / (sum(curr_n) OVER () + {smooth}) AS p_curr
  FROM per_bucket
)
SELECT bucket, base_n, curr_n,
  round(p_base, 6) AS base_frac,
  round(p_curr, 6) AS curr_frac,
  round((p_base - p_curr) * ln(p_base / p_curr), 6) AS psi_term,
  round(sum((p_base - p_curr) * ln(p_base / p_curr)) OVER (), 6)
    AS psi_total
FROM frac
ORDER BY bucket
"""


# Staged permanently by design: the 100-entry registry ceiling
# (50-row driver budget x 2-round proof cycle) binds, and these lost
# the priority call (ROADMAP round-6 state); tests/test_drift_features.py
# holds them to driver rigor regardless. embedding_drift (r7) extends
# the tier to the vector modality; text_drift_psi (r9) completes the
# modality trio with the hashed-vocabulary histogram.
QUERIES = {
    "drift_psi_features": drift_psi_features,
    "embedding_drift": embedding_drift,
    "text_drift_psi": text_drift_psi,
}
ORACLES = {
    "drift_psi_features": DRIFT_FEATURES_ORACLE,
    "embedding_drift": _embedding_drift_oracle(),
    "text_drift_psi": _text_drift_oracle(),
}
