"""Model- and data-monitoring operators: drift, lift, and separation.

The reference stops at offline AUC/accuracy (``RF/randomforest_churn.
scala:242-258``, ``GBDT/python/churn_xgb.py:60-71``); a production
churn engine also needs the monitoring loop around the model: did the
input distribution drift since training (PSI), how concentrated is the
response in the top-scored customers (lift / cumulative gains), and
how well does the score separate the classes (Kolmogorov–Smirnov).
These three operators provide that loop as plain aggregation plans.

Scale design (all three):

* **One scan, conditional aggregation.** The feature window and the
  comparison/label window are adjacent, so a single pushed-down
  timestamp range covers both and a CASE branch splits them — no
  second scan, no self-join (the J4 membership-flag rewrite,
  ``operators/assembly.py``).
* **Fixed expression bins, not ranked quantiles.** PSI buckets, lift
  bands, and KS bins are computed with ``floor()`` on literal edges —
  a map-side expression. The classic ``ntile()``-based decile form
  needs a single-partition global sort (an unpartitioned window), the
  one plan shape that cannot survive 1000 executors; binning keeps the
  only shuffle the tiny per-bin hash aggregate, and every window
  function below runs over that aggregate (≤ 1000 rows), never over
  detail rows.
* **Determinism for the oracle hash.** Bin ids and cumulative counts
  are integer arithmetic (bit-exact in both engines); the logistic
  score is rounded to 6dp BEFORE any binning or summing (``ln``/
  ``exp`` are not correctly-rounded, so a raw-score ulp difference
  could flip a ``floor(score*N)`` bin edge), and every remaining
  float output is a ratio of integers or of those rounded scores,
  rounded to 6 decimals.

The score is a fixed-weight logistic of the RFM features — a
deterministic stand-in for a model score, so the monitoring plans are
oracle-checkable end to end (the fitted-model scores themselves are
covered by the metric-band contracts in ``ml/jobs.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import ASOF, FEAT_END_EXCL, FEAT_START, LABEL_END_EXCL, LABEL_START
from ..operators import labeling

# ---------------------------------------------------------------- drift_psi

# Fixed literal bucket edges over o_totalprice (observed range ~1e3..5e5).
_PSI_WIDTH = 50_000.0
_PSI_NBINS = 10
# Laplace-style smoothing so empty buckets contribute a finite term.
_PSI_EPS = 0.5


def psi_frame(rows: DataFrame, in_base) -> DataFrame:
    """Per-bucket PSI of ``o_totalprice`` between the rows where the
    boolean column ``in_base`` holds (baseline) and the rest (current).

    One conditional aggregation over whatever ``rows`` already scans;
    PSI terms and the replicated total computed over the ≤10-row
    aggregate.
    """
    o = rows
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(_PSI_WIDTH)), F.lit(_PSI_NBINS - 1)
    ).cast("int")
    per_bucket = (
        o.select(bucket.alias("bucket"), in_base.cast("long").alias("is_base"))
        .groupBy("bucket")
        .agg(
            F.sum("is_base").alias("base_n"),
            (F.count(F.lit(1)) - F.sum("is_base")).alias("curr_n"),
        )
    )
    return psi_from_counts(per_bucket).orderBy("bucket")


def psi_from_counts(
    per_bucket: DataFrame,
    nbins: int = _PSI_NBINS,
    eps: float = _PSI_EPS,
    with_fracs: bool = True,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """The PSI smoothing/term formula over a tiny (bucket, base_n,
    curr_n) histogram pair — the ONE definition the batch tier, the
    streaming maintenance sink (streaming/drift.py), and the
    multi-feature drift report (ml/drift_features.py) compute. ``by``
    adds grouping columns (e.g. the feature name) so one call scores
    several histograms side by side."""
    w = Window.partitionBy(*by)  # ≤ nbins rows per group: post-aggregate
    smooth_bins = F.lit(eps * nbins)
    p_base = (F.col("base_n") + F.lit(eps)) / (
        F.sum("base_n").over(w) + smooth_bins
    )
    p_curr = (F.col("curr_n") + F.lit(eps)) / (
        F.sum("curr_n").over(w) + smooth_bins
    )
    term = (p_base - p_curr) * F.log(p_base / p_curr)
    frac_cols = (
        [
            F.round(p_base, 6).alias("base_frac"),
            F.round(p_curr, 6).alias("curr_frac"),
        ]
        if with_fracs
        else []
    )
    return per_bucket.select(
        *by,
        "bucket",
        "base_n",
        "curr_n",
        *frac_cols,
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(w), 6).alias("psi_total"),
    )


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-amount distribution,
    baseline (feature window) vs current (label window), read in one
    pushed-down scan over both adjacent windows.
    """
    return psi_frame(
        labeling.window_orders(spark, sf_dir), labeling.in_feature_window()
    )


# ------------------------------------------------- score_band_lift / eval_ks

# Fixed-weight logistic score over the RFM features: higher recency
# (longer since last order) raises churn odds; frequency and monetary
# lower them. Weights chosen once so sf0.01 populates all ten bands.
_W_RECENCY = 0.004
_W_FREQUENCY = -0.35
_W_LOG_MONETARY = -0.18
_BIAS = 2.2


def window_rfm(
    cond: Column,
    asof: str,
    recency: str = "recency",
    frequency: str = "frequency",
    monetary: str = "monetary",
) -> list[Column]:
    """Per-customer aggregates over the ``labeling.window_orders`` rows
    where ``cond`` holds: days from the last one to ``asof``, their
    count, and their 2-dp total price."""
    return [
        F.datediff(
            F.lit(asof).cast("date"),
            F.max(F.when(cond, F.to_date("o_orderdate"))),
        ).alias(recency),
        F.count(F.when(cond, F.lit(1))).alias(frequency),
        F.round(
            F.coalesce(F.sum(F.when(cond, F.col("o_totalprice"))), F.lit(0.0)),
            2,
        ).alias(monetary),
    ]


def _scored_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (score, label) in ONE scan + ONE hash aggregate.

    Features come from the feature window, the churn label from the
    adjacent label window, both read in a single pushed-down range
    with CASE-split aggregates (J4 rewrite — no label-side join):
    ``labeling.labelled_customers``, the aggregate ``label_churn`` is.
    """
    feats = labeling.labelled_customers(
        spark, sf_dir, *window_rfm(labeling.in_feature_window(), ASOF)
    )
    z = (
        F.lit(_W_RECENCY) * F.col("recency")
        + F.lit(_W_FREQUENCY) * F.col("frequency")
        + F.lit(_W_LOG_MONETARY) * F.log(F.lit(1.0) + F.col("monetary") / F.lit(1000.0))
        + F.lit(_BIAS)
    )
    # Round the score itself to 6dp: exp/ln are not correctly-rounded,
    # so a raw-score ulp difference between engines could flip a
    # floor(score*N) bin edge downstream. After rounding, both engines
    # bin and sum IDENTICAL doubles.
    return feats.withColumn(
        "score", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    )


_MICRO = 1_000_000  # scores are rounded to 6 dp by _scored_customers


def _score_micro():
    """The 6-dp score as an exact BIGINT count of micro-units."""
    return F.round(F.col("score") * _MICRO).cast("long")


def score_band_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift / cumulative-gains table over fixed score bands.

    Bands are ``floor(score*10)`` (map-side expression, no global
    sort); cumulative capture and lift run highest-band-first over the
    10-row aggregate. A band's scores are summed exactly in integer
    micro-units: a float sum depends on the order the engine adds in,
    and a band mean of 6-dp scores can sit exactly on a 6-dp rounding
    half-boundary, where one ulp decides the digit. ``avg_score`` is
    then one division of operands identical in both engines.
    """
    scored = _scored_customers(spark, sf_dir)
    band = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int")
    per_band = (
        scored.select(band.alias("band"), "label", "score")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("label").alias("n_churned"),
            F.sum(_score_micro()).alias("_sum_score"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total_c = F.sum("n_customers").over(w_all)
    total_ch = F.sum("n_churned").over(w_all)
    cum_c = F.sum("n_customers").over(w_cum)
    cum_ch = F.sum("n_churned").over(w_cum)
    return (
        per_band.select(
            "band",
            "n_customers",
            "n_churned",
            F.round(F.col("n_churned") / F.col("n_customers"), 6).alias("churn_rate"),
            F.round(
                F.col("_sum_score").cast("double")
                / (F.col("n_customers").cast("double") * _MICRO),
                6,
            ).alias("avg_score"),
            cum_c.alias("cum_customers"),
            cum_ch.alias("cum_churned"),
            F.round(cum_ch / total_ch, 6).alias("capture_rate"),
            F.round((cum_ch / cum_c) / (total_ch / total_c), 6).alias("cum_lift"),
        )
        .orderBy(F.col("band").desc())
    )


_KS_BINS = 1000


def eval_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov separation of the score between classes.

    Binned-CDF form: the exact KS needs a global rank over every
    score; on fixed 1/1000 bins the statistic is computed from
    cumulative integer counts over the ≤1000-row aggregate, with error
    bounded by the bin width. Entirely integer arithmetic after the
    binning, so bit-identical across engines.
    """
    scored = _scored_customers(spark, sf_dir)
    b = F.least(F.floor(F.col("score") * _KS_BINS), F.lit(_KS_BINS - 1)).cast("int")
    per_bin = (
        scored.select(b.alias("bin"), "label")
        .groupBy("bin")
        .agg(
            F.sum("label").alias("pos"),
            (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap = F.abs(
        F.sum("pos").over(w_cum) / F.sum("pos").over(w_all)
        - F.sum("neg").over(w_cum) / F.sum("neg").over(w_all)
    )
    cum = per_bin.select(
        gap.alias("gap"),
        F.sum("pos").over(w_all).alias("n_pos"),
        F.sum("neg").over(w_all).alias("n_neg"),
        F.count(F.lit(1)).over(w_all).alias("n_bins_used"),
    )
    return cum.agg(
        F.round(F.max("gap"), 6).alias("ks_statistic"),
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.max("n_bins_used").alias("n_bins_used"),
    )


# -------------------------------------------------------------------- oracles

_PSI_ORACLE = f"""
WITH per_bucket AS (
  SELECT
    least(CAST(floor(o_totalprice / {_PSI_WIDTH}) AS INT), {_PSI_NBINS - 1}) AS bucket,
    count(*) FILTER (WHERE o_orderdate <  TIMESTAMP '{FEAT_END_EXCL}') AS base_n,
    count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '{LABEL_START}')  AS curr_n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{LABEL_END_EXCL}'
  GROUP BY 1
), frac AS (
  SELECT *,
    (base_n + {_PSI_EPS}) / (sum(base_n) OVER () + {_PSI_EPS * _PSI_NBINS}) AS p_base,
    (curr_n + {_PSI_EPS}) / (sum(curr_n) OVER () + {_PSI_EPS * _PSI_NBINS}) AS p_curr
  FROM per_bucket
)
SELECT
  bucket, base_n, curr_n,
  round(p_base, 6) AS base_frac,
  round(p_curr, 6) AS curr_frac,
  round((p_base - p_curr) * ln(p_base / p_curr), 6) AS psi_term,
  round(sum((p_base - p_curr) * ln(p_base / p_curr)) OVER (), 6) AS psi_total
FROM frac
ORDER BY bucket
"""

_SCORED_CTE = f"""
  scored AS (
    SELECT
      o_custkey AS c_custkey,
      date_diff('day',
        CAST(max(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                      THEN o_orderdate END) AS DATE),
        DATE '{ASOF}') AS recency,
      count(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                 THEN 1 END) AS frequency,
      round(coalesce(sum(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                              THEN o_totalprice END), 0.0), 2) AS monetary,
      1 - max(CASE WHEN o_orderdate >= TIMESTAMP '{LABEL_START}'
                   THEN 1 ELSE 0 END) AS label
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
      AND o_orderdate <  TIMESTAMP '{LABEL_END_EXCL}'
    GROUP BY o_custkey
    HAVING count(CASE WHEN o_orderdate < TIMESTAMP '{FEAT_END_EXCL}'
                      THEN 1 END) > 0
  ),
  s2 AS (
    SELECT *,
      round(1.0 / (1.0 + exp(-({_W_RECENCY}*recency
            + ({_W_FREQUENCY})*frequency
            + ({_W_LOG_MONETARY})*ln(1.0 + monetary/1000.0)
            + {_BIAS}))), 6) AS score
    FROM scored
  )
"""

_LIFT_ORACLE = f"""
WITH {_SCORED_CTE},
per_band AS (
  SELECT least(CAST(floor(score * 10) AS INT), 9) AS band,
         count(*) AS n_customers,
         CAST(sum(label) AS BIGINT) AS n_churned,
         CAST(sum(CAST(round(score * {_MICRO}) AS BIGINT)) AS BIGINT)
           AS _sum_score
  FROM s2 GROUP BY 1
)
SELECT
  band, n_customers, n_churned,
  round(CAST(n_churned AS DOUBLE) / n_customers, 6) AS churn_rate,
  round(CAST(_sum_score AS DOUBLE)
          / (CAST(n_customers AS DOUBLE) * {_MICRO}), 6) AS avg_score,
  CAST(sum(n_customers) OVER (ORDER BY band DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_customers,
  CAST(sum(n_churned) OVER (ORDER BY band DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_churned,
  round(CAST(sum(n_churned) OVER (ORDER BY band DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / sum(n_churned) OVER (), 6) AS capture_rate,
  round((CAST(sum(n_churned) OVER (ORDER BY band DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / sum(n_customers) OVER (ORDER BY band DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    / (CAST(sum(n_churned) OVER () AS DOUBLE)
    / sum(n_customers) OVER ()), 6) AS cum_lift
FROM per_band
ORDER BY band DESC
"""

_KS_ORACLE = f"""
WITH {_SCORED_CTE},
per_bin AS (
  SELECT least(CAST(floor(score * {_KS_BINS}) AS INT), {_KS_BINS - 1}) AS bin,
         CAST(sum(label) AS BIGINT) AS pos,
         CAST(count(*) - sum(label) AS BIGINT) AS neg
  FROM s2 GROUP BY 1
), cum AS (
  SELECT
    abs(CAST(sum(pos) OVER (ORDER BY bin
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / sum(pos) OVER ()
      - CAST(sum(neg) OVER (ORDER BY bin
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / sum(neg) OVER ()) AS gap,
    CAST(sum(pos) OVER () AS BIGINT) AS n_pos,
    CAST(sum(neg) OVER () AS BIGINT) AS n_neg,
    count(*) OVER () AS n_bins_used
  FROM per_bin
)
SELECT round(max(gap), 6) AS ks_statistic,
       CAST(max(n_pos) AS BIGINT) AS n_pos,
       CAST(max(n_neg) AS BIGINT) AS n_neg,
       CAST(max(n_bins_used) AS BIGINT) AS n_bins_used
FROM cum
"""

QUERIES = {
    "drift_psi": drift_psi,
    "score_band_lift": score_band_lift,
    "eval_ks": eval_ks,
}

ORACLES = {
    "drift_psi": _PSI_ORACLE,
    "score_band_lift": _LIFT_ORACLE,
    "eval_ks": _KS_ORACLE,
}
