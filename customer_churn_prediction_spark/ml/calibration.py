"""Score calibration and feature information-value screening.

Completes the monitoring loop of ``ml/monitoring.py`` (PSI / lift / KS)
with the two remaining standard churn-model reports the reference's
offline evaluation (``RF/randomforest_churn.scala:242-258``) stops
short of:

* **model_calibration** — reliability table: per fixed score band, the
  mean predicted churn probability vs the observed churn rate, the
  per-band gap, expected calibration error (ECE), and the Brier score.
  Lift (``score_band_lift``) answers "does ranking by score target the
  churners"; calibration answers "do the probabilities MEAN anything".
* **feature_iv** — weight-of-evidence / information value per banded
  RFM feature: the classic pre-model screen for which features carry
  churn signal, and the per-band WoE table a scorecard would consume.

Scale design mirrors ``ml/monitoring.py``: one pushed-down scan over
the adjacent feature+label windows, CASE-split conditional aggregation
(no label join), fixed expression bins (no ``ntile`` global sort), and
every window function runs over the tiny per-band aggregate — never
over detail rows. ``feature_iv`` unpivots the three banded features
with ``stack`` BEFORE the aggregate, so the per-customer frame is
scanned once and the only shuffle is the (feature, band) hash
aggregate (≤ 3 features × ≤ 10 bands rows).

Determinism: the score is rounded to 6 dp upstream
(``monitoring._scored_customers``); bands are integer expressions on
literal edges; the calibration sums are exact integers (scores in
micro-units), so every remaining float is one division of operands
identical in both engines, rounded to 6 dp — the same oracle-hash
discipline the registered monitoring tier ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .monitoring import _MICRO, _SCORED_CTE, _score_micro, _scored_customers

# ------------------------------------------------------------ calibration

_CAL_BANDS = 10


def calibration_frame(scored: DataFrame) -> DataFrame:
    """Reliability table over any (score, label) frame.

    Scores carry 6 dp, so every per-band sum is taken exactly in
    integer micro-units (squared errors in DECIMAL): a float sum's
    result depends on the order the engine adds in, and a band mean of
    6-dp scores often lands exactly on a 6-dp rounding half-boundary,
    where one ulp decides the rounded digit. Each reported ratio is
    then one IEEE division of exact operands."""
    band = F.least(
        F.floor(F.col("score") * _CAL_BANDS), F.lit(_CAL_BANDS - 1)
    ).cast("int")
    score_micro = _score_micro()
    err_micro = (score_micro - F.col("label") * _MICRO).cast("decimal(20,0)")
    per_band = (
        scored.select(band.alias("band"), "label", "score")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("label").alias("n_churned"),
            F.sum(score_micro).alias("_sum_score"),
            F.sum(err_micro * err_micro).alias("_sum_sq_err"),
        )
    )
    w_all = Window.partitionBy()
    n_micro = F.col("n_customers").cast("double") * _MICRO
    gap_micro = F.col("_sum_score") - F.col("n_churned") * _MICRO
    avg_score = F.col("_sum_score").cast("double") / n_micro
    churn_rate = F.col("n_churned") / F.col("n_customers")
    gap = gap_micro.cast("double") / n_micro
    n_total = F.sum("n_customers").over(w_all).cast("double")
    ece = F.sum(F.abs(gap_micro)).over(w_all).cast("double") / (
        n_total * _MICRO
    )
    brier = F.sum("_sum_sq_err").over(w_all).cast("double") / (
        n_total * (_MICRO * _MICRO)
    )
    return per_band.select(
        "band",
        "n_customers",
        "n_churned",
        F.round(avg_score, 6).alias("avg_score"),
        F.round(churn_rate, 6).alias("churn_rate"),
        F.round(gap, 6).alias("calib_gap"),
        F.round(ece, 6).alias("ece"),
        F.round(brier, 6).alias("brier"),
    ).orderBy("band")


def model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability / calibration report for the deterministic logistic
    churn score (the same score the lift and KS reports grade)."""
    return calibration_frame(_scored_customers(spark, sf_dir))


# ------------------------------------------------------------- feature IV

# Band widths chosen so every band is populated at sf0.01 (recency
# 0..~1095 days over the 3-year feature window; frequency 1..~12;
# monetary ~2e4..~4e6).
_REC_WIDTH = 90
_REC_CAP = 7
_FREQ_CAP = 8
_MON_WIDTH = 500_000.0
_MON_CAP = 7
_IV_EPS = 0.5


def feature_iv_frame(scored: DataFrame) -> DataFrame:
    """WoE / IV over any (recency, frequency, monetary, label) frame.

    Event = churn (label 1), non-event = retained. Laplace smoothing
    (eps per band, eps·n_bands per total) keeps WoE finite on empty
    classes; the smoothing denominator uses the feature's OWN observed
    band count (a window count over the aggregate), so the smoothed
    distributions still sum to 1 within each feature.
    """
    rec_b = F.least(
        F.floor(F.col("recency") / F.lit(_REC_WIDTH)), F.lit(_REC_CAP)
    ).cast("int")
    freq_b = F.least(F.col("frequency"), F.lit(_FREQ_CAP)).cast("int")
    mon_b = F.least(
        F.floor(F.col("monetary") / F.lit(_MON_WIDTH)), F.lit(_MON_CAP)
    ).cast("int")
    unpivoted = scored.select(
        F.expr(
            "stack(3, 'recency', cast({} as int), "
            "'frequency', cast({} as int), "
            "'monetary', cast({} as int)) as (feature, band)".format(
                f"least(floor(recency / {_REC_WIDTH}), {_REC_CAP})",
                f"least(frequency, {_FREQ_CAP})",
                f"least(floor(monetary / {_MON_WIDTH}), {_MON_CAP})",
            )
        ),
        "label",
    )
    # Silence the unused locals warning while documenting the Column
    # forms the stack() string mirrors (stack takes SQL text, and the
    # three band expressions must stay in sync with rec_b/freq_b/mon_b).
    del rec_b, freq_b, mon_b
    per_band = unpivoted.groupBy("feature", "band").agg(
        F.sum("label").alias("n_churned"),
        (F.count(F.lit(1)) - F.sum("label")).alias("n_retained"),
    )
    w_f = Window.partitionBy("feature")
    nb = F.count(F.lit(1)).over(w_f)
    smooth = F.lit(_IV_EPS)
    p_churn = (F.col("n_churned") + smooth) / (
        F.sum("n_churned").over(w_f) + smooth * nb
    )
    p_ret = (F.col("n_retained") + smooth) / (
        F.sum("n_retained").over(w_f) + smooth * nb
    )
    woe = F.log(p_churn / p_ret)
    iv_term = (p_churn - p_ret) * woe
    return per_band.select(
        "feature",
        "band",
        "n_churned",
        "n_retained",
        F.round(woe, 6).alias("woe"),
        F.round(iv_term, 6).alias("iv_term"),
        F.round(F.sum(iv_term).over(w_f), 6).alias("iv_total"),
    ).orderBy("feature", "band")


def feature_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band WoE and per-feature IV of the banded RFM features
    against the churn label."""
    return feature_iv_frame(_scored_customers(spark, sf_dir))


# ---------------------------------------------------------------- oracles

CALIBRATION_ORACLE = f"""
WITH {_SCORED_CTE},
micro AS (
  SELECT least(CAST(floor(score * {_CAL_BANDS}) AS INT), {_CAL_BANDS - 1}) AS band,
         label,
         CAST(round(score * {_MICRO}) AS BIGINT) AS score_micro,
         CAST(round(score * {_MICRO}) AS BIGINT) - label * {_MICRO} AS err_micro
  FROM s2
),
per_band AS (
  SELECT band,
         count(*) AS n_customers,
         CAST(sum(label) AS BIGINT) AS n_churned,
         CAST(sum(score_micro) AS BIGINT) AS _sum_score,
         sum(CAST(err_micro AS HUGEINT) * err_micro) AS _sum_sq_err
  FROM micro GROUP BY 1
),
ratios AS (
  SELECT *,
         _sum_score - n_churned * {_MICRO} AS gap_micro,
         CAST(n_customers AS DOUBLE) * {_MICRO} AS n_micro,
         CAST(sum(n_customers) OVER () AS DOUBLE) AS n_total
  FROM per_band
)
SELECT
  band, n_customers, n_churned,
  round(CAST(_sum_score AS DOUBLE) / n_micro, 6) AS avg_score,
  round(CAST(n_churned AS DOUBLE) / n_customers, 6) AS churn_rate,
  round(CAST(gap_micro AS DOUBLE) / n_micro, 6) AS calib_gap,
  round(CAST(sum(abs(gap_micro)) OVER () AS DOUBLE)
          / (n_total * {_MICRO}), 6) AS ece,
  round(CAST(sum(_sum_sq_err) OVER () AS DOUBLE)
          / (n_total * {_MICRO * _MICRO}), 6) AS brier
FROM ratios
ORDER BY band
"""

FEATURE_IV_ORACLE = f"""
WITH {_SCORED_CTE},
unpivoted AS (
  SELECT 'recency' AS feature,
         least(CAST(floor(recency / {_REC_WIDTH}) AS INT), {_REC_CAP}) AS band,
         label
  FROM s2
  UNION ALL
  SELECT 'frequency', least(CAST(frequency AS INT), {_FREQ_CAP}), label FROM s2
  UNION ALL
  SELECT 'monetary',
         least(CAST(floor(monetary / {_MON_WIDTH}) AS INT), {_MON_CAP}), label
  FROM s2
),
per_band AS (
  SELECT feature, band,
         CAST(sum(label) AS BIGINT) AS n_churned,
         CAST(count(*) - sum(label) AS BIGINT) AS n_retained
  FROM unpivoted GROUP BY 1, 2
),
frac AS (
  SELECT *,
    (n_churned + {_IV_EPS}) / (sum(n_churned) OVER (PARTITION BY feature)
        + {_IV_EPS} * count(*) OVER (PARTITION BY feature)) AS p_churn,
    (n_retained + {_IV_EPS}) / (sum(n_retained) OVER (PARTITION BY feature)
        + {_IV_EPS} * count(*) OVER (PARTITION BY feature)) AS p_ret
  FROM per_band
)
SELECT feature, band, n_churned, n_retained,
  round(ln(p_churn / p_ret), 6) AS woe,
  round((p_churn - p_ret) * ln(p_churn / p_ret), 6) AS iv_term,
  round(sum((p_churn - p_ret) * ln(p_churn / p_ret))
          OVER (PARTITION BY feature), 6) AS iv_total
FROM frac
ORDER BY feature, band
"""

# Registered in the r6 rotation; tests/test_calibration.py additionally holds
# these to driver rigor between their PRIORITY windows.
QUERIES = {
    "model_calibration": model_calibration,
    "feature_iv": feature_iv,
}

ORACLES = {
    "model_calibration": CALIBRATION_ORACLE,
    "feature_iv": FEATURE_IV_ORACLE,
}
