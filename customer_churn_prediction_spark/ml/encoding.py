"""Out-of-fold target encoding — the leakage-controlled categorical
encoder a large-scale training pipeline ships.

The reference one-hots every categorical through a static feature
index (``LR/feature_processing.py``; M5 in SURVEY §2) — fine at 25
nations, ruinous at web-scale cardinality (domains, publishers, app
ids), where one-hot explodes the feature space and plain target-mean
encoding leaks the label into its own row. The standard fix is
**K-fold out-of-fold mean encoding with prior smoothing**: each row's
category is encoded with the churn rate computed from the OTHER
folds only, shrunk toward the out-of-fold global prior by a
pseudo-count ``m``:

    enc(row in fold f, category c)
        = (sum_oof(c) + m * prior_oof) / (n_oof(c) + m)
    prior_oof = sum_oof(*) / n_oof(*)          (folds != f, all rows)

A category unseen outside the row's own fold falls back exactly to
``prior_oof`` (the cold-start behavior serving needs), and flipping
one row's label can never move that row's own encoding — the
no-leakage property ``tests/test_encoding.py`` proves directly.

Scale design (the 100-TB shape):

* **Detail stays put.** One equi-join ``labels ⨝ customer`` on the
  key (co-partitioned at scale, never broadcast — customer is the big
  dim), then ``stack`` unpivots the encoded features BEFORE the
  aggregate so the corpus is scanned once for all of them.
* **All statistics are one tiny hash aggregate** per (feature,
  category, fold) — ≤ features × cardinality × K rows, map-side
  combinable, ONE pass for every fold and feature at once (the naive
  form trains K separate per-fold encoders = K passes). Every
  out-of-fold sum is a window over THAT aggregate
  (leave-current-fold-out via total − own), never a window over
  detail — partitioning detail by (feature, category) would shuffle
  the full corpus, strictly worse than the second column-pruned scan
  the stats branch costs.
* **The encode table broadcasts back** onto detail on (feature,
  category, fold) — the only join the encoding itself adds, and its
  build side is bounded by model size, not data size.
* ``try_divide`` for the prior (a degenerate one-fold dataset yields
  NULL, matching the oracle's NULL division semantics under ANSI).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.labeling import LABEL_ORACLE, label_churn

N_FOLDS = 5
SMOOTH_M = 20.0
NULL_CATEGORY = "__null__"


def target_encode_frame(
    detail: DataFrame,
    *,
    key_col: str,
    label_col: str = "label",
    cat_cols: Sequence[str] = (),
    n_folds: int = N_FOLDS,
    m: float = SMOOTH_M,
) -> DataFrame:
    """Encode every column in ``cat_cols`` of ``detail`` with the
    K-fold out-of-fold smoothed target mean. Returns one row per
    (input row, feature): key, fold, feature, category, label, enc.

    Fold assignment is ``key % n_folds`` — deterministic, portable,
    and independent of row order (a hash-partitioned re-read assigns
    identical folds).

    A NULL category is a real category (missingness carries signal,
    and web-scale categoricals routinely have it): it is coalesced to
    a sentinel so its rows ride the same stats/join path instead of
    vanishing through the NULL-never-equi-joins trapdoor."""
    if not cat_cols:
        raise ValueError("cat_cols must name at least one column")
    stack_expr = "stack({n}, {args}) AS (feature, category)".format(
        n=len(cat_cols),
        args=", ".join(
            f"'{c}', coalesce(CAST({c} AS STRING), '{NULL_CATEGORY}')"
            for c in cat_cols
        ),
    )
    d = detail.select(
        F.col(key_col),
        F.col(label_col).alias("label"),
        F.pmod(F.col(key_col), F.lit(n_folds)).cast("int").alias("fold"),
        F.expr(stack_expr),
    )

    stats = d.groupBy("feature", "category", "fold").agg(
        F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")
    )
    by_cat = Window.partitionBy("feature", "category")
    by_fold = Window.partitionBy("feature", "fold")
    by_feat = Window.partitionBy("feature")
    oof_cat_s = F.sum("s").over(by_cat) - F.col("s")
    oof_cat_n = F.sum("n").over(by_cat) - F.col("n")
    oof_all_s = F.sum("s").over(by_feat) - F.sum("s").over(by_fold)
    oof_all_n = F.sum("n").over(by_feat) - F.sum("n").over(by_fold)
    prior = F.try_divide(oof_all_s, oof_all_n)
    enc = (oof_cat_s + F.lit(m) * prior) / (oof_cat_n + F.lit(m))
    enc_table = stats.select(
        "feature", "category", "fold", F.round(enc, 6).alias("enc")
    )

    return d.join(
        F.broadcast(enc_table), ["feature", "category", "fold"]
    ).select(key_col, "fold", "feature", "category", "label", "enc")


def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The churn dataset's categorical encodings: market segment and
    nation, out-of-fold mean-encoded against the churn label over the
    reference's feature/label windows (same label join as
    ``label_churn`` — RF/randomforest_churn.scala:212-227; the
    categoricals it one-hots at :186-201)."""
    labeled = label_churn(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    detail = labeled.join(cust, "c_custkey")
    return target_encode_frame(
        detail,
        key_col="c_custkey",
        cat_cols=("c_mktsegment", "c_nationkey"),
    )


TARGET_ENCODING_ORACLE = f"""
WITH labeled AS ({LABEL_ORACLE}),
detail AS (
  SELECT l.c_custkey, l.label,
         CAST(l.c_custkey % {N_FOLDS} AS INTEGER) AS fold,
         'c_mktsegment' AS feature,
         COALESCE(CAST(c.c_mktsegment AS VARCHAR), '__null__')
           AS category
  FROM labeled l JOIN customer c USING (c_custkey)
  UNION ALL
  SELECT l.c_custkey, l.label,
         CAST(l.c_custkey % {N_FOLDS} AS INTEGER) AS fold,
         'c_nationkey' AS feature,
         COALESCE(CAST(c.c_nationkey AS VARCHAR), '__null__')
           AS category
  FROM labeled l JOIN customer c USING (c_custkey)
),
stats AS (
  SELECT feature, category, fold,
         CAST(SUM(label) AS BIGINT) AS s, COUNT(*) AS n
  FROM detail GROUP BY 1, 2, 3
),
enc_table AS (
  SELECT feature, category, fold,
         ROUND(
           (SUM(s) OVER (PARTITION BY feature, category) - s
              + {SMOOTH_M} *
                ((SUM(s) OVER (PARTITION BY feature)
                    - SUM(s) OVER (PARTITION BY feature, fold))
                 / (SUM(n) OVER (PARTITION BY feature)
                    - SUM(n) OVER (PARTITION BY feature, fold))))
           / (SUM(n) OVER (PARTITION BY feature, category) - n
              + {SMOOTH_M}),
         6) AS enc
  FROM stats
),
out AS (
  SELECT d.c_custkey, d.fold, d.feature, d.category, d.label, e.enc
  FROM detail d
  JOIN enc_table e USING (feature, category, fold)
)
SELECT * FROM out
"""

HASH_WIDTH = 1024  # 2^10 slots — the fixed feature space


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick categorical vectorizer (Weinberger et al. 2009):
    each (feature=value) token maps to ``pmod(md5, HASH_WIDTH)`` with
    a second hash bit as the collision-unbiasing sign — the
    NO-VOCABULARY encoder that replaces the reference's static
    featindex one-hot (``LR/feature_processing.py``, M5 in SURVEY §2)
    at web-scale cardinality, where the index file itself (domains,
    publishers, app ids) no longer fits a broadcast.

    Scale shape: a PURE STATELESS MAP — no fit, no vocabulary scan,
    no shuffle, no state to version between training and serving (the
    hash IS the encoder, which is why serving skew cannot happen).
    md5-derived so the DuckDB oracle reproduces it bit-for-bit
    (Spark's hash() is murmur3, engine-specific — the portability
    rule the dedup tier documents)."""
    c = load_table(spark, sf_dir, "customer")
    feats = [
        ("c_mktsegment", F.col("c_mktsegment").cast("string")),
        ("c_nationkey", F.col("c_nationkey").cast("string")),
        # banded numeric: the hashing trick takes discretized
        # numerics through the same path as categoricals
        ("acctbal_band",
         F.floor(F.col("c_acctbal") / 1000).cast("string")),
    ]
    structs = []
    for name, val in feats:
        token = F.concat(
            F.lit(name + "="), F.coalesce(val, F.lit("__null__"))
        )
        digest = F.md5(token)
        h = F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint")
        sign_bit = F.conv(
            F.substring(digest, 16, 1), 16, 10
        ).cast("bigint")
        structs.append(
            F.struct(
                F.lit(name).alias("feature"),
                (h % HASH_WIDTH).alias("slot"),
                F.when(sign_bit % 2 == 0, 1)
                .otherwise(-1)
                .cast("int")
                .alias("sign"),
            )
        )
    return c.select(
        "c_custkey", F.explode(F.array(*structs)).alias("f")
    ).select("c_custkey", "f.feature", "f.slot", "f.sign")


FEATURE_HASHING_ORACLE = f"""
WITH tok AS (
  SELECT c_custkey, 'c_mktsegment' AS feature,
         'c_mktsegment=' ||
         COALESCE(CAST(c_mktsegment AS VARCHAR), '__null__') AS token
  FROM customer
  UNION ALL
  SELECT c_custkey, 'c_nationkey',
         'c_nationkey=' ||
         COALESCE(CAST(c_nationkey AS VARCHAR), '__null__')
  FROM customer
  UNION ALL
  SELECT c_custkey, 'acctbal_band',
         'acctbal_band=' ||
         COALESCE(CAST(CAST(floor(c_acctbal / 1000) AS BIGINT)
                       AS VARCHAR), '__null__')
  FROM customer
)
SELECT c_custkey, feature,
       CAST(CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT)
            % {HASH_WIDTH} AS BIGINT) AS slot,
       CAST(CASE WHEN CAST(('0x' || substring(md5(token), 16, 1))
                           AS BIGINT) % 2 = 0
                 THEN 1 ELSE -1 END AS INTEGER) AS sign
FROM tok
"""

QUERIES = {
    "feature_target_encoding": feature_target_encoding,
    "feature_hashing": feature_hashing,
}

ORACLES = {
    "feature_target_encoding": TARGET_ENCODING_ORACLE,
    "feature_hashing": FEATURE_HASHING_ORACLE,
}
