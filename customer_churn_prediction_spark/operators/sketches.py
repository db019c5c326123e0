"""Quantile-sketch operator with an oracle-checkable error contract.

``percentile_quantity`` ships the exact percentiles (an all-values
shuffle — fine when the group fits an executor); at 100 TB the
standard replacement is ``approx_percentile`` (Greenwald–Khanna
sketch: fixed memory per group, mergeable map-side, rank error
bounded by 1/accuracy). Like every sketch, its output is
engine-specific — so, following the ``approx_distinct_users``
graduation pattern, the QUERY emits the exact values plus in-query
booleans asserting the sketch honored its advertised bound, and the
DuckDB oracle recomputes the exact side with ``TRUE`` literals: a
hash match verifies both the exact path and the error contract,
without ever comparing two sketch implementations bit-for-bit.

Band: GK guarantees the returned element's RANK is within
``eps = 1/accuracy`` of the target, so its VALUE must lie between the
exact percentiles at ``p ± 2·eps`` (the extra eps absorbs
interpolation-vs-element discreteness at tied ranks; percentile() is
monotone in p, so the bracket is well-ordered)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import FEAT_END_EXCL, FEAT_START
from .rfm import feature_orders

ACCURACY = 1000
_EPS = 1.0 / ACCURACY
_PS = (0.5, 0.95)


def approx_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: exact p50/p95 of l_quantity plus the sketch's
    error-contract verdicts. One hash aggregate; the sketch and the
    exact percentiles ride the same pass."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for p in _PS:
        tag = f"p{int(p * 100)}"
        lo, hi = max(0.0, p - 2 * _EPS), min(1.0, p + 2 * _EPS)
        aggs += [
            F.percentile("l_quantity", p).alias(f"exact_{tag}"),
            F.percentile("l_quantity", lo).alias(f"_lo_{tag}"),
            F.percentile("l_quantity", hi).alias(f"_hi_{tag}"),
            F.expr(
                f"approx_percentile(l_quantity, {p}, {ACCURACY})"
            ).alias(f"_approx_{tag}"),
        ]
    agg = li.groupBy("l_returnflag").agg(*aggs)
    out_cols = [F.col("l_returnflag")]
    for p in _PS:
        tag = f"p{int(p * 100)}"
        out_cols += [
            F.round(F.col(f"exact_{tag}"), 6).alias(f"exact_{tag}"),
            (
                (F.col(f"_approx_{tag}") >= F.col(f"_lo_{tag}"))
                & (F.col(f"_approx_{tag}") <= F.col(f"_hi_{tag}"))
            ).alias(f"in_band_{tag}"),
        ]
    return agg.select(*out_cols)


CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_SEEDS = (101, 103, 107, 109)
CMS_TOPK = 20
_E = 2.718281828459045


def _cms_cells(key_col):
    """The d (row, bucket) cells a key hashes to — one array literal,
    exploded, so the sketch build stays a single scan."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("h"),
                    F.pmod(
                        F.xxhash64(key_col, F.lit(CMS_SEEDS[i])),
                        F.lit(CMS_WIDTH),
                    ).alias("b"),
                )
                for i in range(CMS_DEPTH)
            ]
        )
    )


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K hot keys with a count-min-sketch error contract.

    The 100-TB problem this solves is SKEW DETECTION: before a big
    keyed join/agg you want the hot keys (to salt or isolate them —
    `salted_join_revenue` is the actuation) without paying a full
    exact per-key count. The CMS is the standard answer: a d x w grid
    of counters (here 4 x 1024 = 4096 cells TOTAL, independent of key
    cardinality), built map-side-mergeable in one scan — partial
    aggregation caps every task's shuffle contribution at d*w rows, so
    the sketch costs the same shuffle whether the table has 1e4 or
    1e12 rows. Estimates never undercount (min over d counters), and
    overcount is bounded by (e/w)*N with probability 1 - e^-d per
    lookup (Cormode & Muthukrishnan 2005).

    Following the ``approx_distinct_users`` graduation pattern, the
    query emits the EXACT top-K (count desc, key asc — deterministic
    at tie boundaries) plus two in-query verdict booleans per key —
    ``no_undercount`` (est >= exact, a hard CMS guarantee) and
    ``within_band`` (est <= exact + (e/w)*N) — and the DuckDB oracle
    recomputes the exact side with TRUE literals, so a hash match
    verifies the sketch honored its advertised bounds without
    comparing sketch internals across engines."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    key = F.col("user_id")

    sketch = (
        ev.select(_cms_cells(key).alias("cell"))
        .select("cell.h", "cell.b")
        .groupBy("h", "b")
        .agg(F.count("*").alias("cell_cnt"))
    )
    exact = ev.groupBy(key.alias("key")).agg(
        F.count("*").alias("exact_cnt")
    )
    topk = exact.orderBy(F.desc("exact_cnt"), F.asc("key")).limit(
        CMS_TOPK
    )
    # N from the exact aggregate, not a third scan: AQE reuses the
    # per-key aggregate's exchange for this branch (pinned in the
    # executed plan by tests/test_sketches.py). The exact side is the
    # verification harness anyway; a production skew probe would ship
    # ONLY the sketch scan.
    total = exact.agg(F.sum("exact_cnt").alias("n_total"))

    est = (
        topk.select(
            "key", "exact_cnt", _cms_cells(F.col("key")).alias("cell")
        )
        .select("key", "exact_cnt", "cell.h", "cell.b")
        .join(F.broadcast(sketch), ["h", "b"])
        .groupBy("key", "exact_cnt")
        .agg(F.min("cell_cnt").alias("est"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "key",
        "exact_cnt",
        (F.col("est") >= F.col("exact_cnt")).alias("no_undercount"),
        (
            F.col("est")
            <= F.col("exact_cnt")
            + F.lit(_E / CMS_WIDTH) * F.col("n_total")
        ).alias("within_band"),
    )


HEAVY_HITTERS_ORACLE = f"""
WITH c AS (
  SELECT user_id AS key, count(*) AS exact_cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT key, exact_cnt,
       TRUE AS no_undercount,
       TRUE AS within_band
FROM c ORDER BY exact_cnt DESC, key ASC LIMIT {CMS_TOPK}
"""


APPROX_PERCENTILE_ORACLE = f"""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
       TRUE AS in_band_p50,
       round(quantile_cont(l_quantity, 0.95), 6) AS exact_p95,
       TRUE AS in_band_p95
FROM lineitem GROUP BY l_returnflag
"""

HLL_M = 256  # registers; standard error 1.04/sqrt(m) ~ 6.5%
HLL_SEED = 127
# alpha_m for m >= 128 (Flajolet et al. 2007, HyperLogLog)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# verdict band: 3 standard errors of the raw estimator
HLL_BAND = 3 * 1.04 / (HLL_M ** 0.5)


def hll_registers(keys: DataFrame, key: str = "key") -> DataFrame:
    """The m max-rho registers of a key column — THE mergeable
    cardinality state (register-wise max is the merge, which is what
    lets a stream maintain it; ``streaming/hll.py``).

    Bucket = low 8 hash bits; rho = leading-zero rank of the remaining
    56 bits, computed with INTEGER arithmetic (57 - bit_length) — no
    log2 float whose last ulp could flip a register."""
    h = F.xxhash64(F.col(key), F.lit(HLL_SEED))
    w = F.shiftrightunsigned(h, 8)
    df = keys.select(
        F.pmod(h, F.lit(HLL_M)).cast("int").alias("bucket"),
        w.alias("w"),
    )
    rho = (
        F.when(F.col("w") == 0, F.lit(57))
        .otherwise(F.lit(57) - F.length(F.bin("w")))
        .cast("int")
    )
    return (
        df.select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate_expr(regs: DataFrame):
    """1-row (est double) from a registers frame: harmonic-mean raw
    estimate with the small-range linear-counting correction — the
    published HyperLogLog estimator, all in one tiny aggregate (the
    registers frame is <= m rows; absent buckets contribute 2^0)."""
    # coalesce: an EMPTY registers frame (no keys yet — empty table,
    # all-NULL keys, a store before its first non-empty epoch) sums to
    # NULL; 0.0 makes z = m, routes into linear counting with
    # v_zero = m, and yields est 0 — the correct empty-set answer
    # (review r8: NULL here diverged from the oracle's TRUE verdict).
    agg = regs.agg(
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))), F.lit(0.0)
        ).alias("z_present"),
        F.count(F.lit(1)).alias("v_present"),
    )
    z = F.col("z_present") + (F.lit(HLL_M) - F.col("v_present"))
    v_zero = F.lit(HLL_M) - F.col("v_present")
    e_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / z
    e = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v_zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_zero),
    ).otherwise(e_raw)
    return agg.select(e.alias("est"))


def distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user count with a HyperLogLog error-contract
    verdict — the cardinality sibling of ``heavy_hitters_cms``, same
    graduation pattern: the query emits the EXACT count plus an
    in-query boolean asserting our own mergeable-register HLL
    (``hll_registers`` — the state ``streaming/hll.py`` maintains on
    ingest) landed within 3 standard errors, and the DuckDB oracle
    recomputes the exact side with a TRUE literal. Spark's built-in
    ``approx_count_distinct`` is already registry-verified the same
    way (``approx_distinct_users``); this one exists because ITS
    registers are ours to maintain incrementally — a sketch you can't
    merge across epochs can't be a streaming monitor."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    regs = hll_registers(ev.select(F.col("user_id").alias("key")))
    est = hll_estimate_expr(regs)
    exact = ev.agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= F.lit(HLL_BAND) * F.col("n_exact")
        ).alias("within_band"),
    )


HLL_ORACLE = """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_band
FROM events WHERE user_id IS NOT NULL
"""

# Sized for the largest local fixture (~15k members at sf0.1 -> ~37%
# occupancy, realized FPR ~2%); production sizes m = -n ln(p) / ln(2)^2
# for the target key count — the bit table stays <= m rows either way.
BLOOM_M = 131072  # bits (2^17)
BLOOM_K = 4  # hash functions
BLOOM_SEEDS = ("b0|", "b1|", "b2|", "b3|")


def _bloom_positions(key_col):
    """The k bit positions of a key — md5-derived (portable: the
    DuckDB oracle builds the SAME filter bit-for-bit, so membership
    answers are exact-compared, not just verdict-checked)."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(s), key_col)), 1, 15
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(BLOOM_M),
            )
            for s in BLOOM_SEEDS
        ]
    )


def bloom_bits(keys: DataFrame, key: str = "key") -> DataFrame:
    """The filter itself: the distinct set bit positions (<= m rows) —
    the mergeable state (set-union is the merge; a stream maintains it
    by appending each epoch's new bits, ``streaming/bloom.py``)."""
    return (
        keys.select(
            F.explode(_bloom_positions(F.col(key))).alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    keys: DataFrame, bits: DataFrame, key: str = "key"
) -> DataFrame:
    """(key, flagged) for every key probed against a bit set: flagged
    iff ALL k positions are set. THE membership predicate — shared by
    the batch report and the streaming store's probe
    (``streaming/bloom.py``), so k / the flagged condition / NULL-bit
    handling can never drift between them."""
    probed = keys.select(
        F.col(key), F.explode(_bloom_positions(F.col(key))).alias("bit")
    )
    return (
        probed.join(F.broadcast(bits.withColumn("set", F.lit(1))),
                    "bit", "left")
        .groupBy(key)
        .agg(
            (F.count(F.lit(1)) == F.sum(F.coalesce("set", F.lit(0))))
            .alias("flagged")
        )
    )


def bloom_membership_report(
    probe: DataFrame, members: DataFrame, bits: DataFrame,
    key: str = "key",
) -> DataFrame:
    """1-row report of probing ``probe`` against the filter built from
    ``members``: flagged iff ALL k positions are set. Emits the exact
    membership counts next to the filter's answers so the two
    guarantees are checkable numbers: ``no_false_negatives`` (a true
    member is ALWAYS flagged — the Bloom hard guarantee) and the
    realized false-positive rate with its theoretical expectation."""
    hits = bloom_probe(probe, bits, key)
    truth = members.select(F.col(key)).distinct().withColumn(
        "is_member", F.lit(1)
    )
    joined = hits.join(truth, key, "left").select(
        "flagged", F.coalesce("is_member", F.lit(0)).alias("is_member")
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    return (
        joined.agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum("is_member").cast("bigint").alias("n_members"),
            F.sum(F.col("flagged").cast("int")).cast("bigint")
            .alias("n_flagged"),
            F.sum(
                ((F.col("is_member") == 1) & ~F.col("flagged"))
                .cast("int")
            ).cast("bigint").alias("n_false_negatives"),
            F.sum(
                ((F.col("is_member") == 0) & F.col("flagged"))
                .cast("int")
            ).cast("bigint").alias("n_false_positives"),
        )
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_probed", "n_members", "n_flagged",
            "n_false_negatives", "n_false_positives", "n_bits_set",
            (F.col("n_false_negatives") == 0).alias("no_false_negatives"),
            F.round(
                F.try_divide(
                    F.col("n_false_positives"),
                    F.col("n_probed") - F.col("n_members"),
                ),
                6,
            ).alias("fpr"),
            # realized FPR <= 3x the occupancy-exact expectation
            # (n_bits_set / m)^k — generous but non-vacuous
            (
                F.try_divide(
                    F.col("n_false_positives"),
                    F.col("n_probed") - F.col("n_members"),
                )
                <= 3
                * F.pow(
                    F.col("n_bits_set") / F.lit(float(BLOOM_M)),
                    F.lit(BLOOM_K),
                )
            ).alias("fpr_within_band"),
        )
    )


def bloom_buyer_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe: all customers tested against the
    filter of customers who ever ordered — the third sketch family
    (membership) next to frequency (CMS) and cardinality (HLL), and
    the 100 TB join-pruning primitive (ship the <= m-row bit set to the
    probe side instead of shuffling the big side into a semi-join).
    Because the bits are md5-derived, the DuckDB oracle rebuilds the
    IDENTICAL filter and the whole report — counts, realized FPR, both
    guarantee booleans — is hash-compared exactly, a stronger contract
    than the exact+verdict pattern the engine-specific sketches use."""
    customer = load_table(spark, sf_dir, "customer")
    # feature-window buyers, NOT all-time buyers: every customer has
    # ordered at some point in the fixtures, and a probe set with no
    # true non-members makes the FPR leg vacuous (NULL) — the windowed
    # membership is also the realistic probe ("did this key appear in
    # the training window").
    # cache the distinct member-key set: it feeds the bit build, the
    # n_bits count, AND the exact truth side — uncached, each branch
    # re-pays the orders scan + distinct shuffle, the exact cost a
    # membership filter exists to avoid (review r8). Filter-sized
    # (the set you would persist/broadcast in production anyway).
    members = (
        feature_orders(spark, sf_dir)
        .select(F.col("o_custkey").cast("string").alias("key"))
        .distinct()
        .cache()
    )
    probe = customer.select(
        F.col("c_custkey").cast("string").alias("key")
    )
    return bloom_membership_report(
        probe, members, bloom_bits(members)
    )


def _bloom_pos_sql(expr: str, seed: str) -> str:
    return (
        f"CAST(('0x' || substring(md5('{seed}' || {expr}), 1, 15)) "
        f"AS BIGINT) % {BLOOM_M}"
    )


BLOOM_ORACLE = f"""
WITH members AS (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{FEAT_END_EXCL}'
),
bits AS (
  SELECT DISTINCT bit FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('key', s)} AS bit FROM members" for s in BLOOM_SEEDS)}
  )
),
probe AS (SELECT CAST(c_custkey AS VARCHAR) AS key FROM customer),
probed AS (
  {" UNION ALL ".join(f"SELECT key, {_bloom_pos_sql('key', s)} AS bit FROM probe" for s in BLOOM_SEEDS)}
),
hits AS (
  SELECT p.key,
         count(*) = sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END)
           AS flagged
  FROM probed p LEFT JOIN bits b USING (bit)
  GROUP BY p.key
),
joined AS (
  SELECT h.flagged,
         CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member
  FROM hits h LEFT JOIN members m USING (key)
),
agg AS (
  SELECT count(*) AS n_probed,
         CAST(sum(is_member) AS BIGINT) AS n_members,
         CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
         CAST(sum(CASE WHEN is_member = 1 AND NOT flagged
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_negatives,
         CAST(sum(CASE WHEN is_member = 0 AND flagged
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_positives
  FROM joined
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits)
SELECT n_probed, n_members, n_flagged, n_false_negatives,
       n_false_positives, n_bits_set,
       n_false_negatives = 0 AS no_false_negatives,
       round(CAST(n_false_positives AS DOUBLE)
               / NULLIF(n_probed - n_members, 0), 6) AS fpr,
       (CAST(n_false_positives AS DOUBLE)
          / NULLIF(n_probed - n_members, 0))
         <= 3 * (CAST(n_bits_set AS DOUBLE) / {BLOOM_M})
              ** {BLOOM_K} AS fpr_within_band
FROM agg, nb
"""

# ---------------------------------------------------------------------------
# KMV (K-minimum-values) — the SET-OPERATION member of the sketch
# matrix: frequency (CMS), cardinality (HLL), membership (Bloom),
# quantiles (GK), and now union/intersection cardinality ACROSS
# segments. The KMV sketch of a set is its K smallest distinct hash
# values (Bar-Yossef et al. 2002; Beyer et al. 2007 for the set-op
# estimators): with hashes uniform on [0, S), the Kth smallest value
# U_K estimates |A| as (K-1)*S/U_K, and — the property the other four
# sketches lack — two sketches COMPOSE: the K smallest of
# (sketch_A ∪ sketch_B) is exactly the KMV sketch of A ∪ B (any hash
# among the union's K smallest is among its own set's K smallest), so
# union cardinality needs no re-scan, and the fraction rho/K of the
# union sketch present in BOTH sides estimates the Jaccard, giving
# |A ∩ B| ~= (rho/K) * est_union. Merge = union + re-top-K, which is
# what lets a stream maintain it (``streaming/kmv.py``).
#
# Like Bloom (and unlike CMS/HLL), the hashes are md5-derived, so the
# DuckDB oracle rebuilds the IDENTICAL sketch and every estimate is
# hash-compared bit-for-bit — the strongest oracle contract.
# ---------------------------------------------------------------------------

KMV_K = 128
KMV_SEED = "kmv|"
# 15 md5 hex chars = 60 bits, the widest prefix that is a
# non-negative BIGINT in both engines (same trick as _bloom_positions)
_KMV_SPACE = float(1 << 60)
# (K-1)*S precomputed as ONE literal so est_union is a single
# division in both engines — bit-identical IEEE doubles.
_KMV_NUM = float(KMV_K - 1) * _KMV_SPACE
# (K-1)/U_K has relative standard error ~1/sqrt(K-2) (Beyer et al.);
# 5 sigma keeps ~25 pair-rows deterministic at every fixture SF.
_KMV_UNION_BAND = 5.0 / ((KMV_K - 2) ** 0.5)
# the intersection estimator's error scales with the UNION size (rho
# is a hypergeometric draw of K from the union): 3 * U / sqrt(K).
_KMV_INTER_BAND = 3.0 / (KMV_K ** 0.5)


def _kmv_hash(key_col):
    """60-bit md5-derived hash — portable: the DuckDB oracle computes
    the same value, so the sketches match bit-for-bit."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(KMV_SEED), key_col)), 1, 15),
        16,
        10,
    ).cast("bigint")


def kmv_sketch(
    keys: DataFrame, group: str = "grp", key: str = "key"
) -> DataFrame:
    """(grp, h): the K smallest distinct hashes per group — THE
    mergeable state (union + re-top-K is the merge; a stream maintains
    it epoch-by-epoch, ``streaming/kmv.py``). One shuffle on the group
    key; state is <= K rows per group, constant in set size."""
    from pyspark.sql import Window

    hashed = keys.select(
        F.col(group).alias("grp"), _kmv_hash(F.col(key)).alias("h")
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .drop("rn")
    )


def kmv_pair_estimates(sketches: DataFrame) -> DataFrame:
    """Consecutive-month union/intersection estimates composed from a
    (grp=month-date, h) sketch table ALONE — no raw data, the
    production overlap query (the maintained store serves exactly
    this, ``streaming/kmv.py::overlap_report``). Columns: month_a,
    k_eff, kth, rho, _est_union, _est_int (estimates unrounded; the
    verification report rounds at its edge)."""
    from pyspark.sql import Window

    a = sketches.select(
        F.col("grp").alias("month_a"),
        "h",
        F.lit(1).alias("in_a"),
        F.lit(0).alias("in_b"),
    )
    b = sketches.select(
        F.add_months(F.col("grp"), -1).alias("month_a"),
        "h",
        F.lit(0).alias("in_a"),
        F.lit(1).alias("in_b"),
    )
    merged = (
        a.unionByName(b)
        .groupBy("month_a", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("month_a").orderBy("h")
    union_sk = merged.withColumn(
        "rn", F.row_number().over(wu)
    ).where(F.col("rn") <= KMV_K)
    # A pair needs BOTH months PRESENT (the first month has no
    # predecessor, the last no successor — their half-pairs drop).
    # Presence is judged against the sketch table's own month set, NOT
    # against per-side representation in the union top-K (ADVICE r9:
    # the old sum(in_a)>0 AND sum(in_b)>0 filter conflated "month
    # absent" with "month present but unrepresented" — a real pair
    # with near-disjoint low hash ranges would silently vanish instead
    # of reporting rho=0; astronomically unlikely at K=128, but the
    # existence join is exact and the months frame is broadcast-tiny).
    months = sketches.select("grp").distinct()
    pairs_ok = months.join(
        months.select(F.add_months(F.col("grp"), -1).alias("grp")),
        "grp",
    ).select(F.col("grp").alias("month_a"))
    pair = (
        union_sk.groupBy("month_a")
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.max("h").alias("kth"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint")
            .alias("rho"),
        )
        .join(F.broadcast(pairs_ok), "month_a")
    )
    est_union = F.when(
        F.col("k_eff") < F.lit(KMV_K), F.col("k_eff").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("kth"))
    return pair.withColumn("_est_union", est_union).withColumn(
        "_est_int",
        (F.col("rho").cast("double") * F.col("_est_union"))
        / F.col("k_eff"),
    )


def kmv_pair_report(
    sketches: DataFrame, exact_sets: DataFrame
) -> DataFrame:
    """Month-over-month overlap report from a (grp=month, h) sketch
    table plus the exact (month, key) sets for verification. For each
    consecutive-month pair: the exact retained-buyer count next to the
    KMV estimates (union, intersection) and their error-contract
    verdicts. The sketch side never touches the raw sets — pairs are
    composed from the <= K-row sketches alone
    (``kmv_pair_estimates``), which is the point: at 100 TB you
    materialize one tiny sketch per segment and answer ALL pairwise
    overlap questions from sketch x sketch, never re-shuffling the
    data."""
    pair = kmv_pair_estimates(sketches)

    exact_n = exact_sets.groupBy(F.col("grp").alias("month_a")).agg(
        F.count(F.lit(1)).alias("exact_a")
    )
    exact_next = exact_sets.groupBy(
        F.add_months(F.col("grp"), -1).alias("month_a")
    ).agg(F.count(F.lit(1)).alias("exact_b"))
    ret = (
        exact_sets.alias("x")
        .join(
            exact_sets.alias("y"),
            (F.col("x.key") == F.col("y.key"))
            & (
                F.col("y.grp")
                == F.add_months(F.col("x.grp"), 1)
            ),
        )
        .groupBy(F.col("x.grp").alias("month_a"))
        .agg(F.count(F.lit(1)).alias("exact_retained"))
    )
    out = (
        pair.join(exact_n, "month_a")
        .join(exact_next, "month_a")
        .join(ret, "month_a", "left")
        .withColumn(
            "exact_retained",
            F.coalesce("exact_retained", F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "exact_union",
            (
                F.col("exact_a") + F.col("exact_b")
                - F.col("exact_retained")
            ).cast("bigint"),
        )
    )
    # months as ISO strings: a DATE round-trips differently through
    # pandas in the two engines (datetime.date vs Timestamp 00:00:00)
    return out.select(
        F.col("month_a").cast("string").alias("month_a"),
        F.add_months(F.col("month_a"), 1).cast("string")
        .alias("month_b"),
        F.col("exact_a").cast("bigint").alias("exact_a"),
        F.col("exact_b").cast("bigint").alias("exact_b"),
        "exact_retained",
        "exact_union",
        F.round("_est_union", 6).alias("est_union"),
        F.round("_est_int", 6).alias("est_retained"),
        (
            F.abs(F.col("_est_union") - F.col("exact_union"))
            <= F.lit(_KMV_UNION_BAND) * F.col("exact_union")
        ).alias("union_in_band"),
        (
            F.abs(F.col("_est_int") - F.col("exact_retained"))
            <= F.lit(_KMV_INTER_BAND) * F.col("exact_union")
        ).alias("retained_in_band"),
    )


def segment_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month retained-buyer overlap from composed KMV sketches.

    The set-operation member of the mergeable-sketch matrix.
    "How many of last month's buyers bought again this month"
    is a distinct-intersection question; exact answers need a
    key-shuffled self-join per pair, which at 100 TB x N segments is
    N^2 shuffles over the data. The KMV answer shuffles the data ONCE
    (to build <= K-row per-month sketches), then every pairwise union
    AND intersection estimate composes from sketch x sketch.

    The md5-derived hashes make the DuckDB oracle rebuild the
    identical sketches, so the estimates — not just verdict booleans —
    are hash-compared exactly (the ``bloom_buyer_membership``
    contract); the in-band booleans additionally document the
    advertised error bounds, and both engines compute them from the
    same bit-identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    raw = orders.select(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .alias("grp"),
        F.col("o_custkey").cast("string").alias("key"),
    )
    # ONE data shuffle, shared by every consumer (ADVICE r9: the old
    # .cache() here pinned executor memory for the rest of the session
    # — in the scale-curve loop the cached partitions accumulated, and
    # a lazily-returned registry query has no post-materialize hook to
    # unpersist). Group the raw rows by buyer once (collect_set also
    # does the distinct), then re-explode: the sketch build, both
    # exact per-month counts and the retained self-join all read this
    # identical exchange subtree, which AQE dedupes via ReusedExchange
    # — the orders scan and the buyer shuffle run once, nothing stays
    # cached after the report materializes.
    keyed = raw.groupBy("key").agg(F.collect_set("grp").alias("months"))
    buyers = keyed.select(
        "key", F.explode("months").alias("grp")
    ).select("grp", "key")
    return kmv_pair_report(kmv_sketch(buyers), buyers)


def _kmv_hash_sql(expr: str) -> str:
    return (
        f"CAST(('0x' || substring(md5('{KMV_SEED}' || {expr}), 1, 15)) "
        f"AS BIGINT)"
    )


KMV_ORACLE = f"""
WITH buyers AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS grp,
         CAST(o_custkey AS VARCHAR) AS key
  FROM orders
),
hashed AS (
  SELECT DISTINCT grp, {_kmv_hash_sql('key')} AS h FROM buyers
),
sk AS (
  SELECT grp, h FROM (
    SELECT grp, h,
           row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {KMV_K}
),
u0 AS (
  SELECT grp AS month_a, h, 1 AS in_a, 0 AS in_b FROM sk
  UNION ALL
  SELECT CAST(grp - INTERVAL 1 MONTH AS DATE) AS month_a, h,
         0 AS in_a, 1 AS in_b
  FROM sk
),
u1 AS (
  SELECT month_a, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM u0 GROUP BY 1, 2
),
u AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY month_a ORDER BY h) AS rn
    FROM u1
  ) WHERE rn <= {KMV_K}
),
months AS (SELECT DISTINCT grp FROM sk),
pairs_ok AS (
  SELECT m.grp AS month_a FROM months m
  JOIN months n ON n.grp = CAST(m.grp + INTERVAL 1 MONTH AS DATE)
),
pair AS (
  SELECT month_a, count(*) AS k_eff, max(h) AS kth,
         CAST(sum(in_a * in_b) AS BIGINT) AS rho
  FROM u JOIN pairs_ok USING (month_a) GROUP BY 1
),
est AS (
  SELECT month_a, k_eff, rho,
         CASE WHEN k_eff < {KMV_K} THEN CAST(k_eff AS DOUBLE)
              ELSE {_KMV_NUM!r} / CAST(kth AS DOUBLE) END AS est_union_f
  FROM pair
),
est2 AS (
  SELECT month_a, est_union_f,
         (CAST(rho AS DOUBLE) * est_union_f) / CAST(k_eff AS DOUBLE)
           AS est_int_f
  FROM est
),
exact_n AS (SELECT grp AS month_a, count(*) AS exact_a FROM buyers
            GROUP BY 1),
exact_next AS (
  SELECT CAST(grp - INTERVAL 1 MONTH AS DATE) AS month_a,
         count(*) AS exact_b
  FROM buyers GROUP BY 1
),
ret AS (
  SELECT x.grp AS month_a, count(*) AS exact_retained
  FROM buyers x JOIN buyers y
    ON x.key = y.key AND y.grp = CAST(x.grp + INTERVAL 1 MONTH AS DATE)
  GROUP BY 1
)
SELECT CAST(e.month_a AS VARCHAR) AS month_a,
       CAST(CAST(e.month_a + INTERVAL 1 MONTH AS DATE) AS VARCHAR)
         AS month_b,
       CAST(n.exact_a AS BIGINT) AS exact_a,
       CAST(nx.exact_b AS BIGINT) AS exact_b,
       CAST(coalesce(r.exact_retained, 0) AS BIGINT) AS exact_retained,
       CAST(n.exact_a + nx.exact_b - coalesce(r.exact_retained, 0)
            AS BIGINT) AS exact_union,
       round(e.est_union_f, 6) AS est_union,
       round(e.est_int_f, 6) AS est_retained,
       abs(e.est_union_f
             - (n.exact_a + nx.exact_b - coalesce(r.exact_retained, 0)))
         <= {_KMV_UNION_BAND!r}
            * (n.exact_a + nx.exact_b - coalesce(r.exact_retained, 0))
         AS union_in_band,
       abs(e.est_int_f - coalesce(r.exact_retained, 0))
         <= {_KMV_INTER_BAND!r}
            * (n.exact_a + nx.exact_b - coalesce(r.exact_retained, 0))
         AS retained_in_band
FROM est2 e
JOIN exact_n n USING (month_a)
JOIN exact_next nx USING (month_a)
LEFT JOIN ret r USING (month_a)
"""


# heavy_hitters_cms graduated to the registry in r9 (the one free
# slot under the 100-entry ceiling): it completes the registered
# sketch story next to approx_distinct_users and percentile_quantity
# with the frequency member of the mergeable-sketch matrix. The other
# three stay staged permanently by design (the 50-row driver budget x
# 2-round proof cycle binds); tests/test_sketches.py and
# STAGED_CORRECTNESS.json hold them to driver rigor regardless.
QUERIES = {
    "heavy_hitters_cms": heavy_hitters_cms,
}
ORACLES = {
    "heavy_hitters_cms": HEAVY_HITTERS_ORACLE,
}
STAGED_QUERIES = {
    "approx_percentile_bands": approx_percentile_bands,
    "distinct_users_hll": distinct_users_hll,
    "bloom_buyer_membership": bloom_buyer_membership,
    "segment_overlap_kmv": segment_overlap_kmv,
}
STAGED_ORACLES = {
    "approx_percentile_bands": APPROX_PERCENTILE_ORACLE,
    "distinct_users_hll": HLL_ORACLE,
    "bloom_buyer_membership": BLOOM_ORACLE,
    "segment_overlap_kmv": KMV_ORACLE,
}
