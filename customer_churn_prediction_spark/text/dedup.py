"""Deduplication operators over the `documents` table.

The four standard scales of text dedup for a training-data pipeline:

* exact      — hash-groupBy on a normalization fingerprint (one shuffle
               keyed by the hash; trivially scales).
* minhash    — k=6 MinHash signatures over 5-char shingles, banded
               2-rows-per-band LSH; candidate pairs come from a
               self-join on (band, signature) — at 100 TB this is the
               only join that avoids the O(n²) pair explosion.
* simhash    — 60-bit SimHash computed entirely with array expressions
               (no explode, no shuffle: one pass over the scan); 60 =
               the widest md5 prefix that stays a signed BIGINT in both
               engines, wide enough not to saturate at corpus scale.
* n-gram     — exact Jaccard over word 3-gram sets for candidate pairs
               sharing at least one shingle (the verification stage
               after LSH).

All hash functions are md5-based so the DuckDB oracle can reproduce
them bit-for-bit (Spark's default hash() is murmur3 and engine-
specific; md5 is portable). MinHash takes k disjoint hex slices of one
md5 per shingle; fixed-width hex compares lexicographically ==
numerically, identical in both engines.

Embedding-cosine near-dup lives in similarity/ann.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..checkpointing import loop_checkpoint, run_materialize

N_HASHES = 6
BAND_ROWS = 2  # 3 bands x 2 rows
N_BANDS = N_HASHES // BAND_ROWS
SHINGLE = 5
JACCARD_THRESHOLD = 0.4
CONTAINMENT_THRESHOLD = 0.9


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per normalized fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return (
        d.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature table: doc_id + k hex-string signature columns.
    Pure array expressions over the scan — no explode, no shuffle.

    The k hash functions are k disjoint 5-hex-digit (20-bit) slices of a
    SINGLE md5 per shingle: one digest call per shingle instead of k
    seeded ones, a k-fold cut in the dominant cost of signature
    computation. Fixed-width hex slices compare lexicographically ==
    numerically, so array_min is a true minhash. The two-project shape
    (hash array first, mins second) survives CollapseProject because
    Catalyst no longer inlines non-cheap expressions used k times."""
    return _signatures_from(load_table(spark, sf_dir, "documents", spread=True))


def _signatures_from(d: DataFrame) -> DataFrame:
    # Guard short texts: sequence(1, length-4) DESCENDS when length < 5
    # (Spark yields [1, 0], then substring produces spurious shingles),
    # while DuckDB's range() is empty — an engine divergence on any doc
    # shorter than one shingle. Empty array → array_min returns NULL in
    # both engines.
    hashed = d.select(
        "doc_id",
        F.expr(
            f"if(length(text) >= {SHINGLE}, "
            f"transform(sequence(1, length(text) - {SHINGLE - 1}), "
            f"i -> md5(substring(text, i, {SHINGLE}))), "
            f"cast(array() as array<string>))"
        ).alias("hs"),
    )
    return hashed.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(hs, h -> substring(h, {5 * i + 1}, 5)))"
            ).alias(f"mh{i}")
            for i in range(N_HASHES)
        ],
    )


def _lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_sig) — one row per doc per band.

    Docs shorter than one shingle have NULL signatures and are excluded:
    Spark's concat_ws skips NULLs (every such doc would share the empty
    band_sig and pair with every other), DuckDB's || propagates them —
    filtering is both the correct semantics and the only portable one.

    posexplode over the band array: signatures are computed ONCE (a
    per-band union would recompute the md5 minhash family once per
    band — 3x the hashing work). The exclusion is the CHEAP scan-level
    predicate length(text) >= SHINGLE, not ``mh0 IS NOT NULL``: the
    null filter gets pushed below the mins projection, where it inlines
    and re-evaluates the whole md5 shingle pipeline a second time
    (measured 2x the signature cost at sf0.1); the length predicate is
    equivalent (empty hash array ⟺ short text) and pushes into the
    parquet scan."""
    return _bands_from(load_table(spark, sf_dir, "documents", spread=True))


def _bands_from(d: DataFrame) -> DataFrame:
    """Band rows for an arbitrary documents frame (see ``_lsh_bands``
    for the semantics); callers pass pre-filtered slices so the
    signature hashing runs only over the rows they need."""
    sigs = _signatures_from(d.where(F.length("text") >= SHINGLE))
    band_arr = F.array(
        *[
            F.concat_ws(
                "|", *[f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)]
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band", "band_sig")
    )


_PAIRS_FROM_IDS = (
    "flatten(transform(sequence(1, size(ids) - 1), "
    "i -> transform(slice(ids, i + 1, size(ids) - i), "
    "y -> named_struct('doc_a', element_at(ids, i), 'doc_b', y))))"
)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on all rows of >=1 band.

    Scale shape: group docs into (band, band_sig) buckets — ONE scan,
    ONE shuffle — and expand i<j pairs inside each bucket with array
    expressions. The earlier self-join form scanned and re-hashed the
    corpus once per join side (the planner broadcast a whole exploded
    corpus side, which is also the wrong shape at 100 TB); bucket
    expansion computes signatures exactly once and never broadcasts.
    In-bucket expansion is quadratic IN THE BUCKET — inherent to
    pairwise LSH output (the join form emits the same pairs); for
    corpora with mega-clusters use ``lsh_dedup_groups``, which is
    linear."""
    return _pairs_from_buckets(_lsh_buckets(spark, sf_dir))


def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-member (band, band_sig) buckets with their sorted doc-id
    arrays — the single aggregation both the pair expansion and the
    candidate-member set hang off. Consumers branching from this frame
    share its shuffle via ReusedExchange, so the md5 signature pipeline
    below the Exchange runs once no matter how many branches read it."""
    return (
        _lsh_bands(spark, sf_dir)
        .groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )


def _pairs_from_buckets(buckets: DataFrame) -> DataFrame:
    return (
        buckets.select(F.explode(F.expr(_PAIRS_FROM_IDS)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _short_doc_singletons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, doc_id, 1) for docs below one shingle. Docs too short
    to band are absent from every bucket, and a keep-list built from
    is_rep == 1 would otherwise silently DROP them (r2 ADVICE) — a
    short doc is trivially unique, so it is its own group
    representative. The length predicate pushes into the parquet scan;
    NULL text counts as short (length(NULL) >= k is NULL → not banded)."""
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNull() | (F.length("text") < SHINGLE))
        .select(
            "doc_id",
            F.col("doc_id").alias("group_rep"),
            F.lit(1).cast("int").alias("is_rep"),
        )
    )


def lsh_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-cost LSH dedup: each doc is assigned the MIN doc_id among
    its bucket peers (its dedup-group representative) instead of
    enumerating all in-bucket pairs. This is the first sweep of
    min-id label propagation — the standard escape from pairwise LSH's
    quadratic blowup when a corpus contains mega-clusters (1M copies of
    boilerplate → one bucket → 5·10¹¹ pairs in any pairwise form, but
    only 1M (doc, rep) rows here). Two shuffles, both linear: a window
    min over the bucket, then per-doc min across bands. The window form
    (not groupBy + join back) evaluates the signature pipeline ONCE — a
    join of bands against an aggregate of bands recomputes the md5
    minhash family on both DAG branches. keep = (doc_id == group_rep)."""
    from pyspark.sql import Window

    bands = _lsh_bands(spark, sf_dir)
    w = Window.partitionBy("band", "band_sig")
    grouped = (
        bands.withColumn("bucket_rep", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(F.min("bucket_rep").alias("group_rep"))
        .withColumn("is_rep", (F.col("doc_id") == F.col("group_rep")).cast("int"))
    )
    return grouped.unionByName(_short_doc_singletons(spark, sf_dir))


def lsh_dedup_components(
    spark: SparkSession, sf_dir: str, max_iters: int | None = None
) -> DataFrame:
    """Transitive dedup groups: min-id label propagation over the
    doc↔bucket bipartite graph until fixpoint — connected components
    without ever materializing pairwise edges (the iterative-algorithm
    tier; oracle-paired against a DuckDB WITH RECURSIVE reachability
    closure, plus union-find parity asserted in tests).

    ``dedup_lsh_groups`` is one sweep (a doc adopts the smallest id
    among its DIRECT bucket peers); chains A~B~C where A and C share no
    bucket need propagation. Each round is the bucket hop (bucket-min
    of labels, then doc-min across buckets — two linear shuffles over
    a CACHED bands frame) COMPOSED with a pointer jump: labels are
    themselves doc ids, so one self-equi-join rewrites label(doc) →
    label(label(doc)), doubling the propagation distance per round —
    **O(log diameter) rounds instead of O(diameter)** (the standard
    shortcutting in distributed connected components; measured at
    sf0.1: 7 rounds → 4, and a 1000-hop chain needs ~10 rounds, not
    1000). Both steps only ever LOWER a label, and a round that
    changes nothing is a fixpoint of the bucket hop alone, whose
    unique fixpoint is the component-min labeling — so the shortcut
    accelerates convergence without changing the answer (oracle +
    union-find parity still gate it). The loop runs to the
    sum-fixpoint by default (labels are a strictly-decreasing positive
    integer sum, so termination is guaranteed) — a fixed cap would
    silently under-merge a component whose diameter exceeds it,
    diverging from the oracle's exact recursive closure; ``max_iters``
    exists only as an opt-in bound for callers that prefer a round
    budget over exactness. At 100 TB this is exactly large-scale
    connected components à la label propagation: state is one long per
    doc, and no step is quadratic in cluster size (the escape hatch
    pairwise LSH lacks)."""
    from pyspark.sql import Window

    # Per-round materialization is a lazy localCheckpoint, not cache()
    # (r14, guide §3.3/§5): a cached frame still carries its FULL
    # logical plan, so round N re-analyzes and re-optimizes a lineage
    # N rounds deep — planning cost grows linearly while the work per
    # round is constant (the _before plan file is 8.7k lines of
    # exactly this). The checkpoint truncates each round's plan to a
    # LogicalRDD, keeping analysis O(1) per round; blocks are per-run
    # and freed by the context cleaner. In-process alternating A/B at
    # sf0.1: cache 8.48 s → checkpoint 3.69 s median, rows identical.
    # loop_checkpoint: SPARK_GRAFT_RELIABLE_CHECKPOINT reroutes the
    # loop's O(corpus)-per-round blocks to reliable storage on
    # clusters (r15; local default unchanged — see checkpointing.py).
    from ..checkpointing import loop_checkpoint

    bands = loop_checkpoint(_lsh_bands(spark, sf_dir))
    wb = Window.partitionBy("band", "band_sig")
    labels = loop_checkpoint(
        bands.withColumn("bucket_rep", F.min("doc_id").over(wb))
        .groupBy("doc_id")
        .agg(F.min("bucket_rep").alias("label"))
    )
    # Labels only ever DECREASE (every step is a min), so any change
    # strictly lowers sum(label): convergence is detected with ONE
    # scalar aggregate per round — no join against the previous
    # labels, no changed-row count.
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    rounds = 0
    while max_iters is None or rounds < max_iters - 1:
        rounds += 1
        hopped = (
            bands.join(labels, "doc_id")
            .withColumn("bucket_rep", F.min("label").over(wb))
            .groupBy("doc_id")
            .agg(F.min("bucket_rep").alias("label"))
        )
        # Pointer jump: every label is itself a doc_id with a row
        # in `hopped`, so the inner self-join is total; label(doc)
        # becomes label(label(doc)) in one extra linear shuffle.
        jump = hopped.select(
            F.col("doc_id").alias("label"),
            F.col("label").alias("jumped"),
        )
        propagated = loop_checkpoint(
            hopped.join(jump, "label")
            .select("doc_id", F.col("jumped").alias("label"))
        )
        new_sum = propagated.agg(F.sum("label")).collect()[0][0]
        labels = propagated
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    out = labels.withColumn(
        "is_rep", (F.col("doc_id") == F.col("label")).cast("int")
    )
    return out.unionByName(
        _short_doc_singletons(spark, sf_dir).withColumnRenamed(
            "group_rep", "label"
        )
    )


SIMHASH_BITS = 60
SIMHASH_BANDS = 4
BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
HAMMING_MAX = SIMHASH_BANDS - 1  # pigeonhole: <=3 diffs agree on >=1 band


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over distinct word tokens, md5-derived bits.

    16 bits saturates at corpus scale (~65k buckets → the banded join
    floods with false candidates), so the signature is the first 15 hex
    chars of md5 per token — 60 bits, the widest md5 prefix that stays
    inside a signed BIGINT in both Spark and DuckDB (16 hex chars can
    set the sign bit and overflow `conv`/`CAST`). Entirely
    array-expression math, no explode: one aggregate folds the token
    hashes into a 60-long ±1 bit-sum vector (single pass over tokens,
    instead of one fold per bit), a second reduces the sign vector to
    the packed signature."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = "array_distinct(split(trim(lower(text)), '\\\\s+'))"
    # Hash array hoisted into its own projection so the md5 family runs
    # ONCE per token (multi-use non-cheap expr survives CollapseProject).
    hashed = d.select(
        "doc_id",
        F.expr(
            f"transform({toks}, t -> "
            f"cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    bitsums = (
        f"aggregate(hs, transform(sequence(0, {SIMHASH_BITS - 1}), j -> 0L), "
        f"(acc, x) -> zip_with(acc, "
        f"transform(sequence(0, {SIMHASH_BITS - 1}), "
        f"j -> IF((x >> j) % 2 = 1, 1L, -1L)), (p, q) -> p + q))"
    )
    summed = hashed.select(
        "doc_id",
        F.expr(bitsums).alias("bitsums"),
        F.expr("size(hs)").cast("long").alias("n_distinct_tokens"),
    )
    packed = (
        f"aggregate(zip_with(bitsums, sequence(0, {SIMHASH_BITS - 1}), "
        f"(s, j) -> IF(s > 0, shiftleft(1L, j), 0L)), 0L, (acc, x) -> acc + x)"
    )
    # coalesce is a NULLABILITY BARRIER, not a value change (the fold
    # over a non-null init is never null): without it, the pairs
    # query's equi-join on band values infers an isnotnull(simhash)
    # constraint that gets pushed below this projection and re-runs the
    # ENTIRE pipeline inside a Filter on each join side (4 evaluations
    # instead of 2 — the same hidden-duplication bug as the minhash
    # null filter).
    return summed.select(
        "doc_id",
        F.expr(f"coalesce({packed}, 0L)").alias("simhash"),
        "n_distinct_tokens",
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= HAMMING_MAX.

    Scale shape (pigeonhole banding, same trick as MinHash LSH): split
    the 60-bit signature into 4 15-bit bands — any pair within Hamming
    3 agrees exactly on >= 1 band — equi-join on (band_idx, band_val),
    then verify bit_count(xor) on the candidates. No O(n²) cross join;
    the verify is a map over candidate pairs."""
    sigs = simhash_signatures(spark, sf_dir).select("doc_id", "simhash")
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"cast((simhash >> {BAND_BITS * b}) "
                        f"% {1 << BAND_BITS} as int)"
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # Self-join, NOT bucket expansion (deliberately different from
    # minhash_lsh_pairs): a SimHash signature is one packed long that
    # costs ~0.6 s to recompute for the whole sf0.1 corpus, so paying
    # it once per join side is cheap, while the join SPREADS the
    # in-bucket pair blowup across the shuffle — the bucket-expansion
    # form concentrated a 1.6k-doc bucket's 1.25M candidate pairs into
    # one task's array (3.9 s and a memory hazard vs 1.7 s here). The
    # hamming filter runs BEFORE distinct so the dedup shuffle carries
    # 271k rows, not 2.9M.
    a, b = bands.alias("a"), bands.alias("b")
    cands = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.expr("cast(bit_count(a.simhash ^ b.simhash) as int)").alias(
            "hamming"
        ),
    )
    return cands.where(F.col("hamming") <= HAMMING_MAX).distinct()


def _word_shingles_spark() -> str:
    """Word-3-gram shingles as 60-bit md5-derived longs: the equi-join
    key is 8 bytes instead of a ~30-char string, shrinking the shuffle.
    A same-hash collision changes both engines identically (same md5),
    so oracle parity is preserved.

    Guarded for docs with < 3 tokens: sequence(1, size-2) DESCENDS when
    size < 3 ([1, 0]) and element_at(toks, 0) throws
    INVALID_INDEX_OF_ZERO; DuckDB's range() is empty there, so without
    the guard short docs crash Spark while the oracle silently skips
    them."""
    toks = "split(trim(lower(text)), '\\\\s+')"
    gram = (
        f"concat_ws(' ', element_at({toks}, i), "
        f"element_at({toks}, i + 1), element_at({toks}, i + 2))"
    )
    return (
        f"if(size({toks}) >= 3, "
        f"array_distinct(transform(sequence(1, size({toks}) - 2), "
        f"i -> cast(conv(substring(md5({gram}), 1, 15), 16, 10) as bigint))), "
        f"cast(array() as array<bigint>))"
    )


def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, grams): each doc's distinct word-3-gram hash array."""
    return docs.select(
        "doc_id", F.expr(_word_shingles_spark()).alias("grams")
    )


def _gram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle, n_sh) — each doc's distinct word-3-gram set
    exploded with its size riding along.

    The size lives INSIDE one expression (struct-carrying transform): a
    plain ``select(size(grams), explode(grams))`` lets the optimizer
    inline the gram-hash pipeline into BOTH uses plus the Generate (6
    md5 passes across the ngram self-join — measured 16.7 s); the
    single multi-reference expression keeps the grams projection
    materialized (2 passes, 1.8 s)."""
    return (
        _doc_grams(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(grams, x -> "
                    "named_struct('shingle', x, 'n_sh', size(grams)))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.shingle", "g.n_sh")
    )


def exploded_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs of any (doc_id, text) frame — bound
    here once so the batch ops and the maintained gram registry
    (``streaming/novelty.py``) shingle exactly alike.

    Struct-carried like ``_gram_rows``, never a bare
    ``explode(grams)``: ``InferFiltersFromGenerate`` adds ``size(grams)
    > 0 AND isnotnull(grams)`` for a plain explode, and those
    predicates push BELOW the spread repartition, inlining the full md5
    gram pipeline TWICE into the single-task scan stage (measured
    13.7 s vs 0.6 s for ``contamination_check``'s corpus side at
    sf0.1). The non-trivial generator blocks the inference and keeps
    the hashing after the fan-out."""
    return (
        _doc_grams(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(grams, x -> named_struct('shingle', x))")
            ).alias("g"),
        )
        .select("doc_id", "g.shingle")
    )


def _member_ids(cands: DataFrame, a: str, b: str) -> DataFrame:
    """(doc_id) — the distinct docs on either side of a candidate-pair
    frame with id columns ``a`` and ``b``."""
    return (
        cands.select(F.col(a).alias("doc_id"))
        .union(cands.select(F.col(b).alias("doc_id")))
        .distinct()
    )


def _member_grams(docs: DataFrame, members: DataFrame) -> DataFrame:
    """(doc_id, grams) for the docs in ``members`` only: the semi-join
    prunes the documents frame BEFORE the md5 gram projection runs, so
    verification hashes the candidate sliver, never the corpus."""
    return _doc_grams(docs.join(members, "doc_id", "left_semi"))


def _jaccard(ga, gb):
    """|A ∩ B| / |A ∪ B| of two distinct-gram arrays."""
    inter = F.size(F.array_intersect(ga, gb))
    return F.try_divide(inter, F.size(ga) + F.size(gb) - inter)


def _containment(ga, gb):
    """C(A→B) = |A ∩ B| / |A| — asymmetric, A is the contained side."""
    return F.try_divide(F.size(F.array_intersect(ga, gb)), F.size(ga))


# (output column, score function over two gram arrays, keep threshold)
_JACCARD = ("jaccard", _jaccard, JACCARD_THRESHOLD)
_CONTAINMENT = ("containment", _containment, CONTAINMENT_THRESHOLD)


def _verify(
    cands: DataFrame, grams: DataFrame, a: str, b: str, measure
) -> DataFrame:
    """(a, b, score) — candidate pairs joined to both sides' gram
    arrays, scored exactly by ``measure`` (``_JACCARD`` or
    ``_CONTAINMENT``) and thresholded.

    The score is a try_divide: a banded doc can have < 3 words (>= 5
    chars, 1-2 tokens) and so an empty gram set, and the 0/0 that
    makes would kill the job under ANSI mode; NULL drops the pair at
    the threshold instead, as the oracles' degenerate guards do."""
    name, score, threshold = measure
    ga = grams.select(F.col("doc_id").alias(a), F.col("grams").alias("ga"))
    gb = grams.select(F.col("doc_id").alias(b), F.col("grams").alias("gb"))
    return (
        cands.join(ga, a)
        .join(gb, b)
        .select(a, b, score(F.col("ga"), F.col("gb")).alias(name))
        .where(F.col(name) >= threshold)
    )


def _best_match(verified: DataFrame, score: str) -> DataFrame:
    """(doc_id, dup_of, score) — the best ``dup_of`` per ``doc_id``:
    highest score, ties to the lowest ``dup_of`` id.

    ONE map-side-combined hash aggregate (guide §2.3 "aggregate before
    you shuffle"): min(struct(-score, dup_of)) is the argmax, and
    partial aggregation shrinks the shuffle to one row per doc_id — a
    row_number sort-window pays a full sort of the verified stream for
    the same answer. Scores are ratios of BIGINT counts, so -x is
    exact, with no sign-zero or NaN edge (NULL scores never pass the
    verify threshold)."""
    best = verified.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col(score)).alias("neg_score"),
                F.col("dup_of").alias("dup_of"),
            )
        ).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.dup_of").alias("dup_of"),
        (-F.col("b.neg_score")).alias(score),
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for every pair sharing >=1 shingle,
    kept when >= JACCARD_THRESHOLD — the exact O(pairs) baseline the
    LSH tier replaces at scale.

    BASELINE — deploy ``dedup_lsh_verified`` at scale: it computes the
    same exact Jaccard but only for band-collision candidates.

    Each doc's distinct-gram array is exploded CARRYING ITS OWN SIZE
    (``_gram_rows``), so the intersection count and both set sizes
    come out of the one co-occurrence aggregate — no separate sizes
    branch, no joins back. The shingle self-join repartitions both
    sides on one key off an identical subtree, so exchange reuse runs
    the gram pipeline once, and the pair generation stays distributed
    across the shuffle (a per-shingle collect_list + in-bucket
    expansion was tried and concentrates a hot shingle's C(n,2) pairs
    into one array in one task — 5x slower on the near-dup-heavy
    corpus)."""
    sh = _gram_rows(load_table(spark, sf_dir, "documents", spread=True))
    a, b = sh.alias("a"), sh.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("co"))
    )
    return pair_counts.select(
        "doc_a",
        "doc_b",
        (F.col("co") / (F.col("n_a") + F.col("n_b") - F.col("co"))).alias(
            "jaccard"
        ),
    ).where(F.col("jaccard") >= JACCARD_THRESHOLD)


def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete scale-path dedup pipeline: MinHash → banded LSH
    candidates → exact word-3-gram Jaccard computed ONLY on candidate
    pairs → threshold. Unlike ``ngram_jaccard_pairs`` (which joins on
    every shared shingle — the exact-but-O(pairs) baseline), the
    verification here is an array_intersect over the two docs'
    distinct-gram arrays: per candidate pair, zero explosion, no
    per-shingle shuffle.

    Gram arrays are computed ONLY for candidate members: the member
    set falls out of the same bucket aggregation that feeds the pair
    expansion (one ReusedExchange, no second signature pass), and a
    semi-join prunes the documents scan before the md5 gram projection
    runs. At 100 TB candidates ≪ corpus, so hashing every document's
    3-grams on BOTH join branches — the previous shape — is the
    difference between two corpus-wide hash passes and two passes over
    the near-dup sliver."""
    buckets = _lsh_buckets(spark, sf_dir)
    return _verified_from_buckets(
        spark, sf_dir, buckets, _pairs_from_buckets(buckets)
    )


def _verified_from_buckets(
    spark: SparkSession,
    sf_dir: str,
    buckets: DataFrame,
    cands: DataFrame,
) -> DataFrame:
    """The exact-Jaccard verification tail of ``lsh_verified_pairs``
    over an already-built buckets frame and its candidate pairs —
    split out (r14) so ``dedup_recall_eval`` can grade the SAME
    executed pipeline without re-running the bucket aggregation for
    its candidate and verified legs separately."""
    # Lazy by design, no barrier on the buckets or the member grams.
    # Both bucket consumers aggregate over the SAME band exchange, so
    # exchange reuse runs the signature pipeline once (pinned at
    # runtime by tests/test_plan_hygiene.py::
    # test_lsh_verified_reuses_bucket_exchange_at_runtime). The pair
    # sides key on doc_a vs doc_b, so the gram projection can run once
    # per side — but over the semi-join-pruned near-dup sliver. The
    # r15 alternating A/B at sf0.1 against the checkpointed tail:
    # dedup_cross_modal 4.36 → 3.93 s median, dedup_recall_eval
    # equal-or-faster, identical rows; and a lazy build lets the
    # session plan memo amortize its construction across passes.
    members = buckets.select(F.explode("ids").alias("doc_id")).distinct()
    grams = _member_grams(
        load_table(spark, sf_dir, "documents", spread=True), members
    )
    return _verify(cands, grams, "doc_a", "doc_b", _JACCARD)


_SIGS_SQL = (
    # CASE mirrors the Spark-side short-text guard; DuckDB's range()
    # would be empty anyway, but keeping the guard explicit on both
    # sides documents the parity contract.
    "WITH h AS (SELECT doc_id, "
    f"CASE WHEN length(text) >= {SHINGLE} THEN "
    f"list_transform(range(1, length(text) - {SHINGLE - 2}), "
    f"i -> md5(substring(text, i::INT, {SHINGLE}))) "
    f"ELSE CAST([] AS VARCHAR[]) END AS hs FROM documents) "
    "SELECT doc_id, "
    + ", ".join(
        f"list_min(list_transform(hs, x -> substring(x, {5 * i + 1}, 5))) AS mh{i}"
        for i in range(N_HASHES)
    )
    + " FROM h"
)

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    + " || '|' || ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
    + " AS band_sig FROM sigs WHERE mh0 IS NOT NULL"
    for b in range(N_BANDS)
)

_SHINGLES_SQL = """
SELECT doc_id, unnest(list_distinct(list_transform(
  range(1, len(string_split_regex(trim(lower(text)), '\\s+')) - 1),
  i -> CAST(('0x' || substring(md5(
         string_split_regex(trim(lower(text)), '\\s+')[i] || ' ' ||
         string_split_regex(trim(lower(text)), '\\s+')[i+1] || ' ' ||
         string_split_regex(trim(lower(text)), '\\s+')[i+2]), 1, 15)) AS BIGINT)))) AS shingle
FROM documents
"""

_GRAMS_LIST_SQL = """
list_distinct(list_transform(
  range(1, len(string_split_regex(trim(lower(text)), '\\s+')) - 1),
  i -> CAST(('0x' || substring(md5(
         string_split_regex(trim(lower(text)), '\\s+')[i] || ' ' ||
         string_split_regex(trim(lower(text)), '\\s+')[i+1] || ' ' ||
         string_split_regex(trim(lower(text)), '\\s+')[i+2]), 1, 15)) AS BIGINT)))
"""

_SIMHASH_SQL = (
    """
WITH t AS (
  SELECT doc_id,
    list_transform(
      list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
      tok -> CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)) AS hs,
    len(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS n_distinct_tokens
  FROM documents
)
SELECT doc_id,
  CAST((
"""
    + " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {j}) % 2 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    + """
  ) AS BIGINT) AS simhash,
  CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens
FROM t
"""
)

_SIMHASH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS band_idx, "
    f"(simhash >> {BAND_BITS * b}) % {1 << BAND_BITS} AS band_val FROM sims"
    for b in range(SIMHASH_BANDS)
)

# Incremental split: doc_id % MOD >= NEW_RESIDUE plays the incoming
# batch (~20%); the rest is the already-ingested corpus.
INCREMENTAL_MOD = 10
INCREMENTAL_NEW_RESIDUE = 8


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape for continual
    ingestion: which docs of an incoming BATCH near-duplicate the
    EXISTING corpus (the batch is never compared against itself here;
    in-batch dedup is ``lsh_dedup_groups`` on the batch). Output is
    the drop-list: one row per duplicated new doc with its best corpus
    match (highest verified Jaccard, ties to the lowest corpus id).

    Scale shape: each side's signature pass runs only over its slice
    (the doc_id residue predicate pushes into both scans — one
    corpus-worth of hashing total, split across the sides), candidates
    come from the band equi-join, and gram verification is semi-join
    pruned to candidate members exactly like ``lsh_verified_pairs``.
    At 100 TB the corpus bands would be a MATERIALIZED bucketed table
    maintained at ingest, making re-crawl dedup a single equi-join of
    the new batch's bands against it — this query is that plan with
    the corpus side computed inline."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_new = (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW_RESIDUE
    corpus_bands = _bands_from(d.where(~is_new))
    batch_bands = _bands_from(d.where(is_new))
    cands = (
        batch_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_sig") == F.col("c.band_sig")),
        )
        .select(
            F.col("n.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("dup_of"),
        )
        .distinct()
    )
    return _verified_best_match(d, cands)


def _verified_best_match(d: DataFrame, cands: DataFrame) -> DataFrame:
    """Shared verification tail of the incremental dedup forms:
    semi-join-pruned word-3-gram Jaccard over (doc_id, dup_of)
    candidate pairs, thresholded, then the best corpus match per new
    doc (highest verified Jaccard, ties to the lowest corpus id).

    ``cands`` is consumed three times (both member-set legs + the
    verify join) and ``grams`` twice (both pair sides) — each is
    materialized once per run (lazy localCheckpoint, guide §3.3;
    runtime exchange reuse only collapsed part of the duplication,
    measured r14)."""
    cands = run_materialize(cands)
    grams = run_materialize(
        _member_grams(d, _member_ids(cands, "doc_id", "dup_of"))
    )
    return _best_match(
        _verify(cands, grams, "doc_id", "dup_of", _JACCARD), "jaccard"
    )


CORPUS_BANDS_BUCKETS = 32


def corpus_bands_ingest(
    spark: SparkSession, sf_dir: str, n_buckets: int = CORPUS_BANDS_BUCKETS
) -> DataFrame:
    """The MATERIALIZED corpus-bands table ``dedup_incremental``'s
    docstring promises: the already-ingested corpus's LSH band rows,
    written once as a managed table bucketed AND sorted by ``band_key``
    (band index ':' band signature collapsed into one string so the
    join key equals the bucket key — a composite bucket key would make
    the scan's HashPartitioning unusable for a (band, band_sig) join).

    Maintained at ingest time in a real deployment; idempotent per
    sf_dir here (``sources.writers.managed_ingest``). At 100 TB the
    band table is ~corpus-cardinality × N_BANDS short rows — far
    smaller than the corpus text — and re-crawl dedup stops re-hashing
    the corpus: the batch's bands equi-join straight into this table,
    with the corpus side a scan-only branch (zero Exchange, asserted in
    tests/test_dedup_materialized.py)."""
    from ..sources.writers import managed_ingest, sf_tag, write_bucketed

    table = f"corpus_bands_{sf_tag(sf_dir)}"

    def _write(path: str) -> None:
        d = load_table(spark, sf_dir, "documents", spread=True)
        corpus = d.where(
            (F.col("doc_id") % INCREMENTAL_MOD) < INCREMENTAL_NEW_RESIDUE
        )
        bands = _bands_from(corpus).select(
            "doc_id", _band_key().alias("band_key")
        )
        write_bucketed(bands, "band_key", table, n_buckets, path=path)

    return managed_ingest(spark, table, _write)


def _band_key():
    """(band, band_sig) collapsed to one join/bucket column. ':' never
    occurs in band_sig (hex + '|'), so the mapping is injective."""
    return F.concat_ws(":", F.col("band").cast("string"), F.col("band_sig"))


def _band_key_candidates(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """(doc_id, dup_of) — every (batch doc, corpus doc) pair agreeing
    on a whole band: the batch's (doc_id, text) rows are banded and
    equi-joined on ``band_key`` into an at-rest corpus band table
    (``corpus_bands_ingest``). One definition for the batch form and
    the streaming ingest epoch (``streaming/ingest.py``)."""
    bands = _bands_from(batch).select("doc_id", _band_key().alias("band_key"))
    return (
        bands.alias("n")
        .join(corpus.alias("c"), "band_key")
        .select(
            F.col("n.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("dup_of"),
        )
        .distinct()
    )


def dedup_incremental_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_incremental`` in its production 100 TB shape: the corpus
    side of the candidate join is the at-rest bucketed band table
    (``corpus_bands_ingest``) instead of an inline signature pass —
    same output rows, same oracle. Only the incoming batch is hashed
    per run; the corpus branch is a bucketed scan that joins with zero
    Exchange (the batch side is shuffled into the table's bucket
    partitioning). Signature hashing per re-crawl drops from
    O(corpus + batch) to O(batch)."""
    corpus = corpus_bands_ingest(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_new = (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW_RESIDUE
    return _verified_best_match(
        d, _band_key_candidates(d.where(is_new), corpus)
    )


def dedup_cross_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-dup detection — the union a modern pipeline
    actually runs: word-gram similarity misses paraphrases and
    translations that embedding cosine catches, and embeddings miss
    boilerplate-with-token-edits that exact grams nail. One row per
    pair flagged by EITHER detector, with provenance (by_text /
    by_embedding) and both scores, so downstream keep-policies can
    weigh the evidence.

    Both sides are their bucketed scale forms: the text side is the
    MinHash-banded verified pipeline (``lsh_verified_pairs``), the
    embedding side pairs vectors through the random-hyperplane
    signature equi-join with Hamming-1 multiprobe (same family as
    ``ann_lsh_bucketed``; a pair can satisfy at most one probe, so no
    distinct is needed) verified by exact cosine. The merge is a
    full-outer join on the pair key. At scale N_PLANES grows with
    corpus size (16 buckets is fixture-sized); every stage stays an
    equi-join — no all-pairs anywhere."""
    from ..similarity import ann as _ann

    text_pairs = lsh_verified_pairs(spark, sf_dir)
    # null-vector guard: see ann_lsh_bucketed — _sig_col's coalesce
    # barrier (r14) makes the old drop-at-join of null sigs explicit.
    e = (
        _ann._embeddings(spark, sf_dir)
        .where(F.col("v").isNotNull())
        .withColumn("sig", _ann._sig_col("v"))
    )
    # The exploded probe side carries KEYS ONLY (r14, guide §8
    # "decide with small rows, move big rows once"): the previous
    # shape put the vector on every probe row, multiplying the heavy
    # payload (N_PLANES+1)× through the join's exchange at scale. The
    # un-exploded side keeps its payload (it crosses once), and the
    # a-side vector attaches to the surviving candidates with one
    # equi-join over candidates ≪ corpus. Same pairs (a pair
    # satisfies at most one probe).
    a_keys = e.select(
        F.col("vec_id").alias("doc_a"),
        F.explode(
            F.array(
                F.col("sig"),
                *[
                    F.col("sig").bitwiseXOR(F.lit(1 << j))
                    for j in range(_ann.N_PLANES)
                ],
            )
        ).alias("probe"),
    )
    b = e.select(
        F.col("vec_id").alias("doc_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("sig").alias("sigb"),
    )
    cand = a_keys.join(
        b,
        (F.col("probe") == F.col("sigb"))
        & (F.col("doc_a") < F.col("doc_b")),
    ).select("doc_a", "doc_b", "vb", "nb")
    va = e.select(
        F.col("vec_id").alias("doc_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    emb_pairs = (
        cand.join(va, "doc_a")
        .select(
            "doc_a", "doc_b",
            _ann._cosine("va", "vb", "na", "nb").alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= _ann.NEARDUP_THRESHOLD)
    )
    merged = text_pairs.join(emb_pairs, ["doc_a", "doc_b"], "full_outer")
    return merged.select(
        "doc_a", "doc_b", "jaccard", "cosine_sim",
        F.col("jaccard").isNotNull().cast("int").alias("by_text"),
        F.col("cosine_sim").isNotNull().cast("int").alias("by_embedding"),
    )


_GROUPS_ORACLE = f"""
WITH sigs AS ({_SIGS_SQL}),
bands AS ({_BANDS_SQL}),
bucket_min AS (
  SELECT band, band_sig, min(doc_id) AS bucket_rep
  FROM bands GROUP BY 1, 2
)
SELECT b.doc_id, min(m.bucket_rep) AS group_rep,
       CAST(CASE WHEN b.doc_id = min(m.bucket_rep) THEN 1 ELSE 0 END
            AS INTEGER) AS is_rep
FROM bands b JOIN bucket_min m USING (band, band_sig)
GROUP BY b.doc_id
UNION ALL
SELECT doc_id, doc_id AS group_rep, CAST(1 AS INTEGER) AS is_rep
FROM documents WHERE text IS NULL OR length(text) < {SHINGLE}
"""


def corpus_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialization step after near-dup detection: the CLEANED
    corpus — one row per surviving doc (its LSH dedup-group
    representative) with the group size it stands for, joined back to
    the source for per-doc accounting (chars kept). This is the op a
    training-data pipeline actually ships — detection alone is only
    half the dedup story.

    Scale shape: group sizes via a window over the SAME groups frame
    (a groupBy + join-back would re-run the signature pipeline on a
    second DAG branch — the §4.1 duplication class), then one linear
    equi-join into documents on doc_id. Short docs survive as their
    own representatives (group_size 1)."""
    from pyspark.sql import Window

    groups = lsh_dedup_groups(spark, sf_dir)
    reps = (
        groups.withColumn(
            "group_size", F.count(F.lit(1)).over(Window.partitionBy("group_rep"))
        )
        .where(F.col("is_rep") == 1)
        .select("doc_id", "group_size")
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    return d.join(reps, "doc_id")


CONTAM_BENCH_MOD = 10
CONTAM_BENCH_RESIDUE = 7
CONTAM_OVERLAP_MIN = 0.3


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection — the decontamination pass a
    training corpus runs before release: flag every training document
    whose word-3-gram overlap with an EVAL-SET document exceeds a
    threshold (the n-gram membership test used since GPT-2/GPT-3-era
    dataset reports). Here the eval set is the deterministic
    ``doc_id % 10 == 7`` slice standing in for a held-out benchmark;
    a real deployment swaps in the benchmark's own text and keeps the
    plan unchanged.

    Spark shape: the eval side is SMALL by nature (benchmarks are KBs,
    corpora are TBs), so its exploded gram set is broadcast — the
    check is one map-side hash join over the corpus gram stream plus
    one aggregation; the corpus is scanned once, never shuffled on
    text. Overlap is counted against the BENCHMARK's gram count
    (n_shared / n_bench): the question is how much of the eval doc
    leaked, not how big the training doc is.

    BOTH explodes are the struct-carried ``_gram_rows`` /
    ``exploded_shingles`` (the ``InferFiltersFromGenerate`` guard), so
    the hashing runs after the spread fan-out, never in the scan
    stage."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_bench = (
        F.col("doc_id") % CONTAM_BENCH_MOD == CONTAM_BENCH_RESIDUE
    )
    bench = _gram_rows(d.where(is_bench)).select(
        F.col("doc_id").alias("bench_id"),
        "shingle",
        F.col("n_sh").alias("n_bench"),
    )
    corpus = exploded_shingles(d.where(~is_bench))
    return score_contamination_against(corpus, bench)


def score_contamination_against(
    corpus: DataFrame, bench: DataFrame
) -> DataFrame:
    """The contamination-flagging tail over any (doc_id, shingle)
    corpus frame and any (bench_id, shingle, n_bench) benchmark gram
    frame — ONE definition shared by the inline op (benchmark
    re-shingled per call) and the maintained gram-registry serve
    (``streaming/novelty.py``'s ``contamination_report``), so the two
    paths cannot drift. The benchmark side broadcasts; the corpus is
    scanned once, never shuffled on text."""
    co = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id", "n_bench")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    frac = F.round(F.col("n_shared") / F.col("n_bench"), 6)
    return (
        co.select(
            "doc_id", "bench_id", "n_shared",
            frac.alias("overlap_frac"),
        )
        .where(F.col("overlap_frac") >= CONTAM_OVERLAP_MIN)
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_signatures": minhash_signatures,
    "dedup_minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_lsh_groups": lsh_dedup_groups,
    "dedup_lsh_components": lsh_dedup_components,
    "dedup_simhash": simhash_signatures,
    "dedup_simhash_pairs": simhash_pairs,
    "dedup_ngram_jaccard": ngram_jaccard_pairs,
    "dedup_lsh_verified": lsh_verified_pairs,
    "corpus_dedup_keep": corpus_dedup_keep,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_materialized": dedup_incremental_materialized,
    "dedup_cross_modal": dedup_cross_modal,
    "contamination_check": contamination_check,
}

ORACLES = {
    "dedup_exact": """
WITH t AS (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                            '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS n_copies
FROM t GROUP BY fingerprint
""",
    "dedup_minhash_signatures": _SIGS_SQL,
    "dedup_lsh_groups": _GROUPS_ORACLE,
    "dedup_incremental": f"""
WITH sigs AS ({_SIGS_SQL}),
bands AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS dup_of
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig
   AND a.doc_id % {INCREMENTAL_MOD} < {INCREMENTAL_NEW_RESIDUE}
   AND b.doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW_RESIDUE}
),
grams AS (SELECT doc_id, {_GRAMS_LIST_SQL} AS grams FROM documents),
verified AS (
  SELECT c.doc_id, c.dup_of,
         len(list_intersect(gn.grams, gc.grams))
           / CAST(len(gn.grams) + len(gc.grams)
                  - len(list_intersect(gn.grams, gc.grams)) AS DOUBLE)
           AS jaccard
  FROM cands c
  JOIN grams gn ON gn.doc_id = c.doc_id
  JOIN grams gc ON gc.doc_id = c.dup_of
  -- Degenerate guard: two banded docs can both have <3 words (>=5
  -- chars but 1-2 tokens), making Jaccard 0/0. Spark yields NULL and
  -- drops the pair at the threshold; DuckDB yields NaN, and NaN >=
  -- 0.4 is TRUE in its total order. Drop such pairs here too.
  WHERE len(gn.grams) + len(gc.grams) > 0
)
SELECT doc_id, dup_of, jaccard FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY jaccard DESC, dup_of) AS rn
  FROM verified WHERE jaccard >= {JACCARD_THRESHOLD})
WHERE rn = 1
""",
    "corpus_dedup_keep": f"""
WITH g AS ({_GROUPS_ORACLE}),
sized AS (
  SELECT doc_id, is_rep,
         count(*) OVER (PARTITION BY group_rep) AS group_size
  FROM g
)
SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(s.group_size AS BIGINT) AS group_size
FROM documents d JOIN sized s USING (doc_id)
WHERE s.is_rep = 1
""",
    # Transitive components: reachability closure over in-bucket edges,
    # labeled by the minimum reachable doc_id. The recursive UNION
    # dedups rows, so the walk terminates at the closure; every doc
    # seeds itself, which also covers sub-shingle docs (no bands → no
    # edges → singleton label).
    "dedup_lsh_components": f"""
WITH RECURSIVE sigs AS ({_SIGS_SQL}),
bands AS ({_BANDS_SQL}),
edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id <> b.doc_id
),
walk(doc_id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
)
SELECT doc_id, min(reach) AS label,
       CAST(CASE WHEN doc_id = min(reach) THEN 1 ELSE 0 END AS INTEGER)
         AS is_rep
FROM walk GROUP BY doc_id
""",
    "dedup_minhash_lsh_pairs": f"""
WITH sigs AS ({_SIGS_SQL}),
bands AS ({_BANDS_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
""",
    "dedup_simhash": _SIMHASH_SQL,
    "dedup_simhash_pairs": f"""
WITH sims AS ({_SIMHASH_SQL}),
bands AS ({_SIMHASH_BANDS_SQL}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cands WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
""",
    "dedup_lsh_verified": f"""
WITH sigs AS ({_SIGS_SQL}),
bands AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
grams AS (SELECT doc_id, {_GRAMS_LIST_SQL} AS grams FROM documents)
SELECT doc_a, doc_b,
       len(list_intersect(ga.grams, gb.grams))
         / CAST(len(ga.grams) + len(gb.grams)
                - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS jaccard
FROM cands c
JOIN grams ga ON ga.doc_id = c.doc_a
JOIN grams gb ON gb.doc_id = c.doc_b
WHERE len(ga.grams) + len(gb.grams) > 0  -- 0/0: NULL in Spark, NaN here
  AND len(list_intersect(ga.grams, gb.grams))
        / CAST(len(ga.grams) + len(gb.grams)
               - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
      >= {JACCARD_THRESHOLD}
""",
    "dedup_ngram_jaccard": f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT co.doc_a, co.doc_b,
       co.co / CAST(sa.n_sh + sb.n_sh - co.co AS DOUBLE) AS jaccard
FROM co
JOIN sizes sa ON sa.doc_id = co.doc_a
JOIN sizes sb ON sb.doc_id = co.doc_b
WHERE co.co / CAST(sa.n_sh + sb.n_sh - co.co AS DOUBLE) >= {JACCARD_THRESHOLD}
""",
}

# The materialized form computes the same relation as the inline form
# (only the corpus side's physical source differs), so it shares the
# oracle verbatim.
ORACLES["dedup_incremental_materialized"] = ORACLES["dedup_incremental"]


def _cross_modal_oracle() -> str:
    """Composes the text-verified-pairs oracle with the embedding
    hyperplane-LSH pairs (signature + probe list from the SAME plane
    literals as the Spark side, via similarity.ann's SQL builders)."""
    from ..similarity import ann as _ann

    sig = _ann._sig_sql()
    cos = _ann._cos_sql("a.v", "b.v", "a.nrm", "b.nrm")
    probe_list = ", ".join(
        ["sig"] + [f"xor(sig, {1 << j})" for j in range(_ann.N_PLANES)]
    )
    return f"""
WITH sigs AS ({_SIGS_SQL}),
bands AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
grams AS (SELECT doc_id, {_GRAMS_LIST_SQL} AS grams FROM documents),
text_pairs AS (
  SELECT doc_a, doc_b,
         len(list_intersect(ga.grams, gb.grams))
           / CAST(len(ga.grams) + len(gb.grams)
                  - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
           AS jaccard
  FROM cands c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b
  WHERE len(ga.grams) + len(gb.grams) > 0
    AND len(list_intersect(ga.grams, gb.grams))
          / CAST(len(ga.grams) + len(gb.grams)
                 - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
),
{_ann._E_SQL.strip().lstrip()},
emb_sigs AS (SELECT vec_id, v, nrm, ({sig}) AS sig FROM n),
emb_probes AS (
  SELECT vec_id, v, nrm, unnest([{probe_list}]) AS probe FROM emb_sigs
),
emb_pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, {cos} AS cosine_sim
  FROM emb_probes a JOIN emb_sigs b
    ON a.probe = b.sig AND a.vec_id < b.vec_id
  WHERE {cos} >= {_ann.NEARDUP_THRESHOLD}
)
SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
       COALESCE(t.doc_b, c.doc_b) AS doc_b,
       t.jaccard, c.cosine_sim,
       CAST(t.jaccard IS NOT NULL AS INTEGER) AS by_text,
       CAST(c.cosine_sim IS NOT NULL AS INTEGER) AS by_embedding
FROM text_pairs t
FULL JOIN emb_pairs c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
"""


ORACLES["dedup_cross_modal"] = _cross_modal_oracle()

# DuckDB twin of contamination_check: same gram hashes, overlap
# counted against the benchmark doc's distinct-gram count. Zero-gram
# bench docs (< 3 tokens) produce no exploded rows on either side, so
# the n_bench divisor is never 0.
ORACLES["contamination_check"] = f"""
WITH grams AS (
  SELECT doc_id, {_GRAMS_LIST_SQL} AS grams FROM documents
),
bex AS (
  SELECT doc_id AS bench_id, CAST(len(grams) AS BIGINT) AS n_bench,
         unnest(grams) AS shingle
  FROM grams
  WHERE doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_RESIDUE}
),
cex AS (
  SELECT doc_id, unnest(grams) AS shingle
  FROM grams
  WHERE doc_id % {CONTAM_BENCH_MOD} <> {CONTAM_BENCH_RESIDUE}
),
co AS (
  SELECT c.doc_id, b.bench_id, b.n_bench,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM cex c JOIN bex b USING (shingle)
  GROUP BY 1, 2, 3
)
SELECT doc_id, bench_id, n_shared,
       round(n_shared / CAST(n_bench AS DOUBLE), 6) AS overlap_frac
FROM co
WHERE round(n_shared / CAST(n_bench AS DOUBLE), 6) >= {CONTAM_OVERLAP_MIN}
"""


def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality report of the scale-path dedup against exact ground
    truth: recall of the banded-LSH pipeline over the exact
    ngram-Jaccard pair set, plus the candidate precision the verify
    step pays for — the same harness discipline as ``ann_recall_eval``
    (an approximation you cannot measure is one you cannot tune;
    banding parameters trade recall for candidate volume, and this
    report is the number that trade is made on).

    One DataFrame, no driver math: three 1-row aggregates (truth,
    candidates, verified) and a semi-join hit count cross-joined into
    the report row — the broadcast-1-row pattern the calibration tier
    uses. At scale the expensive branch is the exact all-pairs truth
    (the documented O(n^2) baseline); run this on a SAMPLE in
    production, exactly like ANN recall."""
    # Pure-lazy build (r15; was checkpoint-per-leg in r14). Two moves:
    # (a) the truth/found legs are FUSED — one full_outer join on the
    # pair key with a presence marker per side feeds ONE aggregate
    # producing n_true_pairs, n_verified and n_hits together (both
    # sides are keyed pair SETS, so count(marker) ≡ the old separate
    # counts and count(both) ≡ the old left_semi hit count) — which
    # makes truth and found single-consumer, so their barriers bought
    # nothing; (b) with every barrier gone the build performs no
    # per-run materialization and the session plan memo amortizes its
    # construction across passes, while every execution still runs
    # the FULL retired-twin pipelines from parquet: exact
    # ngram-Jaccard (truth), banded LSH candidates (cands), and the
    # verified tail (found = the same _verified_from_buckets
    # lsh_verified_pairs runs). The duplicated bucket lineage is
    # collapsed by exchange reuse at runtime (the
    # test_lsh_verified_reuses_bucket_exchange pin). Alternating A/B
    # at sf0.1: 5.61 → 4.57 s median, identical rows.
    truth = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    buckets = _lsh_buckets(spark, sf_dir)
    # cands deliberately NOT checkpointed: its verify-join consumer
    # wants the planner's stats (a LogicalRDD barrier hides them and
    # degraded the join strategy — A/B'd r14: checkpointing cands
    # measured slower than recomputing the cheap expansion twice).
    cands = _pairs_from_buckets(buckets).select("doc_a", "doc_b")
    found = _verified_from_buckets(spark, sf_dir, buckets, cands).select(
        "doc_a", "doc_b"
    )
    tf = (
        truth.withColumn("t", F.lit(1))
        .join(
            found.withColumn("f", F.lit(1)),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        .agg(
            F.count("t").alias("n_true_pairs"),
            F.count("f").alias("n_verified"),
            F.count(
                F.when(F.col("t").isNotNull() & F.col("f").isNotNull(), 1)
            ).alias("n_hits"),
        )
    )
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    return tf.crossJoin(n_cand).select(
        "n_true_pairs", "n_candidates", "n_verified", "n_hits",
        F.round(
            F.try_divide(F.col("n_hits"), F.col("n_true_pairs")), 6
        ).alias("recall"),
        F.round(
            F.try_divide(F.col("n_verified"), F.col("n_candidates")), 6
        ).alias("candidate_precision"),
    )


def _containment_prefix(sh: DataFrame, df_tab: DataFrame) -> DataFrame:
    """Each doc's floor((1-τ)·n)+1 RAREST grams by the given document
    frequencies — the lossless candidate generator (pigeonhole: any
    that many grams of A must intersect every B with C(A→B) ≥ τ, so
    WHICH grams are chosen affects only candidate volume, never
    recall; a frozen/stale df table therefore stays exact, it just
    prunes a little worse). Grams absent from ``df_tab`` count df 0 —
    maximally rare, prefix-first."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    return (
        sh.join(df_tab, "shingle", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .withColumn("rk", F.row_number().over(w))
        .where(
            F.col("rk")
            <= F.floor(
                (1.0 - CONTAINMENT_THRESHOLD) * F.col("n_sh")
            )
            + 1
        )
        .select("doc_id", "shingle", "n_sh")
    )


def _fragment_candidates(
    new_sh: DataFrame, df_tab: DataFrame, cor_sh: DataFrame
) -> DataFrame:
    """(doc_id, dup_of) — each new doc's prefix grams (ranked by
    ``df_tab``, see ``_containment_prefix``) equi-joined on the shingle
    into the corpus gram rows, kept where the corpus doc's gram set is
    at least as large. Both sides are ``_gram_rows``-shaped. One
    definition for the batch fragment form, the streaming epoch
    (``streaming/fragment_ingest.py``) and the stale-df test."""
    a, b = _containment_prefix(new_sh, df_tab).alias("a"), cor_sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.n_sh") <= F.col("b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("dup_of"),
        )
        .distinct()
    )


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: (contained, container) pairs
    where C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| ≥ threshold and
    A's gram set is no larger than B's — the fragment/quote/subset
    case symmetric Jaccard structurally misses (a 100-gram doc fully
    inside a 10,000-gram doc has containment 1.0 but Jaccard ~0.01,
    far under any dedup threshold). For a training corpus this is the
    boilerplate-wrapped repost / quoted-article case.

    Scale shape: EXACT prefix filtering (Chaudhuri et al. SSJoin /
    Xiao et al. PPJoin family). If C(A→B) ≥ τ then A has at most
    (1-τ)·|A| grams outside B, so among A's p = floor((1-τ)·|A|)+1
    globally-RAREST grams at least one must be in B — joining only
    those p prefix grams (per contained candidate) against the full
    gram table finds EVERY qualifying pair, no recall loss, while a
    hot stop-gram can only fan out from docs whose prefix it is
    (i.e., docs whose every gram is common). At τ=0.9 the prefix is
    ~|A|/10+1 grams, and measured candidate volume collapses ~450×
    vs a rare-gram cap rule at sf0.01 (26 candidates for 25 verified
    pairs — 96% candidate precision). Rarity ranking costs one
    gram-keyed df aggregate plus one doc-keyed row_number window —
    both O(tokens) shuffles, the same order as the LSH tier's gram
    passes. Verification computes exact containment over the
    semi-join-pruned gram arrays of candidates only
    (``_member_grams`` + ``_verify``) — never all pairs. Because the
    filter is lossless, the operator's contract is the pure
    containment definition; the oracle encodes the same prefix
    candidates only to stay plan-faithful, not because the rule
    changes the answer.

    DEPLOYMENT ORDER MATTERS (measured, SCALE §10.3 r9 addendum):
    near-dup clusters share their rare grams, so a cluster of k
    replicas contributes ~k² prefix candidates — on the raw ×10
    corpus that is 690k candidates at 0.4% precision. Run this
    fragment tier AFTER the near-dup tier's ``corpus_dedup_keep``
    collapse: on the ×10 corpus's 1,228 representatives the same
    pass generates 0 replica-driven candidates and finishes 3×
    faster end-to-end."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    # sh feeds three consumers (the df aggregate, the prefix ranking,
    # and the candidate join's container side) and cands three more
    # (both member-set legs + the verify join): materialize each once
    # per run (lazy localCheckpoint, guide §3.3 — runtime exchange
    # reuse only collapsed part of the duplication, measured r14; the
    # gram stream is O(tokens), the same order as the shuffles it
    # feeds, and everything still computes from parquet per run).
    sh = run_materialize(_gram_rows(d))
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    prefix = _containment_prefix(sh, df_tab)
    a, b = prefix.alias("a"), sh.alias("b")
    cands = run_materialize(
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (
                (F.col("a.n_sh") < F.col("b.n_sh"))
                | (
                    (F.col("a.n_sh") == F.col("b.n_sh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("contained"),
            F.col("b.doc_id").alias("container"),
        )
        .distinct()
    )
    grams = run_materialize(
        _member_grams(d, _member_ids(cands, "contained", "container"))
    )
    return _verify(cands, grams, "contained", "container", _CONTAINMENT)


def _containment_best_match(d: DataFrame, cands: DataFrame) -> DataFrame:
    """Containment analog of ``_verified_best_match``: exact
    containment over the semi-join-pruned gram arrays of
    ``(doc_id, dup_of)`` candidate pairs, thresholded, then the best
    container per contained doc (highest containment, ties to the
    lowest container id — the one ``_best_match`` rule). Shared by the
    batch fragment form and the streaming ingest twin so the verify
    rule can never drift. ``cands`` and ``grams`` are each consumed
    more than once and materialize once per run, as in
    ``_verified_best_match``."""
    cands = run_materialize(cands)
    grams = run_materialize(
        _member_grams(d, _member_ids(cands, "doc_id", "dup_of"))
    )
    return _best_match(
        _verify(cands, grams, "doc_id", "dup_of", _CONTAINMENT),
        "containment",
    )


def fragment_pairs_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fragment-vs-corpus dedup at the ingest boundary — the
    asymmetric sibling of ``dedup_incremental``: for every NEW
    document (the ``doc_id % 10 >= 8`` slice, same convention), the
    best at-rest CORPUS document that CONTAINS it (containment of the
    new doc's gram set ≥ τ, corpus gram set at least as large) — the
    "is this crawl drop already covered by something we have?"
    question that symmetric Jaccard misses for boilerplate-wrapped
    reposts and quoted articles.

    The prefix ranks the NEW doc's grams by the CORPUS document
    frequency — exactly what a deployment has at ingest time (a
    frozen df snapshot maintained with the corpus gram table, the
    frozen-coarse-centroids pattern from the ANN ingest store). The
    pigeonhole argument in ``_containment_prefix`` does not care
    which grams form the prefix, so a frozen/stale snapshot keeps
    the filter LOSSLESS — staleness only costs candidate volume.
    Grams never seen in the corpus rank df 0 (rarest, prefix-first).
    Streaming twin: ``streaming/fragment_ingest.py`` mounts this
    per-epoch against the materialized gram store; union of epoch
    drop-lists equals this batch form regardless of slicing, because
    candidates only ever pair a NEW doc with the CORPUS."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_new = (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW_RESIDUE
    new_sh = _gram_rows(d.where(is_new))
    cor_sh = _gram_rows(d.where(~is_new))
    frozen_df = cor_sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    return _containment_best_match(
        d, _fragment_candidates(new_sh, frozen_df, cor_sh)
    )


# Staged split (the vocab pattern): the module is REGISTERED, so the
# staged remainder lives in STAGED_QUERIES/STAGED_ORACLES and is
# proven through STAGED_CORRECTNESS.json instead of a driver row.
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against the benchmark/reference slice: the memorization-risk complement of contamination.

    ``contamination_check`` FLAGS training docs whose overlap with an
    eval doc crosses a threshold; curation also wants the continuous
    per-doc signal — what fraction of a doc's word-3-grams are NOVEL
    (absent from the reference slice). Low novelty means the doc is
    mostly restatements of reference material (memorization risk /
    benchmark leakage below the flag threshold); the score is the
    ranking axis for "distinct from eval" data selection, next to
    DSIR's "similar to target" axis. The reference here is the same
    deterministic ``doc_id % 10 == 7`` slice the contamination check
    uses; a real deployment swaps in the benchmark text, plan
    unchanged.

    Spark shape (the contamination plan's shape): the reference gram
    set is small by nature — distinct grams of the eval suite —
    so it broadcasts; the corpus gram stream is scanned once, LEFT
    joins the reference map-side, and aggregates per doc. No shuffle
    of the corpus on text. The struct-carried explode keeps the md5
    gram pipeline out of the scan stage (the
    ``InferFiltersFromGenerate`` trap, see ``exploded_shingles``).
    Docs with < 3 tokens have no grams and emit nothing — same
    contract as the oracle's ``unnest`` of an empty list.

    Columns: doc_id, n_grams, n_novel, novelty."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_bench = (
        F.col("doc_id") % CONTAM_BENCH_MOD == CONTAM_BENCH_RESIDUE
    )
    ref = exploded_shingles(d.where(is_bench)).select("shingle").distinct()
    corpus = exploded_shingles(d.where(~is_bench))
    return score_novelty_against(corpus, ref)


def score_novelty_against(corpus: DataFrame, ref: DataFrame) -> DataFrame:
    """The novelty-scoring tail over any (doc_id, shingle) corpus
    frame and any (shingle) reference gram set — ONE definition
    shared by the inline op (reference re-shingled per call) and the
    maintained-store serve (``streaming/novelty.py``'s
    ``novelty_report`` scores against ``current_ref_grams``), so the
    two paths cannot drift. The reference set broadcasts (distinct
    grams of the eval suite — small by nature); the corpus never
    shuffles on text."""
    joined = corpus.join(
        F.broadcast(ref.withColumn("known", F.lit(1))), "shingle", "left"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("known").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


NOVELTY_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, {_GRAMS_LIST_SQL} AS grams FROM documents
),
ref AS (
  SELECT DISTINCT unnest(grams) AS shingle
  FROM grams
  WHERE doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_RESIDUE}
),
cex AS (
  SELECT doc_id, unnest(grams) AS shingle
  FROM grams
  WHERE doc_id % {CONTAM_BENCH_MOD} <> {CONTAM_BENCH_RESIDUE}
),
agg AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM cex c LEFT JOIN ref r USING (shingle)
  GROUP BY 1
)
SELECT doc_id, n_grams, n_novel,
       round(n_novel / CAST(n_grams AS DOUBLE), 6) AS novelty
FROM agg
"""


STAGED_QUERIES = {
    "dedup_recall_eval": dedup_recall_eval,
    "dedup_containment": containment_pairs,
    "dedup_fragments_incremental": fragment_pairs_incremental,
    # r12: the continuous memorization-risk score next to the
    # threshold flag above.
    "text_ngram_novelty": text_ngram_novelty,
}
STAGED_ORACLES = {
    "dedup_recall_eval": f"""
WITH truth AS ({{NGRAM}}),
cand AS ({{PAIRS}}),
found AS ({{VERIFIED}})
SELECT t.n_true_pairs, c.n_candidates, f.n_verified, h.n_hits,
       round(CAST(h.n_hits AS DOUBLE)
               / NULLIF(t.n_true_pairs, 0), 6) AS recall,
       round(CAST(f.n_verified AS DOUBLE)
               / NULLIF(c.n_candidates, 0), 6) AS candidate_precision
FROM (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM truth) t,
     (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand) c,
     (SELECT CAST(count(*) AS BIGINT) AS n_verified FROM found) f,
     (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM truth x
      WHERE EXISTS (SELECT 1 FROM found y
                    WHERE y.doc_a = x.doc_a
                      AND y.doc_b = x.doc_b)) h
""".format(
        NGRAM=ORACLES["dedup_ngram_jaccard"],
        PAIRS=ORACLES["dedup_minhash_lsh_pairs"],
        VERIFIED=ORACLES["dedup_lsh_verified"],
    ),
    # Same exact prefix-filter candidates + exact containment verify
    # as the Spark plan (the filter is lossless, so this is also just
    # the containment definition); co-occurrence count over distinct
    # gram sets equals |array_intersect|, so the verifies agree.
    "dedup_containment": f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
ranked AS (
  SELECT sh.doc_id, sh.shingle,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY d.df, sh.shingle) AS rk
  FROM sh JOIN df d USING (shingle)
),
prefix AS (
  SELECT r.doc_id, r.shingle
  FROM ranked r JOIN sizes s USING (doc_id)
  WHERE r.rk <= CAST(floor((1.0 - {CONTAINMENT_THRESHOLD}) * s.n_sh)
                     AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT p.doc_id AS contained, b.doc_id AS container
  FROM prefix p
  JOIN sh b ON b.shingle = p.shingle
  JOIN sizes sa ON sa.doc_id = p.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  WHERE (sa.n_sh < sb.n_sh)
     OR (sa.n_sh = sb.n_sh AND p.doc_id < b.doc_id)
),
co AS (
  SELECT c.contained, c.container, count(*) AS co
  FROM cand c
  JOIN sh a ON a.doc_id = c.contained
  JOIN sh b ON b.doc_id = c.container AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT co.contained, co.container,
       co.co / CAST(s.n_sh AS DOUBLE) AS containment
FROM co JOIN sizes s ON s.doc_id = co.contained
WHERE co.co / CAST(s.n_sh AS DOUBLE) >= {CONTAINMENT_THRESHOLD}
""",
    # Same frozen-corpus-df prefix + exact verify + best-match rule
    # as the Spark plan (and as dedup_incremental's best-match shape).
    "dedup_fragments_incremental": f"""
WITH sh AS ({_SHINGLES_SQL}),
cor AS (SELECT * FROM sh WHERE doc_id % {INCREMENTAL_MOD}
                               < {INCREMENTAL_NEW_RESIDUE}),
new AS (SELECT * FROM sh WHERE doc_id % {INCREMENTAL_MOD}
                               >= {INCREMENTAL_NEW_RESIDUE}),
sizes_new AS (SELECT doc_id, count(*) AS n_sh FROM new GROUP BY doc_id),
sizes_cor AS (SELECT doc_id, count(*) AS n_sh FROM cor GROUP BY doc_id),
fdf AS (SELECT shingle, count(*) AS df FROM cor GROUP BY shingle),
ranked AS (
  SELECT n.doc_id, n.shingle,
         row_number() OVER (PARTITION BY n.doc_id
                            ORDER BY COALESCE(f.df, 0), n.shingle) AS rk
  FROM new n LEFT JOIN fdf f USING (shingle)
),
prefix AS (
  SELECT r.doc_id, r.shingle
  FROM ranked r JOIN sizes_new s USING (doc_id)
  WHERE r.rk <= CAST(floor((1.0 - {CONTAINMENT_THRESHOLD}) * s.n_sh)
                     AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT p.doc_id, c.doc_id AS dup_of
  FROM prefix p
  JOIN cor c ON c.shingle = p.shingle
  JOIN sizes_new sa ON sa.doc_id = p.doc_id
  JOIN sizes_cor sb ON sb.doc_id = c.doc_id
  WHERE sa.n_sh <= sb.n_sh
),
co AS (
  SELECT cd.doc_id, cd.dup_of, count(*) AS co
  FROM cand cd
  JOIN new a ON a.doc_id = cd.doc_id
  JOIN cor b ON b.doc_id = cd.dup_of AND b.shingle = a.shingle
  GROUP BY 1, 2
),
scored AS (
  SELECT co.doc_id, co.dup_of,
         co.co / CAST(s.n_sh AS DOUBLE) AS containment
  FROM co JOIN sizes_new s ON s.doc_id = co.doc_id
  WHERE co.co / CAST(s.n_sh AS DOUBLE) >= {CONTAINMENT_THRESHOLD}
)
SELECT doc_id, dup_of, containment FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY containment DESC, dup_of) = 1
""",
    "text_ngram_novelty": NOVELTY_ORACLE,
}

# r10 graduation: dedup_containment moves from the staged tier into the
# registry (slot freed by retiring the ann_pq_adc baseline —
# registry.RETIRED). The entries are moved here, below the staged
# dicts, because the oracle literal needs CONTAINMENT_THRESHOLD /
# _SHINGLES_SQL which are defined after the ORACLES block closes.
QUERIES["dedup_containment"] = STAGED_QUERIES.pop("dedup_containment")
ORACLES["dedup_containment"] = STAGED_ORACLES.pop("dedup_containment")

# r10 graduation (second batch): the banded-LSH recall grader moves
# into the registry — the slot freed by retiring the exact O(n²)
# dedup_ngram_jaccard baseline, whose SQL stays driver-exercised as
# this oracle's ground-truth CTE (and whose standalone parity is
# pinned in tests/test_dedup_recall.py).
QUERIES["dedup_recall_eval"] = STAGED_QUERIES.pop("dedup_recall_eval")
ORACLES["dedup_recall_eval"] = STAGED_ORACLES.pop("dedup_recall_eval")
