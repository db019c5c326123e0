"""Plan-hygiene regression guard: no registry query may silently plan
a cartesian product or an unintended nested-loop join. The two exact
all-pairs baselines do so BY DESIGN (their docstrings say the LSH tier
replaces them at scale) and are whitelisted explicitly — anything else
that starts nested-looping is a scale bug this test catches at plan
time (no execution), on the statically planned shape
(``audit.static_plan_string``) like the shuffle and scan guards."""

import pytest

from customer_churn_prediction_spark.plans import registry
from customer_churn_prediction_spark.plans.audit import static_plan_string

# Deliberate O(n²) baselines / tiny-side nested loops, documented in
# their modules. Everything else must plan hash/sort-merge/broadcast
# HASH joins only. (dedup_ngram_jaccard was removed: it plans equi
# joins only, so whitelisting it silently disabled the guard there.)
ALLOWED_NESTED_LOOP = {
    # (ann_bruteforce_topk retired from the registry in r10; its
    # 5-query broadcast NLJ now plans inside ann_recall_matrix below.)
    "ann_bruteforce_int8",     # same plan over the quantized store
    "ann_bruteforce_int8_stored",  # same plan, at-rest int8 scan side
    "ann_recall_eval",          # composes ann_bruteforce_topk (NLJ side)
    # (embedding_neardup_pairs retired from the registry in r6; its
    # module fn keeps the all-pairs plan for the recall/governance
    # tests but is no longer parametrized here.)
    "text_tfidf_topk",          # 1-row broadcast scalar (corpus size)
    # r10: text_logprob's corpus-totals global window became the same
    # 1-row broadcast scalar (a global window single-tasks the whole
    # vocab table at scale); the keep decision composes it
    "text_logprob",
    "corpus_keep_decision",
    # registered r13 (graduated): the bigram scorer shares
    # text_logprob's 1-row broadcast corpus-totals scalar (its add-one
    # unigram backoff is the same p1 model); the heavy legs are
    # equi-joins covered by the shuffle budgets
    "text_logprob_bigram",
    # registered r9: the error-band report crossJoins the broadcast
    # 1-row N-total scalar (the calibration-tier report pattern)
    "heavy_hitters_cms",
    # registered r10: composes the exact bruteforce + int8 legs (both
    # non-equi broadcast NLJ by design) as the matrix's ground truth
    "ann_recall_matrix",
    # rec_eval_ndcg left the whitelist in r14 (the pair-lift model's
    # 1-row n_orders crossJoin sat below the eval's localCheckpoint
    # barrier, so the outer plan printed no NLJ) and RE-ENTERED in r15:
    # dropping the pairs checkpoint (the one-pass sym rewrite removed
    # its only multi-consumer) made the fit subtree — and its
    # deliberate 1-row broadcast scalar — visible in plan text again.
    # Same executed pattern all along; only the plan-text visibility
    # moved. The runtime-metrics guard (tests/test_runtime_metrics.py)
    # now also budgets this query's executed volumes either way.
    "rec_eval_ndcg",
    # registered r10 (second batch): the recall report composes FOUR
    # 1-row count scalars (truth / candidates / verified / hits) via
    # broadcast NLJ — the same fixed-width report pattern; the heavy
    # legs underneath are equi-joins covered by their own guards
    "dedup_recall_eval",
    # (corpus_select_dsir plans NO nested loop since r11: the band
    # stats ride fitted literals — _band_stats — not a broadcast
    # 1-row crossJoin.)
}

_PLANNABLE = [
    n for n in registry.QUERIES
    if not n.startswith(("ml_", "multimodal_"))  # ML fits execute jobs to plan
]


@pytest.mark.parametrize("name", _PLANNABLE)
def test_no_accidental_cartesian_or_nested_loop(spark, sf_dir, name):
    # the static plan: a memoized frame that already ran reads the same
    plan = static_plan_string(registry.QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"
    if name not in ALLOWED_NESTED_LOOP:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans an unexpected nested-loop join:\n{plan}"
        )
    else:
        # A whitelisted query that stops planning an NLJ is a stale
        # entry that would silently disable the guard — flag it.
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{name} is whitelisted for NLJ but no longer plans one — "
            "remove it from ALLOWED_NESTED_LOOP"
        )


def test_lsh_verified_reuses_bucket_exchange_at_runtime(spark, sf_dir):
    """dedup_lsh_verified's whole cost model rests on the candidate
    pair expansion and the candidate-member set SHARING one bucket
    aggregation: if AQE stopped reusing that exchange, the md5
    signature pipeline would silently run once per branch — the §4.1
    duplication class — and the 'grams only for the near-dup sliver'
    claim would be false. Assert reuse in the EXECUTED final adaptive
    plan, not the static one (r3 VERDICT: reuse was claimed from the
    static plan but never proven at runtime; measured at sf0.1 this
    session: ReusedExchange x2, isFinalPlan=true)."""
    from customer_churn_prediction_spark.text.dedup import (
        lsh_verified_pairs,
    )

    df = lsh_verified_pairs(spark, sf_dir)
    df.collect()  # drive to completion so AQE finalizes the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, (
        "bucket-aggregation exchange no longer reused under AQE — the "
        "signature pipeline is running once per consumer branch:\n" + plan
    )
