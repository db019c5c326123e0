"""Central registry of every named query the engine exposes.

Each operator module contributes a ``QUERIES`` dict
(name -> callable(spark, sf_dir) -> DataFrame) and an ``ORACLES`` dict
(name -> equivalent DuckDB ANSI SQL, omitted for non-SQL-expressible
ops). ``__spark_entry__.py`` re-exports this registry to the driver,
which hash-compares each pair at sf0.01 (CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = None


def _modules():
    global _MODULES
    if _MODULES is None:
        from ..functions import scalars
        from ..functions import udtf as fn_udtf
        from ..ml import calibration as ml_calibration
        from ..operators import (
            affinity,
            aggregates,
            asof,
            assembly,
            labeling,
            relational,
            rfm,
            sessions,
            sketches,
            windows,
        )

        from ..streaming import rollup as stream_rollup
        from ..streaming import stateful as stream_stateful
        from ..streaming import windows as stream_windows
        from ..ml import jobs as ml_jobs
        from ..ml import monitoring as ml_monitoring
        from ..ml import pipeline as ml_pipeline
        from ..similarity import ann
        from ..similarity import pq as sim_pq
        from ..similarity import recall as sim_recall
        from ..sources import multimodal
        from ..text import analysis as text_analysis
        from ..text import dedup as text_dedup
        from ..text import selection as text_selection
        from ..text import spans as text_spans
        from ..text import splits as text_splits
        from ..text import vocab as text_vocab

        _MODULES = [rfm, assembly, labeling, relational, aggregates,
                    windows, asof, sessions, sketches, affinity,
                    scalars, fn_udtf,
                    stream_windows, stream_stateful, stream_rollup,
                    text_analysis, text_dedup, text_selection,
                    text_spans, text_splits, text_vocab,
                    ann, sim_pq, sim_recall, ml_pipeline, ml_jobs,
                    ml_monitoring, ml_calibration, multimodal]
    return _MODULES


# Retired registry entries. The driver's ~50-row/round budget caps the
# registry at 100 provable-every-other-round entries; each retirement
# below removes an entry whose work stays covered by a registered
# sibling AND a permanent pytest, so no SURVEY §2 capability loses
# driver evidence. The implementations remain in their modules
# (registered siblings, tests and scale scripts still call them). A
# second form of a registered step that nothing else executes is
# deleted, not retired.
RETIRED = {
    # intermediate of dedup_simhash (the grouped form reads the same
    # banded self-join).
    "dedup_simhash_pairs": "dedup_simhash",
    # O(n²) exact all-pairs baseline; the registered exact baseline is
    # ann_bruteforce_topk and the scalable threshold-pair forms are
    # ann_lsh_bucketed / dedup_semantic.
    "embedding_neardup_pairs": "ann_lsh_bucketed",
    # r10 (VERDICT r9 item 2): three redundant registered BASELINES
    # retire to open graduation slots for the staged tier. Unlike the
    # twin retirements above, these are deliberate non-scale
    # baselines whose code STAYS DRIVER-EXERCISED: the newly registered
    # ann_recall_matrix runs all three as components in both engines
    # (Spark composes the module fns; the oracle nests their committed
    # SQL as CTEs), so a regression in any of them breaks the matrix's
    # hash row. Standalone driver-rigor oracle parity stays pinned in
    # pytest: tests/test_similarity.py (bruteforce exact top-k),
    # tests/test_pq.py (ADC parity; ann_ivf_pq ≡ ann_ivf_pq_stored
    # equality + shared-oracle test).
    "ann_bruteforce_topk": "ann_recall_matrix",
    "ann_pq_adc": "ann_recall_matrix",
    "ann_ivf_pq": "ann_ivf_pq_stored",
    # r10 (second batch): the last three BASELINES retire; the weak
    # tier is now empty. Each keeps (a) a registered sibling that
    # executes its work every round and (b) a standalone driver-rigor
    # oracle-parity pytest:
    #  - ann_ivf ≡ ann_ivf_materialized (same committed ORACLE;
    #    equality pytest tests/test_similarity.py::
    #    test_ivf_materialized_matches_inline + a parity test); it
    #    also runs as the IVF tier inside ann_recall_matrix.
    #  - ann_bruteforce_int8: the registered at-rest twin
    #    ann_bruteforce_int8_stored serves the same plan from the
    #    quantized store; the inline form runs as the int8 tier
    #    inside ann_recall_matrix and keeps a parity pytest.
    #  - dedup_ngram_jaccard: its SQL is the ground-truth CTE inside
    #    the newly registered dedup_recall_eval (both engines), so a
    #    regression breaks that hash row; parity pinned in
    #    tests/test_dedup_recall.py.
    "ann_ivf": "ann_ivf_materialized",
    "ann_bruteforce_int8": "ann_bruteforce_int8_stored",
    "dedup_ngram_jaccard": "dedup_recall_eval",
    # r12 (the ROADMAP r12 queue): ≡ dedup_incremental (same committed
    # ORACLE; permanent equality pytest tests/test_dedup_materialized.py
    # ::test_materialized_matches_inline + the zero-Exchange bucketed-
    # scan plan test). The at-rest corpus-bands capability stays
    # driver-exercised through the registered sibling's shared core;
    # the freed slot graduates vocab_eval_compression, completing the
    # registered BPE train/encode/eval triad.
    "dedup_incremental_materialized": "dedup_incremental",
    # r12 (second): ≡ the `found` tier of dedup_recall_eval — the
    # registered grader executes the FULL lsh_verified_pairs pipeline
    # in Spark (its `found` frame) and nests ORACLES["dedup_lsh_verified"]
    # verbatim as the `found` CTE, so a regression breaks the recall
    # row's hash in both engines (the dedup_ngram_jaccard precedent);
    # dedup_cross_modal also runs it as its text side every round.
    # Standalone driver-rigor oracle parity stays pinned in
    # tests/test_dedup_recall.py. The freed slot graduates
    # session_transitions (the visit-level Markov model).
    "dedup_lsh_verified": "dedup_recall_eval",
    # r13 (the ROADMAP r13 queue): both retire into the registered
    # composed governance decision, which EXECUTES their work in both
    # engines every round — corpus_keep_decision's Spark plan calls
    # text_repetition() as its repetition gate and text_logprob() as
    # its LM-band gate, and its committed oracle nests
    # ORACLES["text_repetition"] / ORACLES["text_logprob"] verbatim
    # as the `rep` / `nll` CTEs, so a regression in either breaks the
    # keep-decision hash row. Standalone driver-rigor oracle parity
    # stays pinned in tests/test_governance.py
    # (test_text_repetition_standalone_oracle_parity,
    # test_text_logprob_standalone_oracle_parity). The freed slots
    # graduate text_logprob_bigram (the order-aware LM scorer that
    # supersedes text_logprob's unigram signal) and
    # corpus_sample_weighted (A-ES weighted without-replacement
    # sampling).
    "text_repetition": "corpus_keep_decision",
    "text_logprob": "corpus_keep_decision",
}

# Driver-budget rotation (the driver checks ~50 entries per round):
# round 10 front-loads the entries whose most recent driver row is
# round 8 (everything r9's PRIORITY did not cover, minus the five
# entries retired this round), closed by the five r10 graduations (a
# new registration has no history, so it must be proven in its
# registration round). The r9 50 — all green in CORRECTNESS_r09 —
# rotate into round 11.
# tests/test_registry_rotation.py asserts this list keeps every
# entry's latest green row at most one round old, and
# tests/test_gen_priority.py asserts the list equals
# scripts/gen_priority.py's derivation from the committed
# CORRECTNESS history — the rotation is generated, not hand-kept.
PRIORITY = [
    # latest green row is r14 — re-prove before the evidence goes stale
    "rfm_groupby",
    "feature_assembly",
    "label_churn",
    "label_class_balance",
    "scan_filter_project",
    "having_repurchase",
    "isin_filter",
    "na_fill_left_join",
    "topk_orders",
    "set_ops_buyers",
    "sampled_orders",
    "groupby_count",
    "avg_by_segment",
    "approx_distinct_users",
    "grouping_sets_revenue",
    "pivot_status_priority",
    "percentile_quantity",
    "eval_confusion",
    "latest_order_per_customer",
    "purchase_gaps",
    "running_spend",
    "asof_join_clicks",
    "event_sessions",
    "session_transitions",
    "rec_eval_ndcg",
    "text_tfidf_topk",
    "corpus_sample_stratified",
    "text_chunks",
    "corpus_pack",
    "text_redact",
    "dedup_lsh_components",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_cross_modal",
    "dedup_containment",
    "dedup_recall_eval",
    "corpus_select_dsir",
    "text_dup_spans",
    "corpus_clean_spans",
    "corpus_split_leakproof",
    "text_tokenize_bpe",
    "vocab_eval_compression",
    "ann_ivf_materialized",
    "dedup_semantic",
    "embedding_pq",
    "ann_ivf_pq_stored",
    "ann_recall_matrix",
    "feature_bucketize",
    "model_calibration",
    "feature_iv",
]


# ----------------------------------------------------------- plan memo
# Whole registered queries are memoized as lazy plans in the ``plan``
# kind of ``memo`` (keyed by application, sf_dir and name; versioned
# by every catalog table). A build that performed a per-run
# materialization (``checkpointing.run_materialize`` /
# ``loop_checkpoint``) hangs off per-run blocks, so reusing it would
# serve data: it is never stored and rebuilds on every call. The
# at-rest/ingest-backed constructors below run their idempotent
# warehouse check per call by design and are never memoized.
_PLAN_MEMO_EXCLUDE = {
    "ann_ivf_materialized",
    "ann_bruteforce_int8_stored",
    "ann_ivf_pq_stored",
    "corpus_split_leakproof",
    # bench.py clears this fit memo per pass to time the fit; its plan
    # also carries the per-round checkpoint barriers
    "vocab_bpe_merges",
}


def _plan_memoized(name: str, fn: QueryFn) -> QueryFn:
    import functools

    from .. import memo
    from ..catalog import TABLES
    from ..checkpointing import materialize_count

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (spark.sparkContext.applicationId, sf_dir, name)
        version = memo.table_version(sf_dir, *TABLES)
        hit = memo.get("plan", key, version)
        if hit is not None:
            return hit
        before = materialize_count()
        df = fn(spark, sf_dir)
        if materialize_count() == before:
            memo.put("plan", key, version, df)
        return df

    return wrapped


def get_queries() -> dict[str, QueryFn]:
    flat: dict[str, QueryFn] = {}
    for mod in _modules():
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in flat:
                raise ValueError(f"duplicate query name {name!r}")
            if name in RETIRED:
                continue  # verified-equal twin; sibling carries the row
            if name not in _PLAN_MEMO_EXCLUDE:
                fn = _plan_memoized(name, fn)
            flat[name] = fn
    out: dict[str, QueryFn] = {}
    for name in PRIORITY:
        if name in flat:
            out[name] = flat[name]
    for name, fn in flat.items():
        if name not in out:
            out[name] = fn
    return out


def get_oracles() -> dict[str, str]:
    flat: dict[str, str] = {}
    queries = get_queries()
    for mod in _modules():
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name in RETIRED:
                continue
            if name not in queries:
                raise ValueError(f"oracle {name!r} has no matching query")
            flat[name] = sql
    # Same priority-first iteration order as get_queries().
    return {name: flat[name] for name in queries if name in flat}


def staged_modules() -> tuple:
    """Operator modules whose staged queries stay pytest-only
    PERMANENTLY BY DESIGN: the driver's 50-row budget caps the registry
    at 100 provable-every-other-round entries and it is FULL since the
    r11 graduation — a future graduation requires retiring a
    verified-equal twin first. A module normally stages its whole
    ``QUERIES`` dict; a module that is ALSO registered (vocab since
    r7) splits the staged remainder into
    ``STAGED_QUERIES``/``STAGED_ORACLES``. Each staged query carries a
    same-named oracle and driver-rigor parity in its own test file
    (`tests/test_staged_surface.py` holds the contract); the
    plan-hygiene goldens cover them too
    (`scripts/gen_plan_goldens.py`)."""
    from ..ml import drift_features, encoding, survival
    from ..operators import (
        affinity,
        anomaly,
        attribution,
        decay,
        funnels,
        quality,
        regression,
        sampling,
        sessions,
        sketches,
    )
    from ..similarity import ann as sim_ann
    from ..text import analysis as text_analysis
    from ..text import dedup as text_dedup
    from ..text import selection as text_selection
    from ..text import vocab

    # (similarity.recall graduated wholesale in r10; operators.asof
    # left in r11 when events_resample_ffill took the banked 100th
    # slot. text.selection ALSO graduated wholesale in r10 but
    # RE-ENTERED in r11 with a registered+staged split: its
    # corpus_select_dsir_stored at-rest twin is staged, its
    # corpus_select_dsir stays registered — do not remove it again.)
    return (
        survival, funnels, quality, sketches, affinity, attribution,
        anomaly, vocab, regression, drift_features, encoding,
        sampling, text_dedup, sim_ann, text_analysis, decay,
        sessions, text_selection,
    )


def get_staged_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    registered = get_queries()
    for mod in staged_modules():
        # getattr's default evaluates eagerly — a staged-only module
        # (no registered QUERIES dict at all) must not require one
        staged = getattr(mod, "STAGED_QUERIES", None)
        if staged is None:
            staged = mod.QUERIES
        for name, fn in staged.items():
            if name in out or name in registered:
                raise ValueError(f"staged name collision: {name!r}")
            out[name] = fn
    return out


# Materialized once at import for convenience.
QUERIES = get_queries()
ORACLES = get_oracles()
