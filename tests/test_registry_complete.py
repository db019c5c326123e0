"""Registry self-check (VERDICT r01 item 1): the full 66-query surface
must be exposed to the driver, with the round-1-unverified queries
leading the iteration order so any driver-side budget reaches them."""

import importlib.util
import os

from customer_churn_prediction_spark.plans import registry

# Retired verified-equal twins (registry.RETIRED) are intentionally
# absent: their component stays covered by the named sibling plus a
# permanent equality pytest (see registry.py for the mapping).
EXPECTED = {
    # relational / feature surface
    "rfm_groupby", "feature_assembly",
    "label_churn",
    "label_class_balance", "scan_filter_project",
    "having_repurchase", "isin_filter", "na_fill_left_join", "topk_orders",
    "set_ops_buyers", "distinct_pairs", "salted_join_revenue",
    "sampled_orders", "groupby_sum", "groupby_count", "avg_by_segment",
    "approx_distinct_users", "grouping_sets_revenue",
    "pivot_status_priority", "percentile_quantity", "eval_confusion",
    "latest_order_per_customer", "purchase_gaps", "running_spend",
    "asof_join_clicks", "range_join_events", "date_functions",
    "round_bround", "md5_salted_key", "string_functions",
    "json_extract_events", "text_sentences",
    # streaming
    "stream_tumbling_counts", "stream_sliding_counts",
    "stream_session_windows", "stream_dedup_events", "stream_user_totals",
    "rollup_daily_from_hourly",
    # text analysis / dedup
    "text_stats", "text_lang_id", "text_token_counts", "text_fingerprint",
    "text_tfidf_topk",
    "corpus_curation", "corpus_sample_stratified", "corpus_dedup_keep",
    "text_chunks", "corpus_pack", "text_redact",
    "dedup_containment",  # r10: graduated — asymmetric fragment dedup
    "rec_eval_ndcg",  # r10: graduated — held-out recs hit-rate/NDCG
    "dedup_exact", "dedup_incremental",
    # (dedup_incremental_materialized retired r12: verified-equal
    # at-rest twin of dedup_incremental — equality + zero-Exchange
    # plan pytests in tests/test_dedup_materialized.py)
    "dedup_minhash_signatures",
    "dedup_minhash_lsh_pairs", "dedup_lsh_groups", "dedup_lsh_components",
    "dedup_simhash",
    "dedup_cross_modal",
    # (dedup_lsh_verified retired r12: its full pipeline is the `found`
    # tier inside the registered dedup_recall_eval in both engines;
    # standalone parity pinned in tests/test_dedup_recall.py)
    # (dedup_ngram_jaccard retired r10: its SQL is the ground-truth
    # CTE inside the registered dedup_recall_eval)
    "dedup_recall_eval",  # r10: graduated — banded-LSH recall grader
    "text_dup_spans", "corpus_clean_spans", "corpus_split_leakproof",
    "vocab_bpe_merges",  # r7: graduated from the staged tier
    "text_tokenize_bpe",  # r8: graduated — BPE train+encode pair complete
    "vocab_eval_compression",  # r12: graduated — BPE triad complete
    "dedup_semantic", "corpus_mix",
    "contamination_check", "ann_recall_eval",
    # (text_repetition / text_logprob retired r13: both gates execute
    # inside the registered corpus_keep_decision in both engines;
    # standalone parity pinned in tests/test_governance.py)
    "user_event_sequences", "corpus_keep_decision",
    "text_logprob_bigram",  # r13: graduated — order-aware LM scorer
    "corpus_sample_weighted",  # r13: graduated — A-ES weighted sampling
    # monitoring tier (review r6: was missing — subset assert would
    # not have caught its accidental deregistration)
    "drift_psi", "score_band_lift", "eval_ks",
    "corpus_select_dsir",  # r10: graduated — DSIR importance selection
    # ANN (ann_bruteforce_topk / ann_pq_adc / ann_ivf_pq / ann_ivf /
    # ann_bruteforce_int8 retired r10: all run as graded components
    # inside the registered ann_recall_matrix — see registry.RETIRED)
    "ann_lsh_bucketed",
    "ann_ivf_materialized", "ann_ivf_kmeans",
    "embedding_quantize",
    "ann_bruteforce_int8_stored",
    "embedding_pq", "ann_ivf_pq_stored", "ann_recall_matrix",
    # ML / monitoring / behavioral
    "feature_bucketize", "ml_rf_churn", "ml_gbt_churn", "ml_lr_churn",
    "ml_fm_churn", "ml_feature_vectors",
    "model_calibration", "feature_iv", "event_sessions",
    "session_transitions",  # r12: graduated — visit-level Markov model
    # multimodal
    "multimodal_features", "multimodal_frames",
}


def _load_entry():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_exposes_full_surface():
    queries = registry.get_queries()
    assert EXPECTED <= set(queries), sorted(EXPECTED - set(queries))


def test_driver_entry_matches_registry():
    entry = _load_entry()
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(registry.get_queries())
    assert set(o) <= set(q)
    assert len(o) >= 55, "oracle coverage must not regress"


def test_round1_unverified_queries_lead_iteration_order():
    names = list(registry.get_queries())
    assert names[: len(registry.PRIORITY)] == registry.PRIORITY
    # Every priority name actually exists.
    assert set(registry.PRIORITY) <= set(names)
