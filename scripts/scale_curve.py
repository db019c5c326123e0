"""Scale-curve measurement: headline queries at sf0.001/0.01/0.1.

Evidence for SCALE.md's 100 TB claims: if a plan is scan-dominated and
shuffle-linear, wall time should grow far slower than data volume
while the fixed ~0.3 s/job scheduler floor amortizes. Prints one
markdown table (median of N passes per cell, after a warm-up pass).

Usage: python scripts/scale_curve.py [n_iters]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["sf0.001", "sf0.01", "sf0.1"]

# 4th decade: scripts/make_docs_x10.py writes a 10x documents corpus
# (cipher-replicated so near-dup OUTPUT grows linearly by construction
# — any super-linear runtime there is compute, not result volume).
# Only the documents-table queries can run against it.
X10_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale", "sf1docs",
)
DOC_ONLY_QUERIES = [
    "dedup_lsh_groups",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "text_tfidf_topk",
    "dedup_incremental",
    "corpus_dedup_keep",
    "text_chunks",
    "corpus_pack",
    "text_redact",
    # r5 governance tier
    "text_repetition",
    "corpus_mix",
    "contamination_check",
    "text_logprob",
    # r6 registrations over documents
    "text_dup_spans",
    "corpus_clean_spans",
    "corpus_split_leakproof",
    # r7 registration: BPE training (rounds collect a 1-row argmax
    # each; the corpus scan is the one-pass word-frequency table)
    "vocab_bpe_merges",
    # r8 registration: the encode step (merge table as driver
    # literals -> pure map, zero shuffles; the fit memoizes per
    # sf_dir, so warm-up pays any x10 re-train and the timed passes
    # measure the production fit-once/encode-forever shape)
    "text_tokenize_bpe",
    # r9 staged: asymmetric containment dedup (exact prefix-filter
    # candidates — the lossless scale rule whose growth this curve is
    # the evidence for) and its ingest-boundary sibling
    "dedup_containment",
    "dedup_fragments_incremental",
    # r9 staged: DSIR importance-resampling selection (one corpus
    # scan for the bucket model, one for scoring; the final rank is
    # over doc-count rows)
    "corpus_select_dsir",
    # r9 staged: hashed-vocabulary drift PSI (one scan, 64-row report)
    "text_drift_psi",
    # r9 staged: token-distribution entropy + TTR (two hash aggregates)
    "text_entropy",
    # r10 staged: tokenizer-fit eval (shared encode core, one scan)
    "vocab_eval_compression",
    # r11 staged: A-ES weighted without-replacement sampling (heap
    # top-K — flat by construction; the curve is the evidence)
    "corpus_sample_weighted",
    # r12 staged: n-gram novelty vs the reference slice (the
    # contamination plan's shape — broadcast reference, one scan)
    "text_ngram_novelty",
    # r13 staged: DoReMi EG reweighting (the bigram scorer's plan +
    # one doc-keyed join + domain-count window algebra)
    "corpus_mix_doremi",
]

# ANN-tier 4th decade: scripts/make_embeddings_x10.py replicates the
# embeddings 10x with per-replica signed dimension permutations
# (orthogonal → within-replica cosine structure exact, cross-replica
# similarity chance-level), so per-query output is constant while the
# candidate corpus grows 10x. Only embeddings-table queries run here.
X10E_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale", "sf1emb",
)
EMB_ONLY_QUERIES = [
    "ann_lsh_bucketed",
    "embedding_pq",
    "ann_pq_adc",
    "ann_ivf_pq",
    "ann_ivf_pq_stored",
    "ann_ivf",
    "ann_ivf_materialized",
    "ann_bruteforce_topk",
    "ann_bruteforce_int8",
    "ann_bruteforce_int8_stored",
    "dedup_semantic",
    # r9 staged: JL sign-projection candidates + exact re-rank
    "ann_rp_topk",
]

# Events-tier 4th decade: scripts/make_events_x10.py replicates events
# 10x with per-replica user_id/event_id offsets — rows AND key
# cardinality grow 10x together (the stress direction for the CMS
# sketch: collision mass per bucket grows with distinct keys). Each
# user keeps its original event count, so top-K/session/sequence
# outputs replicate linearly by construction. Registered events-only
# queries plus the staged events-tier ops.
X10EV_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale", "sf1events",
)
EVENTS_ONLY_QUERIES = [
    "groupby_sum",
    "user_event_sequences",
    "range_join_events",
    "json_extract_events",
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stream_session_windows",
    "stream_dedup_events",
    "stream_user_totals",
    "approx_distinct_users",
    "asof_join_clicks",
    "event_sessions",
    # staged events-tier
    "heavy_hitters_cms",
    "funnel_conversion",
    "attribution_last_touch",
    "hourly_anomalies",
    # r7 training-pair tier (staged)
    "negative_sampling",
    "negative_sampling_weighted",
    "sequence_training_pairs",
    "sequence_split_leave_last",
    # r10 staged (graduated r11): hourly resample + forward fill
    "events_resample_ffill",
    # r11 staged (graduated r12): within-visit Markov transition model
    "session_transitions",
    # r12 staged: per-visit mean-NLL anomaly score under that model
    "session_anomaly",
]

CURVE_QUERIES = [
    "feature_assembly",           # 2 hash aggs + broadcast dims
    "rfm_groupby",                # single partial+final hash agg
    "dedup_lsh_groups",           # linear LSH dedup (window + agg)
    "dedup_minhash_lsh_pairs",    # bucket expansion, 1 shuffle
    "dedup_simhash",              # banded simhash self-join + group
    "ann_ivf",                    # literal-broadcast assign + probe join
    "text_tfidf_topk",            # explode + window DF counts
    "stream_tumbling_counts",     # batch form of the tumbling window
    "dedup_incremental",          # split-scan sigs + pruned gram verify
    "corpus_dedup_keep",          # groups + window + linear join-back
    "text_chunks",                # zero-shuffle map (posexplode)
    "corpus_pack",                # one window shuffle per source shard
    "text_redact",                # zero-shuffle regex rewrite
    # monitoring tier (late r5): one conditional-agg scan each
    "drift_psi",
    "score_band_lift",
    "eval_ks",
    # r6 registrations: span dedup + actuation, leak-proof split,
    # calibration reports, sessionization
    "text_dup_spans",
    "corpus_clean_spans",
    "corpus_split_leakproof",
    "model_calibration",
    "feature_iv",
    "event_sessions",
    # r9 staged: KMV set-operation sketch over orders (one buyers
    # shuffle + sketch-composed pair report; exact legs are the
    # verification harness)
    "segment_overlap_kmv",
    # r9 staged: leave-last-out recommender eval (train-window model
    # fit + serve tail + literal-gain NDCG/MRR grade)
    "rec_eval_ndcg",
]


def main() -> None:
    n_iters = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from customer_churn_prediction_spark.plans import get_queries
    from customer_churn_prediction_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="ccp-spark-scale-curve",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = dict(get_queries())
    # r10-retired ANN baselines (registry.RETIRED): the module fns
    # still ride the curve — their decade shape is the documentation
    # of WHY they were retired as non-scale forms.
    from customer_churn_prediction_spark.similarity import ann as _ann
    from customer_churn_prediction_spark.similarity import pq as _pq

    queries.setdefault("ann_bruteforce_topk", _ann.ann_bruteforce_topk)
    queries.setdefault("ann_pq_adc", _pq.ann_pq_adc)
    queries.setdefault("ann_ivf_pq", _pq.ann_ivf_pq)
    # second r10 retirement batch — same rule
    from customer_churn_prediction_spark.text import dedup as _dedup

    queries.setdefault("ann_ivf", _ann.ann_ivf)
    queries.setdefault("ann_bruteforce_int8", _ann.ann_bruteforce_int8)
    queries.setdefault(
        "dedup_ngram_jaccard", _dedup.ngram_jaccard_pairs
    )
    # Staged (pytest-only) events-tier ops ride the curve too.
    from customer_churn_prediction_spark.plans import registry

    for name, fn in registry.get_staged_queries().items():
        queries.setdefault(name, fn)

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    all_names = list(dict.fromkeys(CURVE_QUERIES + DOC_ONLY_QUERIES))
    results: dict[str, dict[str, float]] = {q: {} for q in all_names}
    for sf in SFS:
        sf_dir = f"/root/testdata/{sf}"
        for name in CURVE_QUERIES:
            force(queries[name](spark, sf_dir))  # warm codegen/scan
            samples = []
            for _ in range(n_iters):
                t0 = time.perf_counter()
                force(queries[name](spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            results[name][sf] = round(statistics.median(samples), 3)

    have_x10 = os.path.isdir(X10_DIR)
    if have_x10:
        for name in DOC_ONLY_QUERIES:
            # names outside CURVE_QUERIES need their sf0.1 anchor too
            # (the x10 table prints growth vs sf0.1)
            if "sf0.1" not in results[name]:
                force(queries[name](spark, "/root/testdata/sf0.1"))
                samples = []
                for _ in range(n_iters):
                    t0 = time.perf_counter()
                    force(queries[name](spark, "/root/testdata/sf0.1"))
                    samples.append(time.perf_counter() - t0)
                results[name]["sf0.1"] = round(
                    statistics.median(samples), 3
                )
            force(queries[name](spark, X10_DIR))  # warm
            samples = []
            for _ in range(n_iters):
                t0 = time.perf_counter()
                force(queries[name](spark, X10_DIR))
                samples.append(time.perf_counter() - t0)
            results[name]["x10docs"] = round(statistics.median(samples), 3)

    have_x10e = os.path.isdir(X10E_DIR)
    emb_results: dict[str, dict[str, float]] = {}
    if have_x10e:
        for name in EMB_ONLY_QUERIES:
            emb_results[name] = {}
            for tag, d in (("sf0.1", "/root/testdata/sf0.1"),
                           ("x10emb", X10E_DIR)):
                force(queries[name](spark, d))  # warm (incl. ingests)
                samples = []
                for _ in range(n_iters):
                    t0 = time.perf_counter()
                    force(queries[name](spark, d))
                    samples.append(time.perf_counter() - t0)
                emb_results[name][tag] = round(
                    statistics.median(samples), 3
                )

    have_x10ev = os.path.isdir(X10EV_DIR)
    ev_results: dict[str, dict[str, float]] = {}
    if have_x10ev:
        for name in EVENTS_ONLY_QUERIES:
            # reuse the CURVE sf0.1 anchor when it was already timed
            ev_results[name] = dict(
                (("sf0.1", results[name]["sf0.1"]),)
                if "sf0.1" in results.get(name, {})
                else ()
            )
            for tag, d in (("sf0.1", "/root/testdata/sf0.1"),
                           ("x10ev", X10EV_DIR)):
                if tag in ev_results[name]:
                    continue
                force(queries[name](spark, d))  # warm
                samples = []
                for _ in range(n_iters):
                    t0 = time.perf_counter()
                    force(queries[name](spark, d))
                    samples.append(time.perf_counter() - t0)
                ev_results[name][tag] = round(
                    statistics.median(samples), 3
                )

    print(f"| query | {' | '.join(SFS)} | x(0.01→0.1) |")
    print("|---|" + "---|" * (len(SFS) + 1))
    for name in CURVE_QUERIES:
        r = results[name]
        growth = r["sf0.1"] / r["sf0.01"] if r["sf0.01"] else float("nan")
        cells = " | ".join(f"{r[sf]:.3f}" for sf in SFS)
        print(f"| {name} | {cells} | {growth:.2f}x |")

    if have_x10:
        print()
        print("| query | sf0.1 | x10 docs | x(0.1→x10) |")
        print("|---|---|---|---|")
        for name in DOC_ONLY_QUERIES:
            r = results[name]
            growth = (
                r["x10docs"] / r["sf0.1"] if r["sf0.1"] else float("nan")
            )
            print(
                f"| {name} | {r['sf0.1']:.3f} | {r['x10docs']:.3f} "
                f"| {growth:.2f}x |"
            )

    if have_x10e:
        print()
        print("| query | sf0.1 | x10 emb | x(0.1→x10) |")
        print("|---|---|---|---|")
        for name in EMB_ONLY_QUERIES:
            r = emb_results[name]
            growth = (
                r["x10emb"] / r["sf0.1"] if r["sf0.1"] else float("nan")
            )
            print(
                f"| {name} | {r['sf0.1']:.3f} | {r['x10emb']:.3f} "
                f"| {growth:.2f}x |"
            )

    if have_x10ev:
        print()
        print("| query | sf0.1 | x10 events | x(0.1→x10) |")
        print("|---|---|---|---|")
        for name in EVENTS_ONLY_QUERIES:
            r = ev_results[name]
            growth = (
                r["x10ev"] / r["sf0.1"] if r["sf0.1"] else float("nan")
            )
            print(
                f"| {name} | {r['sf0.1']:.3f} | {r['x10ev']:.3f} "
                f"| {growth:.2f}x |"
            )


if __name__ == "__main__":
    main()
