"""ONE contract matrix for every maintained at-rest store family.

Twelve store families share the ``streaming/maintenance.py`` lifecycle
(exactly-once epochs, staged-swap compaction, governance semantics):

- rebuild governance: CMS partials (``sketch``), HLL registers
  (``hll``), Bloom bits (``bloom``), KMV sketches (``kmv``), the
  hourly resample rollup (``resample``), the decayed-counter deltas
  (``decay``), the A-ES weighted reservoir sample (``sample``) and
  the bigram LM counts (``bigram``);
- in-place governance: the streaming IVF lists (``ann_ingest``), the
  session-transition log and counts (``transitions``) and the
  benchmark-gram registry (``novelty``);
- the GK quantile reports (``quantiles``), whose state lives behind
  the stream checkpoint.

Their per-family test files (pre-matrix, the first five) each
re-implemented the same contract cells, so a drift in a later family
— or a fix that lands in one family and not another — had nothing to
catch it (VERDICT r8 item 6). This module parametrizes the shared
contract, and ``test_every_compacting_module_is_in_the_matrix`` keeps
a new family from skipping it:

- **crash-replay equality** — a CrashOnce injected after the sink's
  writes and before the offset commit (or, for the complete-mode GK
  family whose state lives behind the checkpoint, a stop/restart
  between waves) must leave the recovered store equal to what a clean
  run over the same input produces;
- **compaction idempotence** — folding epoch partials into the base
  partition preserves the merged state, leaves exactly the base
  partition, and re-running is a no-op;
- **crashed-swap self-heal** — the worst staged-swap window (live
  renamed away, stage not yet promoted) is recovered by the next
  ``compact()`` call;
- **erasure-or-rebuild governance** — lossy sketches cannot unlearn
  in place: rebuilding from the scrubbed source yields EXACTLY the
  store a clean history would have; the IVF row store (actual data,
  not a sketch) erases in place;
- **pre-first-epoch reads** — a store with no epochs yet answers
  empty/0/"not flagged" instead of raising (ADVICE r8);
- **reset to empty** — a rebuild from an empty source, or an in-place
  erase of every key, leaves a never-ingested store that compacts as
  a no-op and answers empty.

Family-specific correctness (batch equality of the maintained answer,
FPR/band numerics, partition-scoped erasure byte-layout, WAL scrub
replay) stays in the per-family files — this matrix pins only what
the families are supposed to share.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.operators import sketches as sk
from customer_churn_prediction_spark.similarity import ann
from customer_churn_prediction_spark.streaming import ann_ingest as sai
from customer_churn_prediction_spark.streaming import bloom as sbl
from customer_churn_prediction_spark.streaming import decay as sdc
from customer_churn_prediction_spark.streaming import hll as shll
from customer_churn_prediction_spark.streaming import kmv as skmv
from customer_churn_prediction_spark.streaming import quantiles as sq
from customer_churn_prediction_spark.streaming import resample as srs
from customer_churn_prediction_spark.streaming import sample as ssam
from customer_churn_prediction_spark.streaming import sketch as ssk
from customer_churn_prediction_spark.streaming import bigram as sbg
from customer_churn_prediction_spark.streaming import novelty as snov
from customer_churn_prediction_spark.streaming import (
    transitions as stt,
)
from customer_churn_prediction_spark.streaming.drift import read_report

from .conftest import CrashOnce, drain_to_exception as _drain
from .test_streaming_quantiles import (
    _assert_report_in_band,
    _group_values,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


class Family:
    """Adapter one maintained-store family plugs into the matrix."""

    name: str
    module = None                  # the store's streaming module
    supports_fault = True          # CrashOnce via the sink's hook
    live_subdir: str | None = None  # staged-swap target (heal cell)
    governance = "rebuild"          # or "in_place" (row stores)
    has_empty_read = True           # guarded pre-first-epoch reads

    def waves(self, spark, sf_smoke):
        raise NotImplementedError

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        raise NotImplementedError

    def state(self, spark, sf_smoke, store):
        """Canonical merged-store state (sorted rows)."""
        raise NotImplementedError

    def batch_state(self, spark, sf_smoke, input_df):
        """What ``state`` must equal after ingesting ``input_df``."""
        raise NotImplementedError

    def compact(self, spark, store):
        self.module.compact(spark, store, upto_epoch=10)

    def final_check(self, spark, sf_smoke, store, input_df):
        assert self.state(spark, sf_smoke, store) == self.batch_state(
            spark, sf_smoke, input_df
        )

    def scrub(self, input_df):
        """Drop the governance victim's rows from the input."""
        raise NotImplementedError

    def rebuild(self, spark, store, clean_df):
        """In-place rebuild API (``maintenance.rebuild_base``); None
        when the family has no store to swap (GK's complete-mode
        report is a pure function of the checkpoint — its rebuild IS
        a fresh run)."""
        return None

    def empty_read(self, spark, sf_smoke, store):
        """Probe a store with no epochs; must answer, not raise."""
        raise NotImplementedError

    def erase_every_key(self, spark, sf_smoke, store):
        """In-place families: erase every stored key, unledgered."""
        raise NotImplementedError


class CMSFamily(Family):
    name = "cms"
    module = ssk
    live_subdir = ssk.SKETCH_SUBDIR

    def waves(self, spark, sf_smoke):
        return [
            spark.range(100 * i, 100 * (i + 1)).select(
                (F.col("id") % 30).alias("user_id")
            )
            for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return ssk.maintain_heavy_hitters(
            spark, stream, store, k=5, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(ssk.merged_sketch(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        return _rows(
            input_df.select(
                ssk._cms_cells(F.col("user_id")).alias("cell")
            )
            .select("cell.h", "cell.b")
            .groupBy("h", "b")
            .agg(F.count("*").alias("cell_cnt"))
        )

    def scrub(self, input_df):
        return input_df.where(F.col("user_id") != 7)

    def rebuild(self, spark, store, clean_df):
        ssk.rebuild(
            spark, store, clean_df.select(F.col("user_id").alias("key"))
        )
        return True

    def empty_read(self, spark, sf_smoke, store):
        est = ssk.estimate_keys(
            spark, store, spark.createDataFrame([(42,)], "key bigint")
        ).collect()
        assert [(r.key, r.est) for r in est] == [(42, 0)]


class HLLFamily(Family):
    name = "hll"
    module = shll
    live_subdir = shll.REGS_SUBDIR

    def waves(self, spark, sf_smoke):
        return [
            spark.range(100 * i, 100 * (i + 1)).select(
                (F.col("id") % 80).alias("user_id")
            )
            for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return shll.maintain_distinct_count(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(shll.merged_registers(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        return _rows(
            sk.hll_registers(
                input_df.select(F.col("user_id").alias("key"))
            )
        )

    def scrub(self, input_df):
        return input_df.where(F.col("user_id") != 7)

    def rebuild(self, spark, store, clean_df):
        shll.rebuild(
            spark, store, clean_df.select(F.col("user_id").alias("key"))
        )
        return True

    def empty_read(self, spark, sf_smoke, store):
        est = shll.estimate(spark, store).collect()
        assert len(est) == 1 and est[0].est == 0.0


class BloomFamily(Family):
    name = "bloom"
    module = sbl
    live_subdir = sbl.BITS_SUBDIR

    def waves(self, spark, sf_smoke):
        return [
            spark.range(150 * i, 150 * (i + 1)).select(
                F.col("id").cast("string").alias("key")
            )
            for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema("key string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return sbl.maintain_membership(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(sbl.merged_bits(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        return _rows(sk.bloom_bits(input_df))

    def scrub(self, input_df):
        return input_df.where(F.col("key") != "42")

    def rebuild(self, spark, store, clean_df):
        sbl.rebuild(spark, store, clean_df)
        return True

    def empty_read(self, spark, sf_smoke, store):
        flags = sbl.probe_keys(
            spark, store, spark.createDataFrame([("42",)], "key string")
        ).collect()
        assert [(r.key, r.flagged) for r in flags] == [("42", False)]


class KMVFamily(Family):
    """The sixth family — added AFTER the matrix landed (r9), which is
    the matrix's reason to exist: the KMV store only had to supply the
    adapter; every shared-contract cell came for free."""

    name = "kmv"
    module = skmv
    live_subdir = skmv.SKETCH_SUBDIR

    def waves(self, spark, sf_smoke):
        return [
            spark.range(300 * i, 300 * (i + 1)).select(
                (F.col("id") % 2).cast("string").alias("grp"),
                (F.col("id") % 450).cast("string").alias("key"),
            )
            for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema("grp string, key string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return skmv.maintain_group_sketches(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(skmv.merged_sketch(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        return _rows(sk.kmv_sketch(input_df))

    def scrub(self, input_df):
        return input_df.where(F.col("key") != "7")

    def rebuild(self, spark, store, clean_df):
        skmv.rebuild(spark, store, clean_df)
        return True

    def empty_read(self, spark, sf_smoke, store):
        assert skmv.estimate_groups(spark, store).collect() == []


class IVFFamily(Family):
    name = "ivf"
    module = sai
    live_subdir = ""  # staged_swap targets the store dir itself
    governance = "in_place"

    def waves(self, spark, sf_smoke):
        emb = load_table(spark, sf_smoke, "embeddings")
        total = emb.count()
        per = (total + 2) // 3
        return [
            emb.where(
                (F.col("vec_id") >= i * per)
                & (F.col("vec_id") < (i + 1) * per)
            )
            for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema(
                "vec_id bigint, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return sai.maintain_ivf_lists(
            spark, sf_smoke, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return sorted(
            (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
            for r in sai.ivf_topk_from_store(
                spark, sf_smoke, store
            ).collect()
        )

    def batch_state(self, spark, sf_smoke, input_df):
        # full-corpus ingest serves exactly the batch ann_ivf answer
        return sorted(
            (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
            for r in ann.ann_ivf(spark, sf_smoke).collect()
        )

    def final_check(self, spark, sf_smoke, store, input_df):
        super().final_check(spark, sf_smoke, store, input_df)
        # replay must not duplicate vectors: every ingested vector is
        # indexed exactly once (dynamic partition overwrite)
        stored = spark.read.parquet(store)
        n = input_df.count()
        assert stored.count() == n
        assert stored.select("vec_id").distinct().count() == n

    def erase(self, spark, sf_smoke, store):
        stored = spark.read.parquet(store)
        victims = [
            int(r.vec_id)
            for r in stored.select("vec_id").orderBy("vec_id").limit(3)
            .collect()
        ]
        n_all = stored.count()
        sai.forget_from_store(spark, store, victims)
        after = spark.read.parquet(store)
        assert after.where(F.col("vec_id").isin(victims)).count() == 0
        assert after.count() == n_all - len(victims)

    def erase_every_key(self, spark, sf_smoke, store):
        ids = [
            int(r.vec_id)
            for r in spark.read.parquet(store).select("vec_id").collect()
        ]
        sai.forget_from_store(spark, store, ids, record=False)

    def empty_read(self, spark, sf_smoke, store):
        assert sai.read_erased_ids(spark, store).count() == 0
        assert sai.ivf_topk_from_store(spark, sf_smoke, store).count() == 0


class ResampleFamily(Family):
    """The seventh family (r10): the hourly feature-grid rollup
    maintained on event ingest — count + argmax-(ts, event_id) value
    per (user, hour), the mergeable state behind
    events_resample_ffill. Only this adapter was written; every
    shared-contract cell came from the matrix."""

    name = "resample"
    module = srs
    live_subdir = srs.STATE_SUBDIR

    def waves(self, spark, sf_smoke):
        events = load_table(spark, sf_smoke, "events")
        return [
            events.where(F.col("event_id") % 3 == i) for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        events = load_table(spark, sf_smoke, "events")
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return srs.maintain_resample(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(srs.merged_hourly(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        return _rows(srs.hourly_state(input_df))

    def scrub(self, input_df):
        return input_df.where(F.col("user_id") != 7)

    def rebuild(self, spark, store, clean_df):
        srs.rebuild(spark, store, clean_df)
        return True

    def empty_read(self, spark, sf_smoke, store):
        assert srs.resample_report(spark, store).collect() == []
        assert srs.snapshot(spark, store).collect() == []


class DecayFamily(Family):
    """The eighth family (r10): half-life decayed counters maintained
    with the rescale-and-add algebra. Equality vs the one-shot batch
    op is a BAND, not bit equality (the GK precedent): the stream
    rounds each event's weight at its epoch's anchor and rescales by
    an exact factor, the batch rounds at the final anchor — they
    differ by at most the carried 6dp per-event rounding. Integer
    state (counts, timestamps) compares exact; replay-vs-clean-run
    BIT equality is pinned in tests/test_streaming_decay.py."""

    name = "decay"
    module = sdc
    live_subdir = sdc.STATE_SUBDIR

    def waves(self, spark, sf_smoke):
        events = load_table(spark, sf_smoke, "events")
        return [
            events.where(F.col("event_id") % 3 == i) for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        events = load_table(spark, sf_smoke, "events")
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return sdc.maintain_decay(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(sdc.latest_state(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        anchor = input_df.agg(F.max("ts")).collect()[0][0]
        return _rows(
            sdc._epoch_contribution(
                input_df.where(
                    F.col("user_id").isNotNull()
                    & F.col("ts").isNotNull()
                ),
                F.lit(anchor),
            ).withColumn("anchor", F.lit(anchor))
        )

    def final_check(self, spark, sf_smoke, store, input_df):
        # state_at_anchor, not raw latest_state: r11 delta writes
        # leave untouched users at their own anchors; the batch
        # comparison view applies the exact lazy rescale to the
        # global anchor first.
        got = _rows(sdc.state_at_anchor(spark, store))
        want = self.batch_state(spark, sf_smoke, input_df)
        vmax = (
            input_df.agg(F.max(F.abs(F.col("value")))).collect()[0][0]
            or 0.0
        )
        assert len(got) == len(want)
        for g, w in zip(got, want):
            # (user_id, n_events, last_ts, dc, dv, anchor)
            assert g[0] == w[0] and g[1] == w[1] and g[2] == w[2]
            assert g[5] == w[5], (g, w)  # anchor = corpus max ts
            tol = 1e-6 * w[1] + 1e-9
            assert abs(g[3] - w[3]) <= tol, (g, w)
            assert abs(g[4] - w[4]) <= tol * (1.0 + vmax), (g, w)

    def scrub(self, input_df):
        return input_df.where(F.col("user_id") != 7)

    def rebuild(self, spark, store, clean_df):
        sdc.rebuild(spark, store, clean_df)
        return True

    def empty_read(self, spark, sf_smoke, store):
        assert sdc.features(spark, store).collect() == []
        assert sdc.latest_state(spark, store).collect() == []


class GKFamily(Family):
    """Complete-mode quantile reports: the GK buffers live behind the
    checkpoint, so the replay cell is a stop/restart (no sink-side
    fault hook), and the equality contract is the sketch's own
    rank-error band — GK merge structure legitimately differs between
    a one-epoch and a two-epoch history, so bit-equality would
    overconstrain."""

    name = "gk"
    module = sq
    supports_fault = False
    live_subdir = None      # report sink, no epoch-partial store
    has_empty_read = False  # read_report resolves _LATEST; no probe op

    def waves(self, spark, sf_smoke):
        events = load_table(spark, sf_smoke, "events")
        return [
            events.where(F.col("event_id") % 2 == i) for i in range(2)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        events = load_table(spark, sf_smoke, "events")
        stream = spark.readStream.schema(events.schema).parquet(
            stream_dir
        )
        return sq.maintain_quantiles(
            spark, stream, store, checkpoint=ckpt
        )

    def final_check(self, spark, sf_smoke, store, input_df):
        rows = [
            r.asDict() for r in read_report(spark, store).collect()
        ]
        n_want = input_df.where(F.col("value").isNotNull()).count()
        _assert_report_in_band(rows, _group_values(input_df), n_want)

    def scrub(self, input_df):
        return input_df.where(F.col("event_type") != "click")


class SampleFamily(Family):
    """The ninth family (r11): the A-ES weighted reservoir. The key
    is a pure per-row function (seeded md5), so the global top-K of a
    union is the top-K of per-epoch top-Ks — merge/replay/compaction
    are all the distinct-top-K and equality vs the one-shot batch
    draw is BIT equality."""

    name = "sample"
    module = ssam
    live_subdir = ssam.SAMPLE_SUBDIR

    def waves(self, spark, sf_smoke):
        docs = load_table(spark, sf_smoke, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        return [
            docs.where(F.col("doc_id") % 3 == i) for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema(
                "doc_id bigint, lang string, n_chars bigint"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return ssam.maintain_sample(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(ssam.current_sample(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        return _rows(ssam._epoch_topk(input_df))

    def scrub(self, input_df):
        # erase a doc that IS a reservoir winner, so the rebuild must
        # promote the next key — the non-trivial governance case
        return input_df.where(F.col("doc_id") != 402)

    def rebuild(self, spark, store, clean_df):
        ssam.rebuild(spark, store, clean_df)
        return True

    def empty_read(self, spark, sf_smoke, store):
        assert ssam.current_sample(spark, store).collect() == []
        assert ssam.sample_report(spark, store).collect() == []


class TransitionsFamily(Family):
    """The tenth family (r12): the visit-level Markov model maintained
    on event ingest — the first ORDER-SENSITIVE maintained quantity
    (bigrams are adjacencies; no per-epoch count delta merges across
    arbitrary slicings). Decomposability comes from sessions being
    user-local: per epoch only the TOUCHED users' bigram tables are
    recomputed from the accumulated log and their newest write
    supersedes older partials; serve sums latest-per-user partials —
    BIT equality vs the batch model over the union. The waves slice
    by event_id % 3, which cuts straight through sessions, so the
    matrix itself proves slicing-independence. Governance is in
    place (user rows are self-contained)."""

    name = "transitions"
    module = stt
    live_subdir = stt.COUNTS_SUBDIR
    governance = "in_place"

    def waves(self, spark, sf_smoke):
        events = load_table(spark, sf_smoke, "events")
        return [
            events.where(F.col("event_id") % 3 == i) for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        events = load_table(spark, sf_smoke, "events")
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return stt.maintain_transitions(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(stt.current_transitions(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        from customer_churn_prediction_spark.operators.sessions import (
            transitions_from_events,
        )

        e = input_df.select(
            "user_id", "ts", "event_id", "event_type"
        ).where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        return _rows(transitions_from_events(e))

    def erase(self, spark, sf_smoke, store):
        import os

        log = spark.read.parquet(os.path.join(store, stt.LOG_SUBDIR))
        victim = int(
            log.select("user_id").orderBy("user_id").first().user_id
        )
        before = self.state(spark, sf_smoke, store)
        stt.forget_users(spark, store, [victim])
        log2 = spark.read.parquet(os.path.join(store, stt.LOG_SUBDIR))
        assert log2.where(F.col("user_id") == victim).count() == 0
        counts = spark.read.parquet(
            os.path.join(store, stt.COUNTS_SUBDIR)
        )
        assert counts.where(F.col("user_id") == victim).count() == 0
        # the model after erasure equals the batch model over the
        # scrubbed union — user rows are self-contained, so in-place
        # erasure is EXACT (unlike the sketch families)
        clean = _union(self.waves(spark, sf_smoke)).where(
            F.col("user_id") != victim
        )
        after = self.state(spark, sf_smoke, store)
        assert after == self.batch_state(spark, sf_smoke, clean)
        assert after != before

    def erase_every_key(self, spark, sf_smoke, store):
        log = spark.read.parquet(os.path.join(store, stt.LOG_SUBDIR))
        ids = [
            int(r.user_id)
            for r in log.select("user_id").distinct().collect()
        ]
        stt.forget_users(spark, store, ids, record=False)

    def empty_read(self, spark, sf_smoke, store):
        assert stt.current_transitions(spark, store).collect() == []
        assert stt.read_erased_users(spark, store).collect() == []


class NoveltyFamily(Family):
    """The eleventh family (r13): the benchmark-gram registry —
    reference word-3-gram (shingle, doc_id) pairs maintained on
    benchmark ingest so novelty/contamination serving joins a stored
    set instead of re-shingling the eval suite per call. The state is
    an order-insensitive set union (the KMV/sample maintenance
    shape); doc provenance makes governance exact and IN PLACE: a
    doc's pair rows are self-contained, and a shingle shared with
    another registered doc survives through that doc's row."""

    name = "refgrams"
    module = snov
    live_subdir = snov.GRAMS_SUBDIR
    governance = "in_place"

    def waves(self, spark, sf_smoke):
        d = load_table(spark, sf_smoke, "documents").select(
            "doc_id", "text"
        )
        bench = d.where(F.col("doc_id") % 10 == 7)
        return [
            bench.where(F.expr("doc_id div 10") % 3 == i)
            for i in range(3)
        ]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return snov.maintain_ref_grams(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return _rows(snov.current_pairs(spark, store))

    def batch_state(self, spark, sf_smoke, input_df):
        return _rows(snov._doc_grams(input_df))

    def erase(self, spark, sf_smoke, store):
        pairs = snov.current_pairs(spark, store)
        victim = int(
            pairs.select("doc_id").orderBy("doc_id").first().doc_id
        )
        before = self.state(spark, sf_smoke, store)
        snov.forget_docs(spark, store, [victim])
        left = snov.current_pairs(spark, store)
        assert left.where(F.col("doc_id") == victim).count() == 0
        # exact in-place erasure: the post-erasure registry equals the
        # batch state over the scrubbed union — shared shingles
        # survive through the other docs' provenance rows
        clean = _union(self.waves(spark, sf_smoke)).where(
            F.col("doc_id") != victim
        )
        after = self.state(spark, sf_smoke, store)
        assert after == self.batch_state(spark, sf_smoke, clean)
        assert after != before

    def erase_every_key(self, spark, sf_smoke, store):
        ids = [
            int(r.doc_id)
            for r in snov.current_pairs(spark, store)
            .select("doc_id").distinct().collect()
        ]
        snov.forget_docs(spark, store, ids, record=False)

    def empty_read(self, spark, sf_smoke, store):
        assert snov.current_ref_grams(spark, store).collect() == []
        assert snov.read_erased_docs(spark, store).collect() == []
        # an empty registry means every gram is novel — the serve
        # must answer (novelty 1.0), not raise
        docs = load_table(spark, sf_smoke, "documents").select(
            "doc_id", "text"
        ).limit(20)
        rep = snov.novelty_report(spark, store, docs).collect()
        assert rep and all(r.novelty == 1.0 for r in rep)


class BigramLMFamily(Family):
    """The twelfth family (r13): the stupid-backoff bigram LM
    maintained on ingest — plain summable integer counts (the CMS
    shape), fed through the SAME ``_bigram_lm`` expressions as the
    batch op, so the served model is BIT-equal to a fresh fit over
    the ingested union however ingestion was sliced. Governance is
    rebuild: the aggregated counts keep no per-doc provenance
    (dictionary-sized state is the family's point), so a doc cannot
    be unlearned in place."""

    name = "bigramlm"
    module = sbg
    live_subdir = sbg.BI_SUBDIR

    def waves(self, spark, sf_smoke):
        d = load_table(spark, sf_smoke, "documents").select(
            "doc_id", "text"
        )
        return [d.where(F.col("doc_id") % 3 == i) for i in range(3)]

    def run(self, spark, sf_smoke, stream_dir, store, ckpt, fault=None):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return sbg.maintain_bigram_lm(
            spark, stream, store, checkpoint=ckpt, fault=fault
        )

    def state(self, spark, sf_smoke, store):
        return (
            _rows(sbg.current_vocab(spark, store)),
            _rows(sbg.current_bigrams(spark, store)),
        )

    def batch_state(self, spark, sf_smoke, input_df):
        clean = input_df.where(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        vocab, bigrams = sbg._batch_counts(clean)
        return (_rows(vocab), _rows(bigrams))

    def scrub(self, input_df):
        # erase a multi-token doc, so both count stores must shrink
        return input_df.where(F.col("doc_id") != 3)

    def rebuild(self, spark, store, clean_df):
        sbg.rebuild(spark, store, clean_df)
        return True

    def empty_read(self, spark, sf_smoke, store):
        assert sbg.current_vocab(spark, store).collect() == []
        assert sbg.current_bigrams(spark, store).collect() == []
        # serve against a store with no epochs must answer, not
        # raise: pairs are counted, means are honestly NULL (an
        # empty vocabulary has no add-one floor to score against)
        docs = load_table(spark, sf_smoke, "documents").select(
            "doc_id", "text"
        ).limit(5)
        rep = sbg.logprob_report(spark, store, docs).collect()
        assert rep and all(r.mean_nll is None for r in rep)


FAMILIES = [CMSFamily(), HLLFamily(), BloomFamily(), KMVFamily(),
            IVFFamily(), ResampleFamily(), DecayFamily(), GKFamily(),
            SampleFamily(), TransitionsFamily(), NoveltyFamily(),
            BigramLMFamily()]
_IDS = [f.name for f in FAMILIES]


def _stage(waves, stream_dir):
    for w in waves:
        w.repartition(1).write.mode("append").parquet(stream_dir)


def _drain_clean(q):
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()


def _union(waves):
    out = waves[0]
    for w in waves[1:]:
        out = out.unionByName(w)
    return out


@pytest.mark.parametrize("fam", FAMILIES, ids=_IDS)
def test_crash_replay_equals_clean_run(fam, spark, sf_smoke, tmp_path):
    stream_dir = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    waves = fam.waves(spark, sf_smoke)
    if fam.supports_fault:
        _stage(waves, stream_dir)
        crash = CrashOnce(at_epoch=1)
        q = fam.run(spark, sf_smoke, stream_dir, store, ckpt,
                    fault=crash)
        assert _drain(q) is not None, "fault must abort the first run"
        assert crash.fired
        q2 = fam.run(spark, sf_smoke, stream_dir, store, ckpt)
        _drain_clean(q2)
    else:
        # state behind the checkpoint: interrupt BETWEEN waves instead
        _stage(waves[:1], stream_dir)
        q = fam.run(spark, sf_smoke, stream_dir, store, ckpt)
        _drain_clean(q)
        _stage(waves[1:], stream_dir)
        q2 = fam.run(spark, sf_smoke, stream_dir, store, ckpt)
        _drain_clean(q2)
    fam.final_check(spark, sf_smoke, store, _union(waves))


@pytest.mark.parametrize(
    "fam", [f for f in FAMILIES if f.live_subdir is not None], ids=[
        f.name for f in FAMILIES if f.live_subdir is not None
    ]
)
def test_compaction_preserves_state_and_is_idempotent(
    fam, spark, sf_smoke, tmp_path
):
    stream_dir = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    waves = fam.waves(spark, sf_smoke)
    _stage(waves, stream_dir)
    q = fam.run(spark, sf_smoke, stream_dir, store,
                str(tmp_path / "ckpt"))
    _drain_clean(q)

    before = fam.state(spark, sf_smoke, store)
    fam.compact(spark, store)
    assert fam.state(spark, sf_smoke, store) == before
    live = os.path.join(store, fam.live_subdir) if fam.live_subdir \
        else store
    parts = [d for d in os.listdir(live) if d.startswith("epoch_id=")]
    assert parts == ["epoch_id=-1"], parts  # folded to the base epoch
    fam.compact(spark, store)  # idempotent re-run
    assert fam.state(spark, sf_smoke, store) == before


@pytest.mark.parametrize(
    "fam", [f for f in FAMILIES if f.live_subdir is not None], ids=[
        f.name for f in FAMILIES if f.live_subdir is not None
    ]
)
def test_compact_heals_a_crashed_swap(fam, spark, sf_smoke, tmp_path):
    """Worst staged-swap window: live renamed away, stage not yet
    promoted. The next compact() must restore and converge."""
    stream_dir = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    waves = fam.waves(spark, sf_smoke)
    _stage(waves, stream_dir)
    q = fam.run(spark, sf_smoke, stream_dir, store,
                str(tmp_path / "ckpt"))
    _drain_clean(q)

    before = fam.state(spark, sf_smoke, store)
    live = os.path.join(store, fam.live_subdir) if fam.live_subdir \
        else store
    os.rename(live, live + "__compact_old")
    fam.compact(spark, store)
    assert fam.state(spark, sf_smoke, store) == before


@pytest.mark.parametrize(
    "fam", [f for f in FAMILIES if f.live_subdir is not None], ids=[
        f.name for f in FAMILIES if f.live_subdir is not None
    ]
)
def test_compact_on_never_ingested_store_is_noop(
    fam, spark, sf_smoke, tmp_path
):
    """compact() on a store that never ingested (or whose sub-store
    an erasure emptied and removed) must be a no-op, mirroring the
    readers' missing-path guard — not raise AnalysisException from
    the fold's parquet read (ADVICE r13; maintenance.compact_swap)."""
    store = str(tmp_path / "never_ingested")
    fam.compact(spark, store)  # must not raise
    assert not os.path.isdir(store)  # and must not conjure a store
    if fam.has_empty_read:
        fam.empty_read(spark, sf_smoke, store)


@pytest.mark.parametrize("fam", FAMILIES, ids=_IDS)
def test_erasure_or_rebuild_governance(fam, spark, sf_smoke, tmp_path):
    """Lossy sketches REBUILD from the scrubbed source (a shared
    bit/register/cell cannot be unlearned in place); the rebuilt store
    must equal the store a clean history would have produced. Row
    stores (IVF — the ingested data itself) erase in place."""
    stream_dir = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    waves = fam.waves(spark, sf_smoke)
    _stage(waves, stream_dir)
    q = fam.run(spark, sf_smoke, stream_dir, store,
                str(tmp_path / "ckpt"))
    _drain_clean(q)

    if fam.governance == "in_place":
        fam.erase(spark, sf_smoke, store)
        return
    # a lossy sketch has no delete: until the rebuild, the old store
    # keeps over-approximating (membership "maybe") — honest, and why
    # a sketch store is not itself personal data the way row stores
    # are. Pin it where the family exposes a per-key probe.
    if isinstance(fam, BloomFamily):
        assert (
            sbl.probe_keys(
                spark, store,
                spark.createDataFrame([("42",)], "key string"),
            ).collect()[0].flagged
        ), "erased key must still flag until the store is rebuilt"
    clean = fam.scrub(_union(waves))
    if fam.rebuild(spark, store, clean):
        # the real erasure API: recompute from the scrubbed source and
        # staged-swap into the SAME store — afterwards it must equal
        # the store a clean history would have produced, with the old
        # epoch history gone (only the base partition remains).
        fam.final_check(spark, sf_smoke, store, clean)
        live = os.path.join(store, fam.live_subdir)
        parts = [
            d for d in os.listdir(live) if d.startswith("epoch_id=")
        ]
        assert parts == ["epoch_id=-1"], parts
        return
    # no store to swap (GK): rebuild IS a fresh run over the scrubbed
    # source with a fresh checkpoint.
    stream2 = str(tmp_path / "arrivals_clean")
    store2 = str(tmp_path / "store_clean")
    clean.repartition(1).write.mode("append").parquet(stream2)
    q2 = fam.run(spark, sf_smoke, stream2, store2,
                 str(tmp_path / "ckpt_clean"))
    _drain_clean(q2)
    fam.final_check(spark, sf_smoke, store2, clean)


@pytest.mark.parametrize(
    "fam", [f for f in FAMILIES if f.has_empty_read], ids=[
        f.name for f in FAMILIES if f.has_empty_read
    ]
)
def test_pre_first_epoch_store_answers_instead_of_raising(
    fam, spark, sf_smoke, tmp_path
):
    """ADVICE r8: a probe/estimate against a store whose first epoch
    has not landed yet must answer empty/0/"not flagged" — the one
    missing-path guard, ``maintenance.read_epochs``."""
    fam.empty_read(spark, sf_smoke, str(tmp_path / "never_written"))


@pytest.mark.parametrize(
    "fam",
    [f for f in FAMILIES if f.governance == "rebuild"
     and f.live_subdir is not None],
    ids=[f.name for f in FAMILIES if f.governance == "rebuild"
         and f.live_subdir is not None],
)
def test_rebuild_to_empty_resets_store(fam, spark, sf_smoke, tmp_path):
    """Scrubbing EVERY key: the rebuild must not leave an empty
    partitioned dir (it passes the isdir guard, then crashes schema
    inference) — it resets the store to never-ingested, and the
    pre-first-epoch guard answers empty/0/"not flagged"."""
    stream_dir = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    waves = fam.waves(spark, sf_smoke)
    _stage(waves[:1], stream_dir)
    q = fam.run(spark, sf_smoke, stream_dir, store,
                str(tmp_path / "ckpt"))
    _drain_clean(q)

    assert fam.rebuild(spark, store, waves[0].limit(0))
    fam.empty_read(spark, sf_smoke, store)


_IN_PLACE = [f for f in FAMILIES if f.governance == "in_place"]


@pytest.mark.parametrize("fam", _IN_PLACE, ids=[f.name for f in _IN_PLACE])
def test_erase_every_key_resets_store(fam, spark, sf_smoke, tmp_path):
    """The in-place analog of ``test_rebuild_to_empty_resets_store``:
    erasing EVERY key must remove the emptied partition dirs, their
    emptied parents (the two-level IVF and transitions-log layouts)
    and then the sub-store root — an empty partition dir passes the
    readers' isdir guard and then fails schema inference. Afterwards
    the store is never-ingested: ``compact`` is a no-op and the
    pre-first-epoch reads answer."""
    stream_dir = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    _stage(fam.waves(spark, sf_smoke), stream_dir)
    q = fam.run(spark, sf_smoke, stream_dir, store,
                str(tmp_path / "ckpt"))
    _drain_clean(q)

    fam.erase_every_key(spark, sf_smoke, store)
    live = os.path.join(store, fam.live_subdir)
    assert not os.path.isdir(live), os.listdir(live)
    fam.compact(spark, store)  # must not raise
    assert not os.path.isdir(live)  # and must not conjure a store
    fam.empty_read(spark, sf_smoke, store)


def test_every_compacting_module_is_in_the_matrix():
    """A module under ``streaming/`` that defines ``compact`` is a
    maintained store; it must plug an adapter into ``FAMILIES`` so
    every contract cell above runs over it."""
    import importlib
    import pkgutil

    from customer_churn_prediction_spark import streaming

    compacting = {
        name
        for _, name, _ in pkgutil.iter_modules(streaming.__path__)
        if hasattr(
            importlib.import_module(f"{streaming.__name__}.{name}"),
            "compact",
        )
    }
    covered = {f.module.__name__.rsplit(".", 1)[1] for f in FAMILIES}
    assert compacting, "no compacting module found"
    assert compacting <= covered, sorted(compacting - covered)


def test_reservoir_one_slot_per_doc_latest_epoch_wins(spark, tmp_path):
    """ADVICE r11 #3: a doc re-ingested across epochs with a changed
    (lang, n_chars) used to carry two different logkeys that
    ``distinct()`` could not collapse — the same doc_id occupying two
    of the K sample slots. The merge now dedupes per doc_id (latest
    epoch wins) before the K-rank, so the maintained sample holds one
    row per doc, the revised one."""
    import os

    store = str(tmp_path / "store")
    path = os.path.join(store, ssam.SAMPLE_SUBDIR)
    # two committed epoch partials: doc 1 wins in both, but its
    # revision in epoch 1 changed n_chars (and thus its logkey)
    parts = spark.createDataFrame(
        [
            (1, "en", 100, 9.0, 0),
            (2, "en", 50, 5.0, 0),
            (1, "en", 200, 8.5, 1),
            (3, "de", 70, 6.0, 1),
        ],
        "doc_id bigint, lang string, n_chars bigint, "
        "logkey double, epoch_id int",
    )
    parts.write.partitionBy("epoch_id").parquet(path)

    cur = {r.doc_id: r for r in
           ssam.current_sample(spark, store).collect()}
    assert set(cur) == {1, 2, 3}          # one slot per doc, K=100
    assert cur[1].n_chars == 200          # the epoch-1 revision
    assert cur[1].logkey == 8.5

    # the rank report inherits the dedupe (one ranked row per doc)
    ranks = ssam.sample_report(spark, store).collect()
    assert sorted(r.doc_id for r in ranks) == [1, 2, 3]
    assert len({r.rank for r in ranks}) == 3


def test_reservoir_tiebreak_agrees_with_in_batch_dedupe(
    spark, tmp_path
):
    """ADVICE r13 #2: a legacy pre-r13 epoch partition can hold TWO
    rows for one doc sharing (logkey, n_chars) but differing in lang.
    The in-batch dedupe picks the lexicographic-MAX struct (lang
    DESC); the merge window's tiebreak must resolve the same way, or
    a merge-path read and a rebuild from the same union serve
    different lang values for the same doc."""
    import os

    store = str(tmp_path / "store")
    path = os.path.join(store, ssam.SAMPLE_SUBDIR)
    # one epoch, duplicate doc 1 rows tied on (logkey, n_chars)
    parts = spark.createDataFrame(
        [
            (1, "de", 100, 9.0, 0),
            (1, "en", 100, 9.0, 0),
            (2, "fr", 50, 5.0, 0),
        ],
        "doc_id bigint, lang string, n_chars bigint, "
        "logkey double, epoch_id int",
    )
    parts.write.partitionBy("epoch_id").parquet(path)

    cur = {r.doc_id: r for r in
           ssam.current_sample(spark, store).collect()}
    # max(struct(logkey, n_chars, lang)) would keep ("en") — the
    # merge window must agree
    assert cur[1].lang == "en"


def test_transitions_log_fetch_prunes_to_touched_buckets(
    spark, sf_smoke, tmp_path
):
    """The family's fetch-term claim (SCALE §10.11): a small epoch's
    history read must touch ONLY the touched users' bucket
    directories, not the whole log. Ingest the corpus, then replay
    the fetch a tiny batch would issue and assert every file the scan
    actually reads (runtime input_file_name) lives under a touched
    u_bucket."""
    import os

    stream_dir = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    events = load_table(spark, sf_smoke, "events")
    _stage([events], stream_dir)
    q = TransitionsFamily().run(
        spark, sf_smoke, stream_dir, store, str(tmp_path / "ckpt")
    )
    _drain_clean(q)

    victims = [
        int(r.user_id)
        for r in events.select("user_id").distinct().limit(2).collect()
    ]
    buckets = {u % stt.N_USER_BUCKETS for u in victims}
    log = spark.read.parquet(os.path.join(store, stt.LOG_SUBDIR))
    fetched_files = {
        r.f
        for r in log.where(
            F.col("u_bucket").isin(sorted(buckets))
        )
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert fetched_files
    for f in fetched_files:
        assert any(f"u_bucket={b}/" in f for b in buckets), f
    # and the full log holds more buckets than the fetch touched
    all_buckets = {
        int(r.u_bucket)
        for r in log.select("u_bucket").distinct().collect()
    }
    assert len(all_buckets) > len(buckets)
