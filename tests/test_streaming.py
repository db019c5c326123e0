"""Structured Streaming smoke: the streaming form of the tumbling
aggregation over a file source converges to the batch result, and
streaming dedup drops in-watermark duplicates."""

import shutil
import tempfile

from pyspark.sql import functions as F

from customer_churn_prediction_spark.catalog import load_table
from customer_churn_prediction_spark.streaming import windows as sw

from .oracle_utils import canonical_rows


def _events_dir(spark, sf_smoke):
    """Stage events as a parquet directory (file stream source needs a
    directory it can list), with the nanos ts already converted."""
    tmp = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, sf_smoke, "events").write.mode("overwrite").parquet(tmp)
    return tmp


def test_streaming_tumbling_equals_batch(spark, sf_smoke):
    src = _events_dir(spark, sf_smoke)
    try:
        static = spark.read.parquet(src)
        stream = sw.as_stream(spark, src, static.schema)
        q = (
            sw.streaming_tumbling_counts(stream)
            .writeStream.format("memory")
            .queryName("tumbling_smoke")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("select * from tumbling_smoke").toPandas()
        finally:
            q.stop()
        want = sw.tumbling_counts(spark, sf_smoke).toPandas()
        assert canonical_rows(got) == canonical_rows(want)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_stateful_user_totals_converges(spark, sf_smoke):
    """applyInPandasWithState running totals: after draining the
    stream, the last update per user equals the batch aggregate."""
    from customer_churn_prediction_spark.streaming import stateful as st

    src = _events_dir(spark, sf_smoke)
    try:
        static = spark.read.parquet(src)
        stream = sw.as_stream(spark, src, static.schema)
        q = (
            st.streaming_user_totals(stream)
            .writeStream.format("memory")
            .queryName("stateful_smoke")
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(
                "select user_id, n_events, value_sum from stateful_smoke"
            ).toPandas()
        finally:
            q.stop()
        # One update row per (user, micro-batch); keep the final state
        # per user = the row with the max running count.
        final = got.sort_values("n_events").groupby("user_id").tail(1)
        want = st.user_totals(spark, sf_smoke).toPandas()
        assert canonical_rows(final) == canonical_rows(want)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_to_batch_sink_foreachbatch(spark, sf_smoke, tmp_path):
    """foreachBatch: a streaming aggregation lands in a parquet sink
    via the batch writer path and matches the batch result set."""
    src = _events_dir(spark, sf_smoke)
    out = str(tmp_path / "sink")
    try:
        static = spark.read.parquet(src)
        stream = sw.as_stream(spark, src, static.schema)
        agg = sw.streaming_tumbling_counts(stream)

        def sink(df, epoch_id):
            df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

        q = sw.stream_to_batch_sink(agg, sink, "fb_smoke", "complete")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(f"{out}/epoch=0")
        want = sw.tumbling_counts(spark, sf_smoke)
        assert canonical_rows(got.toPandas()) == canonical_rows(want.toPandas())
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_dedup_drops_duplicates(spark, sf_smoke):
    src = _events_dir(spark, sf_smoke)
    try:
        static = spark.read.parquet(src)
        # Double every event: streaming dedup must collapse them back.
        static.union(static).write.mode("overwrite").parquet(src + "_dup")
        stream = sw.as_stream(spark, src + "_dup", static.schema)
        q = (
            sw.streaming_dedup(stream)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName("dedup_smoke")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            n = spark.sql("select n from dedup_smoke").collect()[0][0]
        finally:
            q.stop()
        assert n == static.count()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(src + "_dup", ignore_errors=True)


def test_rollup_materialize_and_prune(spark, sf_smoke, tmp_path):
    """Hypertable pattern: materialized hourly rollup is
    date-partitioned (pruned reads) and re-aggregates to the same
    daily answer as the in-memory path."""
    from customer_churn_prediction_spark.streaming import rollup as ru

    path = str(tmp_path / "rollup")
    ru.materialize_hourly_rollup(spark, sf_smoke, path)
    stored = spark.read.parquet(path)
    one_day = stored.select("dt").distinct().limit(1).collect()[0][0]
    plan = (
        stored.where(F.col("dt") == F.lit(one_day))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    got = ru.daily_from_rollup(stored).toPandas()
    want = ru.daily_from_rollup(ru.hourly_rollup(spark, sf_smoke)).toPandas()
    assert canonical_rows(got) == canonical_rows(want)


def test_continuous_rollup_maintenance_converges(spark, sf_smoke, tmp_path):
    """maintain_rollup drains the stream into the date-partitioned
    layout; daily coarsening of the maintained rollup must equal the
    batch rollup_daily_from_hourly registry query."""
    from customer_churn_prediction_spark.streaming import rollup as r

    src = _events_dir(spark, sf_smoke)
    out = str(tmp_path / "rollup_maint")
    try:
        static = spark.read.parquet(src)
        stream = sw.as_stream(spark, src, static.schema)
        q = r.maintain_rollup(stream, out, "rollup_maint_smoke")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        maintained = spark.read.parquet(out)
        got = (
            r.daily_from_rollup(maintained)
            .select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "event_type", "n_events", "value_sum",
                "value_min", "value_max", "value_avg",
            )
            .toPandas()
        )
        want = r.daily_rollup_direct(spark, sf_smoke).toPandas()
        assert canonical_rows(got) == canonical_rows(want)
        # The layout is the hypertable-chunk one: hive partitions by dt.
        assert "dt" in maintained.columns
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_rollup_crash_resume_idempotent(spark, sf_smoke, tmp_path):
    """Checkpointed maintain_rollup survives a stop/restart cycle:
    phase 1 lands half the events, the query 'dies', a new query on
    the SAME checkpoint drains the rest with its aggregation state
    restored, and the final rollup equals the uninterrupted batch
    answer. A third restart with no new data must leave the landed
    rollup byte-identical (the overwrite-from-state sink is idempotent
    on replay)."""
    from customer_churn_prediction_spark.streaming import rollup as r

    src = tempfile.mkdtemp(prefix="events_resume_")
    out = str(tmp_path / "rollup_out")
    ckpt = str(tmp_path / "rollup_ckpt")
    try:
        events = load_table(spark, sf_smoke, "events")
        first = events.where(F.col("event_id") % 2 == 0)
        second = events.where(F.col("event_id") % 2 == 1)
        first.write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema

        def run_epoch(name):
            q = r.maintain_rollup(
                sw.as_stream(spark, src, schema), out, name, checkpoint=ckpt
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_epoch("rollup_resume_1")
        # "crash": query object discarded; more data arrives.
        second.write.mode("append").parquet(src)
        run_epoch("rollup_resume_2")

        got = (
            r.daily_from_rollup(spark.read.parquet(out))
            .select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "event_type", "n_events", "value_sum",
                "value_min", "value_max", "value_avg",
            )
            .toPandas()
        )
        want = r.daily_rollup_direct(spark, sf_smoke).toPandas()
        assert canonical_rows(got) == canonical_rows(want)

        before = canonical_rows(spark.read.parquet(out).toPandas())
        run_epoch("rollup_resume_3")  # nothing new: replay must be a no-op
        after = canonical_rows(spark.read.parquet(out).toPandas())
        assert before == after
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_user_totals_crash_resume(spark, sf_smoke, tmp_path):
    """applyInPandasWithState survives a stop/restart on the same
    checkpoint: phase 2 processes ONLY the second half of the events,
    so its emitted totals can equal the full-data batch aggregate only
    if the per-user state from phase 1 was restored from the state
    store."""
    from customer_churn_prediction_spark.streaming import stateful as st

    src = tempfile.mkdtemp(prefix="events_stateful_resume_")
    ckpt = str(tmp_path / "ckpt")
    try:
        events = load_table(spark, sf_smoke, "events")
        events.where(F.col("event_id") % 2 == 0).write.mode(
            "overwrite"
        ).parquet(src)
        schema = spark.read.parquet(src).schema

        def run(name, outdir):
            # foreachBatch (not the memory sink, which cannot recover
            # from a checkpoint): land each batch's update rows, with a
            # fresh outdir per phase so phase-2 emissions are isolated.
            def land(bdf, _eid):
                bdf.write.mode("append").parquet(outdir)

            q = (
                st.streaming_user_totals(sw.as_stream(spark, src, schema))
                .writeStream.foreachBatch(land)
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run("stateful_resume_1", str(tmp_path / "phase1"))
        events.where(F.col("event_id") % 2 == 1).write.mode(
            "append"
        ).parquet(src)
        run("stateful_resume_2", str(tmp_path / "phase2"))

        got = spark.read.parquet(str(tmp_path / "phase2")).toPandas()
        assert len(got) > 0
        final = got.sort_values("n_events").groupby("user_id").tail(1)
        want = (
            st.user_totals(spark, sf_smoke)
            .toPandas()
            .set_index("user_id")
        )
        for row in final.itertuples(index=False):
            assert row.n_events == want.loc[row.user_id, "n_events"]
            assert (
                abs(row.value_sum - want.loc[row.user_id, "value_sum"])
                <= 0.011  # two independent 2dp roundings of float sums
            )
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_hash_sampler_partitioning_invariant(spark, sf_dir):
    """The md5-prefix sampler must select the same rows under any
    physical partitioning (the property seeded df.sample lacks and the
    reason the engine uses hash sampling)."""
    from customer_churn_prediction_spark.operators.relational import (
        sampled_orders,
    )
    from .oracle_utils import canonical_rows

    base = sampled_orders(spark, sf_dir).toPandas()

    import customer_churn_prediction_spark.catalog as cat

    orig = cat.load_table

    def shuffled_loader(spark_, sf, name, **kw):
        df = orig(spark_, sf, name, **kw)
        return df.repartition(17) if name == "orders" else df

    cat.load_table = shuffled_loader
    # relational.py imported load_table by name — patch there too.
    import customer_churn_prediction_spark.operators.relational as rel

    rel_orig = rel.load_table
    rel.load_table = shuffled_loader
    try:
        repart = sampled_orders(spark, sf_dir).toPandas()
    finally:
        cat.load_table = orig
        rel.load_table = rel_orig
    assert canonical_rows(base) == canonical_rows(repart)


def test_dedup_ingest_stream_equals_batch_form(spark, sf_dir, tmp_path):
    """Streaming dedup-on-ingest: the new-doc slice arrives as TWO
    separate files (two micro-batch epochs under availableNow), each
    banded and joined against the materialized corpus-bands table.
    Because candidates only pair a new doc with the corpus, the union
    of per-epoch drop-lists must EXACTLY equal the batch
    dedup_incremental output, however ingestion is sliced."""
    import shutil

    from pyspark.sql import functions as F

    from customer_churn_prediction_spark.catalog import load_table
    from customer_churn_prediction_spark.streaming import ingest
    from customer_churn_prediction_spark.text import dedup
    from customer_churn_prediction_spark.sources.writers import sf_tag

    # Fresh bands table for this sf_dir.
    table = f"corpus_bands_{sf_tag(sf_dir)}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(
        warehouse.removeprefix("file:") + f"/{table}", ignore_errors=True
    )

    new_docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % dedup.INCREMENTAL_MOD)
        >= dedup.INCREMENTAL_NEW_RESIDUE
    )
    stream_dir = str(tmp_path / "arrivals")
    half = (F.col("doc_id") % 2 == 0)
    new_docs.where(half).coalesce(1).write.mode("overwrite").parquet(
        stream_dir
    )
    new_docs.where(~half).coalesce(1).write.mode("append").parquet(
        stream_dir
    )

    out_dir = str(tmp_path / "droplist")
    q = ingest.dedup_ingest_stream(
        spark, sf_dir, stream_dir, out_dir,
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120), "availableNow drain timed out"
    assert q.exception() is None

    got = sorted(
        map(
            tuple,
            spark.read.parquet(out_dir)
            .select("doc_id", "dup_of", "jaccard")
            .collect(),
        )
    )
    want = sorted(map(tuple, dedup.dedup_incremental(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_dedup_ingest_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The exactly-once contract of the ingest sink: re-delivering an
    epoch after a crash OVERWRITES its own partition instead of
    appending duplicates. Replay epoch 0 twice via a fresh run of the
    availableNow query with the SAME output dir but a NEW checkpoint
    (forcing full reprocessing) — the drop-list must be unchanged."""
    import shutil

    from pyspark.sql import functions as F

    from customer_churn_prediction_spark.catalog import load_table
    from customer_churn_prediction_spark.streaming import ingest
    from customer_churn_prediction_spark.text import dedup
    from customer_churn_prediction_spark.sources.writers import sf_tag

    table = f"corpus_bands_{sf_tag(sf_dir)}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(
        warehouse.removeprefix("file:") + f"/{table}", ignore_errors=True
    )

    new_docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % dedup.INCREMENTAL_MOD)
        >= dedup.INCREMENTAL_NEW_RESIDUE
    )
    stream_dir = str(tmp_path / "arrivals")
    new_docs.coalesce(1).write.mode("overwrite").parquet(stream_dir)
    out_dir = str(tmp_path / "droplist")

    def run(ckpt):
        q = ingest.dedup_ingest_stream(
            spark, sf_dir, stream_dir, out_dir,
            checkpoint=str(tmp_path / ckpt),
            query_name=f"dedup_ingest_{ckpt}",
        )
        assert q.awaitTermination(120), "availableNow drain timed out"
        assert q.exception() is None

    run("ckpt1")
    first = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    run("ckpt2")  # fresh checkpoint => epoch 0 fully re-delivered
    second = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    assert first == second and len(first) > 0


def test_joint_crash_recovery_both_exactly_once_sinks(
    spark, sf_dir, tmp_path
):
    """The two idempotent-epoch sinks — dedup-on-ingest and the
    maintained rollup — driven from ONE arrivals directory through the
    worst-case crash: the fault hook kills each query AFTER an epoch's
    partition overwrite but BEFORE its offset commit, mid-drain, so
    the restart re-delivers a fully-landed epoch AND still has later
    epochs to process. Both outputs must equal their batch forms
    (VERDICT r4 item 6)."""
    from pyspark.sql import functions as F

    from customer_churn_prediction_spark.catalog import load_table
    from customer_churn_prediction_spark.streaming import ingest, rollup
    from customer_churn_prediction_spark.text import dedup

    new_docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % dedup.INCREMENTAL_MOD)
        >= dedup.INCREMENTAL_NEW_RESIDUE
    )
    stream_dir = str(tmp_path / "arrivals")
    third = F.col("doc_id") % 3
    for i in range(3):  # three files -> three epochs at 1 file/trigger
        new_docs.where(third == i).coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)

    from .conftest import CrashOnce
    from .conftest import drain_to_exception as drain

    # --- sink 1: dedup-on-ingest ---------------------------------
    out_dir = str(tmp_path / "droplist")
    ckpt = str(tmp_path / "ckpt_ingest")
    crash = CrashOnce(at_epoch=1)
    q = ingest.dedup_ingest_stream(
        spark, sf_dir, stream_dir, out_dir, checkpoint=ckpt,
        query_name="joint_ingest_run1", max_files_per_trigger=1,
        fault=crash,
    )
    assert drain(q) is not None, "fault must abort the first run"
    assert crash.fired
    q = ingest.dedup_ingest_stream(  # same checkpoint, no fault
        spark, sf_dir, stream_dir, out_dir, checkpoint=ckpt,
        query_name="joint_ingest_run2", max_files_per_trigger=1,
    )
    assert drain(q) is None, "recovery run must drain cleanly"
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out_dir)
            .select("doc_id", "dup_of", "jaccard")
            .collect(),
        )
    )
    want = sorted(
        map(tuple, dedup.dedup_incremental(spark, sf_dir).collect())
    )
    assert got == want and len(got) > 0

    # --- sink 2: maintained rollup from the SAME arrivals --------
    # Derive an events-shaped stream from the document files: ts
    # spread deterministically over ~2 days of hours, event_type from
    # the source column, value from n_chars (integer-valued doubles,
    # so sums are exact and order-insensitive).
    def to_events(df):
        return df.select(
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("doc_id") % 48) * 1800
            ).alias("ts"),
            F.col("source").alias("event_type"),
            F.col("n_chars").cast("double").alias("value"),
        )

    roll_dir = str(tmp_path / "rollup")
    ckpt2 = str(tmp_path / "ckpt_rollup")
    docs_stream = (
        spark.readStream.schema(ingest.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    crash2 = CrashOnce(at_epoch=1)
    q = rollup.maintain_rollup(
        to_events(docs_stream), roll_dir,
        query_name="joint_rollup_run1", checkpoint=ckpt2, fault=crash2,
    )
    assert drain(q) is not None and crash2.fired
    docs_stream2 = (
        spark.readStream.schema(ingest.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = rollup.maintain_rollup(
        to_events(docs_stream2), roll_dir,
        query_name="joint_rollup_run2", checkpoint=ckpt2,
    )
    # maintain_rollup has no terminating trigger (a live maintenance
    # loop): drain what's available, assert it stayed healthy, stop.
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    got_roll = sorted(
        map(
            tuple,
            spark.read.parquet(roll_dir)
            .select("hour", "event_type", "n_events", "value_sum",
                    "value_min", "value_max")
            .collect(),
        )
    )
    batch_events = to_events(spark.read.parquet(stream_dir))
    want_roll = sorted(
        map(
            tuple,
            batch_events.groupBy(
                F.date_trunc("hour", "ts").alias("hour"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("value_sum"),
                F.min("value").alias("value_min"),
                F.max("value").alias("value_max"),
            )
            .collect(),
        )
    )
    assert got_roll == want_roll and len(got_roll) > 0


def test_streaming_user_sequences_converges_to_batch(
    spark, sf_smoke, tmp_path
):
    """The stateful last-K sequence accumulator converges to the batch
    window form: after draining the stream, the LAST emitted row per
    user equals user_event_sequences' packed (user_id, seq_len, seq)."""
    import shutil

    from customer_churn_prediction_spark.operators import windows as ow
    from customer_churn_prediction_spark.streaming import stateful as st

    src = _events_dir(spark, sf_smoke)
    out = str(tmp_path / "seq_updates")
    try:
        static = spark.read.parquet(src)
        stream = sw.as_stream(spark, src, static.schema)

        def land(df, epoch_id):
            df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            st.streaming_user_sequences(stream)
            .writeStream.foreachBatch(land)
            .outputMode("update")
            .queryName("seq_smoke")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        updates = spark.read.parquet(out)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("epoch").desc())
        got = sorted(
            map(
                tuple,
                updates.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("user_id", "seq_len", "seq")
                .collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                ow.user_event_sequences(spark, sf_smoke)
                .select("user_id", "seq_len", "seq")
                .distinct()
                .collect(),
            )
        )
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_kafka_wire_parse_pipeline_equals_batch(spark, sf_smoke, tmp_path):
    """S14 minus the broker: events serialized onto the Kafka
    connector's EXACT wire schema (binary JSON value + broker
    metadata), streamed, parsed by events_from_kafka_records, and run
    through the watermarked tumbling window — the result must equal
    the batch aggregate over the original events. Event time comes
    from the payload, so a deliberately wrong broker timestamp must
    not move the windows."""
    events = load_table(spark, sf_smoke, "events")
    wire = events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type",
                     "value", "props")
        ).cast("binary").alias("value"),
        F.lit("events").alias("topic"),
        (F.col("event_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        # broker append time deliberately != payload ts
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    src = str(tmp_path / "kafka_wire")
    wire.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(sw.KAFKA_WIRE_SCHEMA).parquet(src)
    parsed = sw.events_from_kafka_records(stream)
    q = (
        sw.streaming_tumbling_counts(parsed)
        .writeStream.format("memory")
        .queryName("kafka_wire_smoke")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from kafka_wire_smoke").toPandas()
    finally:
        q.stop()
    want = sw.tumbling_counts(spark, sf_smoke).toPandas()
    assert canonical_rows(got) == canonical_rows(want)
