"""SparkSession factory tuned for the engine.

The reference builds its session at ``RF/randomforest_churn.scala:18``
(``master("yarn")``, Hive support) with all optimizer decisions left to
Spark defaults. We keep that delegation but turn on the Spark 3/4
adaptive features that matter at 100 TB: AQE re-planning, partition
coalescing, and skew-join splitting. Shuffle partition count is sized
for the local test harness (32 cores) — on a real cluster it should be
~2-3x total executor cores, or left to AQE's initial-partition logic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "customer_churn_prediction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    Safe to call when a session already exists (e.g. under the driver
    harness): ``getOrCreate`` reuses it and only applies runtime confs.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    if SparkSession.getActiveSession() is None:
        # Static conf — applies only when this call creates the JVM.
        # The default 240 MB JIT code cache fills after a few dozen
        # distinct whole-stage-codegen plans (a long bench session or a
        # full registry pass); once full, HotSpot stops compiling and
        # heavy generated expressions (e.g. the 60-bit SimHash fold)
        # run interpreted at 2-3x the wall time. Standard Spark advice
        # for codegen-heavy workloads is to raise it.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        # local[N] puts executors AND driver in one JVM; Spark's 1g
        # default heap is sized for a driver-only process and OOMs
        # late in a long session (hundreds of plans, accumulated
        # broadcast/cache blocks — seen as heap exhaustion ~380 tests
        # into the suite). On a real cluster this conf is the
        # deployment's concern; here it must cover the whole engine.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # Static conf: Spark's generated-class cache holds only 100
        # entries by default. A 63-query bench session (or a full
        # registry pass) compiles several hundred distinct codegen
        # units — stages, subexpression variants, AQE re-plans — so
        # the LRU thrashes and later passes re-pay cold compiles
        # (observed: dedup_simhash 0.85 s in-bench vs 0.37 s in a
        # fresh solo process, identical plan — VERDICT r8 item 4).
        # 2000 entries covers the whole registry with headroom;
        # generated classes are small, so the memory cost is noise
        # next to the 8g driver heap.
        builder = builder.config(
            "spark.sql.codegen.cache.maxEntries", "2000"
        )

    conf = {
        # Determinism: all date/timestamp math in UTC regardless of host tz.
        "spark.sql.session.timeZone": "UTC",
        # AQE: runtime re-planning, partition coalescing, skew-join split.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # parallelismFirst stays at its default (true): an A/B over the
        # full bench showed coalescing to the 64 MB advisory size wins
        # 1.2-1.9× on the sub-second reduction-light tier but LOSES
        # more on the dedup tier, whose post-shuffle stages (gram
        # explosion + Jaccard verification after the band join) are
        # CPU-heavy and serialize when coalesced — net +5% total.
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Sized for local[32]; a cluster deployment overrides this.
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dim tables (part/customer at our scale) should broadcast.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Join strategy (guide §3.1/§9): sort-merge by default. The
        # shuffled-hash preference (preferSortMergeJoin=false + AQE
        # maxShuffledHashJoinLocalMapThreshold=64m) was landed mid-r14
        # on an 8-heaviest-queries A/B (net −8%), then REVERTED after
        # two full-bench-set in-process alternating A/Bs — run after
        # the r14 plan restructurings (checkpoint barriers, nullability
        # barriers) it was measured without — both showed SHJ a net
        # +11% LOSS (76.7 vs 68.1 s and 75.4 vs 67.8 s over 63
        # queries, opposite pass orders). The losses concentrate in
        # queries whose post-join stages need sort order (windows,
        # downstream SMJs, sort-aggregates): SMJ output sortedness is
        # reused free, SHJ forces the sort back in. SHJ still wins on
        # hash-agg-tailed pipelines (ann_ivf_kmeans −0.4,
        # multimodal_features −0.4, corpus_keep_decision −0.3); a
        # deployment dominated by that tier can flip
        # SPARK_GRAFT_PREFER_SMJ=false /
        # SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD=64m without touching code.
        "spark.sql.join.preferSortMergeJoin": os.environ.get(
            "SPARK_GRAFT_PREFER_SMJ", "true"
        ),
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": (
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD", "0")
        ),
        # Keep parquet scans fat enough to amortize task overhead.
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        # Headless batch/bench context: the UI server only adds startup
        # latency and per-task listener overhead here.
        "spark.ui.enabled": "false",
        # PySpark 4.1 wraps every F.* and Column call to record its
        # Python call site (``_with_origin``, pyspark/errors/utils.py):
        # about five extra py4j round trips and a stack walk per call,
        # most of the py4j traffic of plan construction. The cost of
        # turning it off: an AnalysisException message loses the Python
        # call-site fragment (file and line of the failing call).
        # PySpark reads this once per process, at the first wrapped
        # call made with an active session.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
