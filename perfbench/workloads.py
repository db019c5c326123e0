"""The benchmark's workloads, driven through the engine's public entry
points in one SparkSession.

``churn_daily``      the reference's daily job, once per fresh snapshot:
                     every memo misses, so construction, scans, joins,
                     fits and the feature-table write block the result.
``analyst_session``  a long-lived session repeating a query mix over
                     unchanged data: plan, relation and fit memos and the
                     JIT and codegen caches are warm.

Both are closed loops with one client. Every DataFrame is forced
through the ``noop`` sink, as ``bench.py`` does; the
feature table is written to parquet.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

from tests.oracle_utils import assert_matches_oracle

from . import inputs
from .trace import Tracer

# The analyst mix: a fixed subset of bench.py's query mix
# (bench.BENCH_QUERIES, checked at start-up so the series stays
# comparable with bench.py's), chosen so every query module and the
# checkpointing layer is exercised and one pass fits a short run.
ANALYST_MIX = (
    "rfm_groupby", "asof_join_clicks",           # operators
    "json_extract_events",                       # functions
    "stream_session_windows",                    # streaming
    "multimodal_features",                       # sources
    "text_stats", "dedup_lsh_components",        # text (+checkpointing)
    "ann_lsh_bucketed", "ann_ivf_kmeans",        # similarity
    "eval_ks",                                   # ml
)
# Snapshots staged for churn_daily: enough fresh directories for every
# job a run can fit, each used once.
CHURN_SNAPSHOTS = 3
CHURN_MODELS = ("rf", "lr")
CHURN_EVALS = ("eval_confusion", "eval_ks", "model_calibration")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """State of one benchmark run: the session, the tracer, the
    registry, and the attempted/failed operation counts."""

    def __init__(self, spark, tracer: Tracer, work_dir: str, seed: int):
        from customer_churn_prediction_spark.plans import (
            get_oracles, get_queries, registry,
        )

        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.queries = get_queries()
        self.oracles = get_oracles()
        for mod in registry._modules():
            layer = mod.__name__.split(".")[1]
            for name in getattr(mod, "QUERIES", {}):
                tracer.module_of[name] = layer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.stage_s = 0.0
        self.warmup_s = 0.0
        # (operation name, latency) of every timed operation
        self.latencies: list[tuple[str, float]] = []
        self.pass_s: list[float] = []
        self.noise: list[dict] = []

    def op_geomean_s(self) -> float:
        """Geometric mean over operations of each operation's median
        latency: every query or job step weighs the same, and one slow
        repetition of it does not move the figure."""
        by_op: dict[str, list[float]] = {}
        for name, dt in self.latencies:
            by_op.setdefault(name, []).append(dt)
        return statistics.geometric_mean(
            [statistics.median(v) for v in by_op.values()]
        )

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        """Count one failure; the run record keeps its traceback."""
        self.failed += 1
        if exc is None:
            self.errors.append(what)
        else:
            tb = "".join(traceback.format_exception(exc))
            self.errors.append(f"{what}: {tb[-2000:]}")

    def stage(self, name: str) -> str:
        t0 = time.perf_counter()
        path = inputs.make_snapshot(
            os.path.join(self.work_dir, "inputs", name),
            _child_seed(self.seed, name),
        )
        self.stage_s += time.perf_counter() - t0
        return path

    def build(self, name: str, sf_dir: str):
        """Build a registered query, recording the plans layer."""
        tr = self.tracer
        with tr.span("build", "plans", query=name) as sp:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, sf_dir)
            dt = time.perf_counter() - t0
        tr.note_build(df, dt, sp["py4j"])
        return df

    def query(self, name: str, sf_dir: str) -> float:
        """Build and execute one registered query; returns its latency."""
        from customer_churn_prediction_spark.checkpointing import (
            materialize_count,
        )

        module = self.tracer.module_of[name]
        mat0 = materialize_count()
        t0 = time.perf_counter()
        # The job group covers the build too: collect-gated loops (the
        # connected-components rounds, fits) run their jobs while building.
        with self.tracer.span(name, "query", module=module), \
                self.tracer.job_group(module):
            df = self.build(name, sf_dir)
            with self.tracer.span("execute", module):
                force(df)
        dt = time.perf_counter() - t0
        self.tracer.add("checkpointing.materializations",
                        materialize_count() - mat0)
        return dt

    def check(self, what: str, check_fn) -> None:
        """One output check, run after the timed phase; any exception
        it raises (a mismatch raises AssertionError) is a failure."""
        try:
            check_fn()
        except Exception as exc:  # a failed check is a result here
            self.fail(f"check {what}", exc)

    def attempt(self, what: str, fn, *args):
        """Run one operation, counting it and recording its host-noise
        context; an exception counts as a failure and returns None."""
        self.attempted += 1
        n0 = _noise()
        try:
            return fn(*args)
        except Exception as exc:  # an operation failure is a result here
            self.fail(what, exc)
            return None
        finally:
            self.noise.append({"op": what, **_noise_delta(n0)})


def _child_seed(seed: int, name: str) -> list[int]:
    return [seed, sum(name.encode())]


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _noise() -> tuple[float, int]:
    return time.perf_counter(), _steal_ticks()


def _noise_delta(start: tuple[float, int]) -> dict:
    """Host-noise context of one operation: CPU-steal seconds during it
    (USER_HZ ticks at the conventional 100 Hz) and the 1-minute
    loadavg at its end."""
    return {
        "wall_s": round(time.perf_counter() - start[0], 4),
        "steal_s": (_steal_ticks() - start[1]) / 100.0,
        "load1": os.getloadavg()[0],
    }


# ------------------------------------------------------------ churn_daily
class ChurnDaily:
    """Closed loop, one client: the daily job, each repetition over a
    fresh snapshot staged before timing."""

    def __init__(self, run: Run):
        self.run = run
        self.snapshots: list[str] = []
        self.jobs: list[tuple[str, dict]] = []

    def setup(self) -> None:
        self.snapshots = [self.run.stage(f"snapshot{i}")
                          for i in range(CHURN_SNAPSHOTS)]

    def measure(self, seconds: float) -> None:
        run = self.run
        t_start = time.perf_counter()
        for snap in self.snapshots:
            if self.jobs and time.perf_counter() - t_start >= seconds:
                break
            t0 = time.perf_counter()
            outputs, steps = _daily_job(run, snap)
            dt = time.perf_counter() - t0
            if outputs is not None:
                self.jobs.append((snap, outputs))
                run.latencies.extend(steps)
                run.pass_s.append(dt)

    def check(self) -> None:
        for snap, outputs in self.jobs:
            _check_daily_job(self.run, snap, outputs)


def _daily_job(
    run: Run, snap: str
) -> tuple[dict | None, list[tuple[str, float]]]:
    """The reference's daily job over one snapshot. Returns the outputs
    the check needs (None when a step failed) and each step's
    latency."""
    from customer_churn_prediction_spark.ml import jobs

    tr = run.tracer
    out_dir = os.path.join(run.work_dir, "outputs",
                           os.path.basename(snap))
    outputs: dict = {"features": os.path.join(out_dir, "features")}
    latencies: list[tuple[str, float]] = []

    def step(what: str, fn, *args):
        t0 = time.perf_counter()
        res = run.attempt(what, fn, *args)
        if res is not None:
            latencies.append((what, time.perf_counter() - t0))
        return res

    with tr.span("churn_job", "workload"):
        def feature_table():
            with tr.span("feature_assembly", "query", module="sources"), \
                    tr.job_group("sources"):
                df = run.build("feature_assembly", snap)
                t0 = time.perf_counter()
                with tr.span("write", "sources"):
                    df.write.mode("overwrite").parquet(outputs["features"])
                tr.add("sources.write_s", time.perf_counter() - t0)
                files = [f for f in os.listdir(outputs["features"])
                         if f.endswith(".parquet")]
                tr.add("sources.files_written", len(files))
                tr.add("sources.bytes_written", sum(
                    os.path.getsize(os.path.join(outputs["features"], f))
                    for f in files))
            return True

        step("feature_assembly", feature_table)
        step("label_churn", run.query, "label_churn", snap)
        for key in CHURN_MODELS:
            def fit(key=key):
                with tr.span(f"fit_{key}", "ml"), tr.job_group("ml"):
                    t0 = time.perf_counter()
                    pdf = jobs.train_and_evaluate(
                        run.spark, snap, key, profile="small"
                    ).toPandas()
                    tr.add(f"ml.fit_{key}_s", time.perf_counter() - t0)
                return pdf
            outputs[key] = step(f"fit_{key}", fit)
        for name in CHURN_EVALS:
            step(name, run.query, name, snap)
    n_steps = 2 + len(CHURN_MODELS) + len(CHURN_EVALS)
    return (outputs if len(latencies) == n_steps else None), latencies


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def _check_daily_job(run: Run, snap: str, outputs: dict) -> None:
    tag = os.path.basename(snap)
    run.check(f"feature_assembly on {tag}", lambda: assert_matches_oracle(
        run.spark.read.parquet(outputs["features"]),
        run.oracles["feature_assembly"], snap))
    run.check(f"label_churn on {tag}", lambda: assert_matches_oracle(
        run.build("label_churn", snap), run.oracles["label_churn"], snap))
    for key in CHURN_MODELS:  # rows-only: one plausible metrics row
        def model_row(key=key):
            pdf = outputs[key]
            _expect(len(pdf) == 1, "one metrics row")
            row = pdf.iloc[0]
            _expect(row["model"] == key and row["n_train"] > 0
                    and row["n_test"] > 0 and 0.0 <= row["auc"] <= 1.0,
                    f"plausible {key} metrics")
        run.check(f"fit_{key} on {tag}", model_row)
    for name in CHURN_EVALS:  # rows-only
        run.check(f"{name} on {tag}", lambda name=name: _expect(
            run.build(name, snap).count() > 0, "rows"))


# -------------------------------------------------------- analyst_session
class AnalystSession:
    """Closed loop, one client: passes over a seeded permutation of the
    analyst mix on one unchanged snapshot, after untimed warm-up
    passes."""

    WARMUP_PASSES = 2
    MAX_PASSES = 64

    def __init__(self, run: Run):
        import bench

        missing = [q for q in ANALYST_MIX if q not in bench.BENCH_QUERIES]
        if missing:
            raise ValueError(f"not in bench.BENCH_QUERIES: {missing}")
        self.run = run
        self.orders = inputs.query_orders(
            list(ANALYST_MIX), run.seed, self.WARMUP_PASSES + self.MAX_PASSES)
        self.snap = ""

    def setup(self) -> None:
        run = self.run
        self.snap = run.stage("snapshot")
        # Warm-up: the first pass fills the session's memos, the second
        # lets the JIT settle; both are set-up, not measurement.
        t0 = time.perf_counter()
        for p in range(self.WARMUP_PASSES):
            self._pass(p, timed=False)
        run.warmup_s = time.perf_counter() - t0
        run.tracer.reset_counters()

    def measure(self, seconds: float) -> None:
        t_start = time.perf_counter()
        first = p = self.WARMUP_PASSES
        while p < first + self.MAX_PASSES and (
            p == first or time.perf_counter() - t_start < seconds
        ):
            self._pass(p, timed=True)
            p += 1

    def _pass(self, p: int, timed: bool) -> None:
        run = self.run
        t0 = time.perf_counter()
        with run.tracer.span(f"pass{p}", "workload"):
            for name in self.orders[p]:
                dt = run.attempt(name, run.query, name, self.snap)
                if dt is not None and timed:
                    run.latencies.append((name, dt))
        if timed:
            run.pass_s.append(time.perf_counter() - t0)

    def check(self) -> None:
        run = self.run
        for name in ANALYST_MIX:
            run.check(name, lambda name=name: assert_matches_oracle(
                run.build(name, self.snap), run.oracles[name], self.snap))


WORKLOADS = {
    "churn_daily": ChurnDaily,
    "analyst_session": AnalystSession,
}
