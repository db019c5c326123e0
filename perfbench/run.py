"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload churn_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see ``perfbench/README.md``).
Everything the run writes lives under ``.perfbench/`` in the checkout:
the work directory is removed at the end, and a per-run record with
the host-noise context (and, when traced, the spans) is kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Pinned engine settings (perfbench/README.md).
DRIVER_MEMORY = "2g"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("churn_daily", "analyst_session"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def _py_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def _start_session(work_dir: str, cores: int):
    """The engine's session, built the way the benchmark pins it."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    # Python workers import the engine from the checkout; every
    # temporary file of Spark, the JVM and the workers stays in it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    from customer_churn_prediction_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # The context's first job pays one-off executor and class-loading
    # start-up (~4 s on a 4-core host); it belongs to session start, not to
    # whichever operation happens to run first.
    spark.range(1).count()
    return spark


def _stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    proc.wait(timeout=120)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # Fail fast, before Spark starts, when the engine is not there.
    import customer_churn_prediction_spark  # noqa: F401

    from perfbench.trace import Tracer, per_layer_names, tail
    from perfbench.workloads import WORKLOADS, Run

    cores = os.cpu_count() or 1
    state_dir = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(
        state_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work_dir)
    spark = None
    phases: dict[str, float] = {}
    try:
        py0 = _py_cpu_s()
        t0 = time.perf_counter()
        spark = _start_session(work_dir, cores)
        start_s = time.perf_counter() - t0
        pid = _jvm_pid(spark)
        jvm0 = _jvm_cpu_s(pid)

        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, tracer, work_dir, args.seed)
        workload = WORKLOADS[args.workload](run)
        phases["start"] = start_s
        t0 = time.perf_counter()
        workload.setup()
        phases["setup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.measure(args.seconds)
        phases["measure"] = time.perf_counter() - t0
        counters_at_end = dict(tracer.counters)
        per_layer_at_end = tracer.per_layer(cores)
        py_cpu = _py_cpu_s() - py0
        jvm_cpu = _jvm_cpu_s(pid) - jvm0
        t0 = time.perf_counter()
        workload.check()
        phases["check"] = time.perf_counter() - t0
        peak_rss_mb = (
            _jvm_peak_rss_mb(pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            _stop_session(spark)
            phases["stop"] = time.perf_counter() - t0
        shutil.rmtree(work_dir, ignore_errors=True)

    if not run.latencies:
        raise RuntimeError(f"no operation completed: {run.errors[:5]}")
    op_s = [dt for _, dt in run.latencies]
    p50 = statistics.median(op_s)
    geomean = run.op_geomean_s()
    pass_s = statistics.median(run.pass_s)
    setup_s = start_s + run.stage_s + run.warmup_s
    if args.trace:
        c = counters_at_end
        layer = dict(per_layer_at_end)
        layer.update({
            "session.start_s": start_s,
            "session.stage_inputs_s": run.stage_s,
            "session.warmup_s": run.warmup_s,
            "process.py_cpu_s": py_cpu,
            "process.jvm_cpu_s": jvm_cpu,
            "plans.build_share": (
                c.get("plans.build_s", 0.0) / sum(op_s)
            ),
            "process.peak_rss_mb": peak_rss_mb,
            "tracing.op_geomean_s": geomean,
            "tracing.pass_s": pass_s,
        })
        metrics = {
            name: {"value": layer[name], "unit": _unit(name)}
            for name in per_layer_names()
        }
    else:
        metrics = {
            "op_geomean_s": {"value": geomean, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }

    results = os.path.join(state_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    with open(stem + ".json", "w") as fh:
        json.dump({
            "args": vars(args), "cores": cores, "metrics": metrics,
            "phase_s": phases,
            "op_p50_s": p50, "op_tail_s": tail(op_s),
            "op_s": run.latencies, "pass_s": run.pass_s,
            "errors": run.errors,
            "host_noise": run.noise,
        }, fh, indent=1)
    if args.trace:
        tracer.dump(stem + "-spans.json")
        tracer.close()

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_share") or name.endswith("_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
