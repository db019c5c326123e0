"""Spans and counters recorded around the benchmark's calls into the
engine's modules.

The untraced run creates a ``Tracer(enabled=False)``: spans still time
the operations the end-to-end metrics need, but nothing is wrapped and
the status store is never read. The traced run (``enabled=True``)
additionally

* counts py4j round-trips by wrapping the gateway client's
  ``send_command`` in this process,
* wraps ``catalog.load_table`` and the two ``checkpointing``
  materializers wherever the engine's modules bound them,
* reads each operation's executor totals from the Spark status store
  under a per-operation job group (never from plan text), and
* reads the Catalyst phase times of every freshly built plan.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
import weakref

PACKAGE = "customer_churn_prediction_spark"

# Modules whose registered queries are attributed an executor set.
QUERY_MODULES = (
    "operators", "text", "similarity", "ml", "functions", "sources",
    "streaming",
)
EXEC_FIELDS = (
    "exec_s", "tasks", "input_records", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "executor_run_s", "executor_cpu_s", "gc_s", "task_skew",
    "core_busy_share",
)
PHASES = ("analysis", "optimization", "planning")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = [
        "session.start_s", "session.stage_inputs_s", "session.warmup_s",
        "process.py_cpu_s", "process.jvm_cpu_s", "process.peak_rss_mb",
        "plans.builds", "plans.build_s", "plans.build_share",
        "plans.py4j_calls", "plans.memo_hits",
        *(f"plans.{p}_ms" for p in PHASES),
        "catalog.load_table_calls", "catalog.load_table_s",
        "checkpointing.materializations", "checkpointing.materialize_s",
        "ml.fit_rf_s", "ml.fit_lr_s",
        "sources.write_s", "sources.bytes_written", "sources.files_written",
        "tracing.op_geomean_s", "tracing.pass_s", "tracing.self_s",
    ]
    for mod in QUERY_MODULES:
        names += [f"{mod}.{f}" for f in EXEC_FIELDS]
    return names


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it, once
    there are enough samples for that to be the 75th percentile or
    above (40); below that, the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 40:
        return v[-1]
    # leaves exactly ten samples above it
    return v[n - 11]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = {}
        self.py4j_calls = 0
        self.self_s = 0.0  # time spent in tracing bookkeeping
        self._seen_frames: weakref.WeakValueDictionary = (
            weakref.WeakValueDictionary()
        )
        self._restore: list = []
        self._group_seq = 0
        self.module_of: dict[str, str] = {}
        self.skews: dict[str, list[float]] = {m: [] for m in QUERY_MODULES}
        if enabled:
            self._install()

    # ---------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "py4j_start": self.py4j_calls,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j_start")

    def reset_counters(self) -> None:
        """Drop what was counted so far (the end of warm-up)."""
        self.counters = {}
        self.skews = {m: [] for m in QUERY_MODULES}
        self.self_s = 0.0

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    # -------------------------------------------------------- wrapping
    def _install(self) -> None:
        from customer_churn_prediction_spark import catalog, checkpointing

        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted_send
        self._restore.append(lambda: delattr(client, "send_command"))
        self._wrap(catalog, "load_table", "catalog.load_table")
        self._wrap(checkpointing, "run_materialize",
                   "checkpointing.materialize")
        self._wrap(checkpointing, "loop_checkpoint",
                   "checkpointing.materialize")

    def _wrap(self, owner, attr: str, key: str) -> None:
        """Replace every binding of ``owner.attr`` in the engine's loaded
        modules by a counting, timing wrapper."""
        original = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.add(f"{key}_calls", 1)
                self.add(f"{key}_s", time.perf_counter() - t0)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name == PACKAGE or name.startswith(PACKAGE + "."):
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapped)
                    self._restore.append(
                        lambda m=mod: setattr(m, attr, original)
                    )

    def close(self) -> None:
        for undo in reversed(self._restore):
            undo()
        self._restore.clear()

    # ---------------------------------------------------- plan layer
    def note_build(self, df, seconds: float, py4j: int) -> bool:
        """Record one registry build; returns True on a memo hit (the
        query function handed back a DataFrame object it returned before)."""
        hit = self._seen_frames.get(id(df)) is df
        self._seen_frames[id(df)] = df
        self.add("plans.builds", 1)
        self.add("plans.build_s", seconds)
        self.add("plans.py4j_calls", py4j)
        self.add("plans.memo_hits", 1 if hit else 0)
        if self.enabled and not hit:
            t0 = time.perf_counter()
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # completes optimization and planning
            phases = qe.tracker().phases()
            for p in PHASES:
                opt = phases.get(p)
                if opt.isDefined():
                    self.add(f"plans.{p}_ms", opt.get().durationMs())
            self.self_s += time.perf_counter() - t0
        return hit

    # ------------------------------------------------- executor layer
    @contextlib.contextmanager
    def job_group(self, module: str):
        """Run the body under a fresh job group and, when tracing, add
        its executor totals to ``module``'s set."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            t1 = time.perf_counter()
            self._collect(group, module, wall)
            self.self_s += time.perf_counter() - t1

    def _collect(self, group: str, module: str, wall: float) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        store = self.spark._jsparkSession.sparkContext().statusStore()
        tot = dict.fromkeys(EXEC_FIELDS[:-2], 0.0)  # skew, busy: per_layer
        tot["exec_s"] = wall
        longest = None
        seen: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: no attempt recorded
                    continue
                run_ms = sd.executorRunTime()
                tot["tasks"] += sd.numCompleteTasks()
                tot["input_records"] += sd.inputRecords()
                tot["input_bytes"] += sd.inputBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["spill_bytes"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                )
                tot["executor_run_s"] += run_ms / 1e3
                tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["gc_s"] += sd.jvmGcTime() / 1e3
                if longest is None or run_ms > longest[0]:
                    longest = (run_ms, sid, sd.attemptId())
        if longest is not None:
            tasks = store.taskList(longest[1], longest[2], 1 << 30)
            durations = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durations.append(d.get())
            med = statistics.median(durations) if durations else 0
            if med > 0:
                self.skews[module].append(max(durations) / med)
        for k, v in tot.items():
            self.add(f"{module}.{k}", v)

    # -------------------------------------------------------- report
    def per_layer(self, cores: int) -> dict:
        """The counted per-layer metrics; the session, process and
        end-to-end ones are filled in by the caller."""
        c = self.counters
        out = dict.fromkeys(per_layer_names(), 0.0)
        out.update({k: v for k, v in c.items() if k in out})
        for mod in QUERY_MODULES:
            skews = self.skews[mod]
            out[f"{mod}.task_skew"] = statistics.median(skews) if skews else 0
            exec_s = c.get(f"{mod}.exec_s", 0.0)
            out[f"{mod}.core_busy_share"] = (
                c.get(f"{mod}.executor_run_s", 0.0) / (exec_s * cores)
                if exec_s else 0.0
            )
        out["tracing.self_s"] = self.self_s
        return out

    def dump(self, path: str) -> None:
        """Write the spans with their self time (duration minus the
        time covered by direct children) and a per-layer self-time
        summary."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children[s["parent"]] = (
                    children.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        by_layer: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            s["duration_s"] = s["end"] - s["start"]
            s["self_s"] = s["duration_s"] - children.get(s["id"], 0.0)
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + s["self_s"]
        with open(path, "w") as fh:
            json.dump({"self_s_by_layer": by_layer, "spans": self.spans},
                      fh, indent=1, default=str)
