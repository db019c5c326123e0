"""Plan auditing: count the RUNTIME shuffles a DataFrame will pay.

`count_shuffle_exchanges` walks the executed-plan string and counts
shuffle Exchange operators (`hashpartitioning`, `rangepartitioning`,
`SinglePartition`, `RoundRobinPartitioning` — NOT BroadcastExchange,
which moves a dimension-sized build side, not the data), skipping
everything printed under an `InMemoryRelation`: a cached frame's
nested plan is its recompute FALLBACK, not work the query performs —
the iterative operators (`lsh_dedup_components`) cache each round, so
their final frame's string embeds every round's lineage while the
runtime reads one InMemoryTableScan.

This is the number that matters at 100 TB: every counted Exchange is
a full reshuffle of the operator's data volume. The count is taken
from the STATIC plan, so a subtree a query references twice counts
twice even though AQE will collapse the second occurrence into a
ReusedExchange at runtime — i.e. the budget is a deterministic upper
bound on runtime shuffles, which is exactly the right direction for a
regression tripwire. `tests/
test_shuffle_budget.py` holds every registered query to a golden
per-query budget (`tests/shuffle_budgets.json`, regenerated
deliberately via `scripts/gen_plan_goldens.py`) so an edit that
sneaks an extra shuffle into a registered plan fails CI instead of
surfacing as a 2× wall regression three rounds later.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Tree-art prefix of a plan line (":- ", "+- ", ":  ", "   ", "|").
_TREE_ART = re.compile(r"^[\s:+|-]*")
_SHUFFLE = re.compile(
    r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition"
    r"|RoundRobinPartitioning)"
)


def count_shuffles_in_plan_string(plan: str) -> int:
    """Count shuffle Exchanges outside InMemoryRelation subtrees."""
    n = 0
    skip_depth: int | None = None
    for line in plan.splitlines():
        depth = _TREE_ART.match(line).end()
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if "InMemoryRelation" in line:
            skip_depth = depth
            continue
        if _SHUFFLE.search(line):
            n += 1
    return n


def static_plan_string(df: DataFrame) -> str:
    """``df``'s physical plan as planned, before any AQE re-planning.
    Once an adaptive plan has executed, its string prints both the
    ``== Final Plan ==`` and the ``== Initial Plan ==`` trees, which
    would double every count on a second look at the same frame; the
    initial plan is the same text whether or not ``df`` ran. A
    subquery's adaptive plan prints inside the root's initial plan in
    the same way, so it is put back in its unexecuted form too."""
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString()
    if text.startswith("AdaptiveSparkPlan"):
        text = plan.initialPlan().toString()
    if "+- == Initial Plan ==" in text:
        text = _unexecuted_subqueries(text)
    return text


_ADAPTIVE = re.compile(r"^([\s:+|-]*)AdaptiveSparkPlan isFinalPlan=")


def _unexecuted_subqueries(text: str) -> str:
    """Redraw each nested adaptive plan that ran — its final plan and
    then, under ``== Initial Plan ==``, its initial tree drawn from
    depth 0 — as before it ran: ``isFinalPlan=false`` over the initial
    tree drawn as its child. Plans nested one level deeper still are
    left as printed."""
    lines = text.split("\n")
    out: list[str] = []
    i = 0
    while i < len(lines):
        m = _ADAPTIVE.match(lines[i])
        if not m or i + 1 >= len(lines) or "+- == " not in lines[i + 1]:
            out.append(lines[i])
            i += 1
            continue
        art = m.group(1)
        out.append(f"{art}AdaptiveSparkPlan isFinalPlan=false")
        i += 1
        while "+- == Initial Plan ==" not in lines[i]:
            i += 1
        indent = " " * (lines[i].index("+-") + 3)
        i += 1
        above = art[:-3] + ("   " if art.endswith("+- ") else ":  ")
        edge = "+- "
        while i < len(lines) and lines[i].startswith(indent):
            out.append(above + edge + lines[i][len(indent):])
            edge = "   "
            i += 1
    return "\n".join(out)


def count_shuffle_exchanges(df: DataFrame) -> int:
    """Runtime shuffle count of ``df``'s statically planned shape —
    the comparable and deterministic form for regression testing."""
    return count_shuffles_in_plan_string(static_plan_string(df))


# A FileScan line carries everything scan hygiene needs on one line:
#   FileScan parquet [c_custkey#1L,c_mktsegment#7] ... Location:
#   InMemoryFileIndex(1 paths)[file:/.../customer.parquet], ...,
#   PushedFilters: [IsNotNull(c_custkey)], ReadSchema: ...
_SCAN_COLS = re.compile(r"FileScan \w+ \[([^\]]*)\]")
# Any filesystem scheme (file:, hdfs:, s3a:, abfss:, ...), not just the
# local fixtures' file: URIs — the profile matchers run wherever the
# engine runs. A multi-path index prints comma-separated URIs; the first
# one is enough to identify the table, and a path containing a literal
# comma would be truncated at it (don't name fixture dirs with commas).
_SCAN_PATH = re.compile(r"\[\w+:([^\],]+)")
_SCAN_PUSHED = re.compile(r"PushedFilters: \[([^\]]*)")


def scan_profiles(df: DataFrame, data_root: str) -> dict:
    """Column-pruning / filter-pushdown profile of every parquet scan
    ``df`` plans against source tables under ``data_root``: a map
    ``{table: {"cols": n, "pushed": bool}}`` with the WIDEST scan of
    each table (a query may scan a table twice at different widths —
    hygiene is judged by the worst one) and whether at least one of its
    scans reached the parquet reader with pushed filters. Scans inside
    InMemoryRelation subtrees count too: a cached frame's build paid
    its scan. Managed-store scans (warehouse paths) are excluded —
    their layouts are narrow by construction and their names embed
    fixture tags."""
    out: dict[str, dict] = {}
    for line in static_plan_string(df).splitlines():
        if "FileScan" not in line:
            continue
        path = _SCAN_PATH.search(line)
        if not path or data_root not in path.group(1):
            continue
        table = path.group(1).rstrip("/").rsplit("/", 1)[-1]
        table = table.removesuffix(".parquet")
        cols_m = _SCAN_COLS.search(line)
        cols = (
            len([c for c in cols_m.group(1).split(",") if c.strip()])
            if cols_m
            else 0
        )
        pushed_m = _SCAN_PUSHED.search(line)
        pushed = bool(pushed_m and pushed_m.group(1).strip())
        prev = out.setdefault(table, {"cols": 0, "pushed": False})
        prev["cols"] = max(prev["cols"], cols)
        prev["pushed"] = prev["pushed"] or pushed
    return out


def run_with_metrics(spark, build_fn, group: str) -> dict:
    """Execute a query under a job group and return its RUNTIME totals
    from the app status store: jobs, stages run, stages skipped, tasks,
    records read from sources, and shuffle bytes written (r15, VERDICT
    r14 item 2). A stage is skipped when its shuffle output already
    exists; the store keeps a SKIPPED attempt for it, which counts in
    ``skipped_stages`` only. Every stage listed by a job's plan counts
    once, so ``skipped_stages`` measures the lineage the jobs carry.

    The r14 localCheckpoint barriers erased parts of the final plan
    from .explain() text, so plan-text guards (shuffle budgets, scan
    hygiene) can no longer see a pushdown/semi-join/NLJ regression
    BELOW a barrier. Runtime totals see through every barrier: the
    work still runs as jobs, and a lost semi-join prune or exploding
    join shows up as more source records / more shuffle bytes.

    ``build_fn()`` must CONSTRUCT the DataFrame inside this call so
    collect-gated fit loops and checkpoint materializations are
    attributed to the group, then the frame is forced through the
    noop sink (every column evaluated, nothing materialized on the
    driver)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build_fn().write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = spark._jsparkSession.sparkContext().statusStore()
    totals = {
        "jobs": 0,
        "stages": 0,
        "skipped_stages": 0,
        "tasks": 0,
        "input_records": 0,
        "input_bytes": 0,
        "shuffle_write_bytes": 0,
    }
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        totals["jobs"] += 1
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:
                continue  # no attempt recorded
            if sd.status().toString() == "SKIPPED":
                totals["skipped_stages"] += 1
                continue
            totals["stages"] += 1
            totals["tasks"] += sd.numCompleteTasks()
            totals["input_records"] += sd.inputRecords()
            totals["input_bytes"] += sd.inputBytes()
            totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return totals
