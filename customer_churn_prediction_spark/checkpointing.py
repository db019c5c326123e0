"""Per-run materialization with a cluster-safe escape hatch (r15,
VERDICT r14 item 3/4).

The iterative operators (connected-components label propagation, BPE
merge rounds) truncate their per-round lineage with a lazy
checkpoint, and the multiply-consumed per-run intermediates (the
dedup and containment verification tails) are materialized the same
way. The local default is lazy ``localCheckpoint`` — no reliable
storage round-trip — but its blocks are UNREPLICATED executor-local
state, and ``localCheckpoint`` TRUNCATES lineage: on a real cluster a
lost block cannot be recomputed, so an executor loss fails the job
whichever of the two made the block. ``SPARK_GRAFT_RELIABLE_CHECKPOINT`` (a writable
directory, e.g. an HDFS/S3 path) routes every one of these
materializations to Spark's reliable checkpointing instead; local
default unchanged. SCALE.md §10.14 documents the deployment rule.

The churn model fits use the same checkpoint for their inputs
(``ml/jobs.py``): the memoized training frame and the two vectorized
splits. A fit runs dozens of jobs over them, and a checkpoint leaves
each job a scan of stored blocks instead of the whole feature ⋈ label
plan a cached frame keeps. Those blocks live inside the fit memo for
as long as the dataset is unchanged, longer than any loop round, so
the reliable route matters more for them: an executor lost between
two fits would otherwise fail the next one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"

# setCheckpointDir(path) creates a fresh UUID subdirectory per call, so
# it must run once per (context, configured path), not per checkpoint.
_DIR_SET_FOR: tuple[str, str] | None = None

# Count of per-run materializations performed since process start.
# plans/registry's plan memo snapshots this around a query build: a
# build that materialized ANY per-run intermediate must never be
# memoized (its plan hangs off per-run blocks — data, not a plan).
# Inspecting the plan string for LogicalRDD is NOT a substitute:
# driver-local model literals (createDataFrame of fitted centroids /
# LUTs / merge tables) are also LogicalRDDs but are deterministic
# per (app, sf_dir, mtime) through the sanctioned fit memos — the
# counter distinguishes the two where plan text cannot.
# tests/test_plan_memo.py pins the convention: query modules must
# call run_materialize()/loop_checkpoint(), never .localCheckpoint
# directly.
_MATERIALIZE_COUNT = 0


def materialize_count() -> int:
    return _MATERIALIZE_COUNT


def loop_checkpoint(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` by default, lazy RELIABLE
    ``checkpoint`` into $SPARK_GRAFT_RELIABLE_CHECKPOINT when set (read
    per call, so a test/deployment can flip it without rebuilding the
    session), counted so the plan memo can refuse to memoize any build
    that created one. The first job over the returned frame fills it;
    its plan is then a ``LogicalRDD`` with no lineage."""
    global _DIR_SET_FOR, _MATERIALIZE_COUNT
    _MATERIALIZE_COUNT += 1
    reliable_dir = os.environ.get(_ENV)
    if not reliable_dir:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    key = (sc.applicationId, reliable_dir)
    if _DIR_SET_FOR != key:
        sc.setCheckpointDir(reliable_dir)
        _DIR_SET_FOR = key
    return df.checkpoint(eager=False)


# The per-run intermediates' name for the same materialization (the
# r14 guide-§3.3 pattern): one body, two names the callers and
# perfbench's tracer use.
run_materialize = loop_checkpoint
