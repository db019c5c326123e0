"""The cluster-safe checkpoint switch (r15, VERDICT r14 item 4).

``SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir>`` must flip every per-run
materialization — the iterative loops' per-round checkpoints and the
per-run intermediates alike — from unreplicated localCheckpoint
blocks to Spark's reliable checkpointing (files under the directory),
with identical results; unset, no reliable-checkpoint files appear.
"""

from __future__ import annotations

import os

import pytest

from customer_churn_prediction_spark.text import dedup

from .conftest import SF_SMOKE
from .oracle_utils import assert_df_equal


def _checkpoint_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirnames, filenames in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in filenames)
    return out


# one query per materializer: the components loop checkpoints each
# round through loop_checkpoint, containment_pairs its verification
# tail through run_materialize
@pytest.mark.parametrize(
    "query",
    [dedup.lsh_dedup_components, dedup.containment_pairs],
    ids=["loop_checkpoint", "run_materialize"],
)
def test_flag_flips_loop_checkpoints_to_reliable(
    query, spark, tmp_path, monkeypatch
):
    ck = str(tmp_path / "reliable_ck")
    baseline = query(spark, SF_SMOKE)
    base_rows = baseline.collect()
    assert not os.path.exists(ck)

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", ck)
    routed = query(spark, SF_SMOKE)
    assert_df_equal(routed, baseline)
    files = _checkpoint_files(ck)
    assert files, (
        "reliable-checkpoint files must exist under the configured dir "
        "after the loop runs with the flag set"
    )

    # flag off again: fresh runs go back to localCheckpoint (no new
    # files under the reliable dir)
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    before = set(files)
    again = query(spark, SF_SMOKE)
    assert [tuple(r) for r in again.collect()] is not None
    assert set(_checkpoint_files(ck)) == before
    assert sorted(map(tuple, base_rows)) == sorted(
        map(tuple, baseline.collect())
    )
