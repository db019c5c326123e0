"""Continuously-maintained drift monitor: streaming PSI vs a frozen
baseline.

The batch monitoring tier (ml/monitoring.py) answers "did the
distribution drift" once; a production pipeline wants that report
MAINTAINED as events arrive, so degradation is seen at ingest time —
the streaming twin of ``drift_psi``, built the way the rollup
maintenance sink is (rollup.py / stream_to_batch_sink):

  * the baseline histogram is computed ONCE from a frozen batch window
    and carried into the query as a tiny plan literal (it is the
    reference model artifact — it must not move with the stream);
  * the stream side is a 10-bucket running aggregate in ``complete``
    output mode (state = 10 rows, the smallest stateful query there
    is), so every epoch hands ``foreachBatch`` the FULL current
    histogram;
  * the sink recomputes the per-bucket PSI report from (baseline,
    current) — ml/monitoring.py's ``psi_from_counts``, the ONE PSI
    definition in the repo — writes it to a per-epoch directory, and
    atomically flips a ``_LATEST`` pointer file (``os.replace``).
    Readers resolve the pointer via :func:`read_report`, so a reader
    never observes a half-written report (a plain
    ``mode("overwrite")`` is delete-then-write, NOT atomic), and epoch
    replay is idempotent because the report is a pure function of the
    complete aggregate.

Scale: the only stream state is NBINS rows; the shuffle per epoch is
the map-side-combined bucket aggregate of that epoch's new files; the
report write is O(NBINS). A 100 TB/day stream bottlenecks on source
IO, never on this query.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..constants import EVENTS_START
from ..ml.monitoring import psi_from_counts
from .windows import stream_to_batch_sink

# events.value spans ~[0, 490]; fixed literal edges, 10 buckets.
DRIFT_NBINS = 10
DRIFT_WIDTH = 50.0
DRIFT_EPS = 0.5
# Baseline = the first half of the events window.
BASELINE_END_EXCL = "2024-01-16"


def _bucket(col: str):
    return F.least(
        F.floor(F.col(col) / F.lit(DRIFT_WIDTH)), F.lit(DRIFT_NBINS - 1)
    ).cast("int")


def baseline_histogram(spark: SparkSession, sf_dir: str) -> list[tuple[int, int]]:
    """(bucket, count) rows of the frozen baseline window — the model
    artifact the stream is compared against."""
    e = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit(EVENTS_START).cast("timestamp"))
        & (F.col("ts") < F.lit(BASELINE_END_EXCL).cast("timestamp"))
    )
    rows = (
        e.select(_bucket("value").alias("bucket"))
        .groupBy("bucket")
        .count()
        .collect()
    )
    return sorted((int(r.bucket), int(r["count"])) for r in rows)


def streaming_value_histogram(events_stream: DataFrame) -> DataFrame:
    """The running 10-row bucket aggregate (use outputMode='complete')."""
    return (
        events_stream.select(_bucket("value").alias("bucket"))
        .groupBy("bucket")
        .count()
    )


def psi_report(
    spark: SparkSession,
    baseline: list[tuple[int, int]],
    current_hist: DataFrame,
) -> DataFrame:
    """Per-bucket PSI of current vs baseline, computed by the SHARED
    formula (ml/monitoring.py::psi_from_counts) over the two tiny
    histograms."""
    base_df = spark.createDataFrame(
        baseline, "bucket int, base_n long"
    )
    joined = (
        base_df.join(
            current_hist.select(
                "bucket", F.col("count").alias("curr_n")
            ),
            "bucket",
            "full",
        )
        .select(
            "bucket",
            F.coalesce("base_n", F.lit(0)).alias("base_n"),
            F.coalesce("curr_n", F.lit(0)).alias("curr_n"),
        )
    )
    return psi_from_counts(
        joined, nbins=DRIFT_NBINS, eps=DRIFT_EPS, with_fracs=False
    )


_LATEST = "_LATEST"


def read_report(spark: SparkSession, report_path: str) -> DataFrame:
    """Resolve the atomic ``_LATEST`` pointer and read that epoch's
    report directory."""
    with open(os.path.join(report_path, _LATEST)) as f:
        current = f.read().strip()
    return spark.read.parquet(os.path.join(report_path, current))


def publish_epoch_report(
    report_df: DataFrame, report_path: str, epoch_id: int,
    keep_history: bool = False,
) -> None:
    """The ONE atomic report-publish discipline for every maintenance
    sink (drift PSI, streaming DQ): write the epoch's report dir, flip
    the ``_LATEST`` pointer via ``os.replace`` (readers never observe a
    half-written report — plain overwrite is delete-then-write), GC
    epochs older than the previous one. Idempotent under epoch replay
    whenever the report is a pure function of the running aggregate.

    ``keep_history=True`` switches the sink to APPEND-ONLY: no GC,
    every epoch's report is retained alongside the ``_LATEST`` pointer
    — required when epochs are RECORDS, not snapshots of a running
    aggregate (the erasure audit trail: each epoch documents a
    distinct compliance action; destroying it on the next epoch would
    defeat the trail's purpose). Replay stays idempotent — a replayed
    epoch overwrites exactly its own ``epoch=`` dir. Retention then
    becomes a deliberate policy call (``sources/layout.vacuum_epochs``
    against a frontier), never an implicit side effect."""
    os.makedirs(report_path, exist_ok=True)
    epoch_dir = f"epoch={epoch_id}"
    # repartition(1), not coalesce(1): the erasure sink's report frames
    # are unions of createDataFrame(local-list) parts, and coalescing a
    # parallelized local collection evaluates all its Python partitions
    # SERIALLY inside the one task (~100 ms of worker spin-up each at
    # local[32] — the append_ledger trap, sources/layout.py). The
    # shuffle is ~10 report rows; for JVM-computed reports (drift/DQ)
    # the cost difference is noise in either direction.
    report_df.repartition(1).write.mode("overwrite").parquet(
        os.path.join(report_path, epoch_dir)
    )
    tmp = os.path.join(report_path, f".{_LATEST}.tmp")
    with open(tmp, "w") as f:
        f.write(epoch_dir)
    os.replace(tmp, os.path.join(report_path, _LATEST))  # atomic flip
    if keep_history:
        return
    for d in os.listdir(report_path):
        if (
            d.startswith("epoch=")
            and d != epoch_dir
            and int(d.split("=")[1]) < epoch_id - 1
        ):
            shutil.rmtree(os.path.join(report_path, d), ignore_errors=True)


def maintain_drift_psi(
    spark: SparkSession,
    events_stream: DataFrame,
    baseline: list[tuple[int, int]],
    report_path: str,
    checkpoint: str | None = None,
):
    """Start the maintenance query: every epoch overwrites
    ``report_path`` with the PSI report of stream-so-far vs baseline."""
    hist = streaming_value_histogram(events_stream)

    def write_report(batch_df: DataFrame, epoch_id: int) -> None:
        publish_epoch_report(
            psi_report(spark, baseline, batch_df), report_path, epoch_id
        )

    return stream_to_batch_sink(
        hist,
        write_report,
        query_name="drift-psi-maintenance",
        output_mode="complete",
        checkpoint=checkpoint,
    )
