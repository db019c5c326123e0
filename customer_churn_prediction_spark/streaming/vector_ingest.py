"""Vector-index-on-ingest: the ANN side of the continual-ingestion loop.

``similarity/pq.py::ivf_pq_store_ingest`` builds the at-rest IVF-PQ
index in one batch pass; production embeddings ARRIVE — new vectors
land as files and must become searchable without re-encoding the
corpus. This sink mounts the same computation on Structured Streaming:
each micro-batch is assigned to its coarse cell and PQ-encoded with
the FITTED model (codebook + centroids as plan literals — models are
fit once, applied forever), then appended to a
``(epoch_id, centroid_id)``-partitioned code store.

Exactly-once: each epoch owns its ``epoch_id=`` partition subtree, so
a replayed epoch overwrites its own output instead of duplicating it
(dynamic partition overwrite — the contract every maintenance sink in
this repo shares). A probe reads the store across all epochs with the
SAME partition pruning on ``centroid_id`` (Spark prunes on any subset
of partition columns), so search cost per probe stays N_PROBE cells'
files regardless of how ingestion was sliced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .maintenance import write_epoch

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def encode_batch(spark: SparkSession, sf_dir: str, batch: DataFrame) -> DataFrame:
    """(vec_id, code0..M-1 tinyint, centroid_id) for arriving vectors —
    a pure map with the fitted model as literals."""
    from ..similarity import ann, pq

    cb = pq.train_pq(spark, sf_dir)
    cells = ann._cells_expr(ann._centroids(spark, sf_dir))
    assigned = ann._with_norm(
        batch.select("vec_id", ann._vec("embedding").alias("v"))
    ).select(
        "vec_id",
        "v",
        (-F.element_at(cells, 1)["nid"]).alias("centroid_id"),
    )
    coded = pq._codes_frame(assigned, cb, extra=("centroid_id",))
    return coded.select(
        "vec_id",
        *[
            F.col(f"code{m}").cast("tinyint").alias(f"code{m}")
            for m in range(pq.PQ_M)
        ],
        "centroid_id",
    )


def vector_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    out_dir: str,
    checkpoint: str,
    query_name: str = "vector_ingest",
    max_files_per_trigger: int | None = None,
    fault=None,
):
    """Start the index-on-ingest query (availableNow trigger; ``fault``
    is the crash-injection hook the dedup ingest sink also exposes —
    fired after the write, before the offset commit)."""
    reader = spark.readStream.schema(EMB_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(stream_dir)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        coded = encode_batch(spark, sf_dir, batch_df)
        write_epoch(coded, out_dir, epoch_id, "centroid_id")
        if fault is not None:
            fault(epoch_id)

    return (
        stream.writeStream.foreachBatch(epoch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
