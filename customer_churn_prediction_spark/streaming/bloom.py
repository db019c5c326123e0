"""Streaming membership: the Bloom filter maintained on ingest.

``operators/sketches.py::bloom_buyer_membership`` builds the filter
from a batch scan; the production shape is "have we EVER seen this
key" maintained as keys arrive — the dedup / join-pruning primitive
at the ingest boundary. Set-union is the merge algebra (a bit, once
set, stays set), so the loop is the CMS/HLL maintenance shape:

  * each epoch hashes ONLY its own new keys into a <= k·|batch-keys|
    row bit-position set (distinct-reduced, so bounded by m) and
    lands it in an epoch-partitioned store (dynamic partition
    overwrite — a replayed epoch OVERWRITES its own partition, the
    shared idempotence contract; set-union would absorb duplicates
    anyway, but one discipline audits once);
  * the CURRENT filter is the distinct union of the stored partials
    (<= m rows total);
  * probes answer from the maintained bits exactly as the batch
    report does.

State: <= m rows PER EPOCH PARTITION (distinct within the epoch) —
at rest the store grows with epoch count until ``compact`` folds the
history into the single <= m-row base partition via the shared
staged swap, the same pre-compaction growth contract as the CMS and
HLL stores.

Governance: a Bloom filter CANNOT unlearn — a set bit may be shared
by other keys, so clearing it would break the no-false-negatives
guarantee for them (same for CMS counts and HLL registers; all three
are lossy folds). The erasure path for every sketch store is REBUILD
from the already-scrubbed source (the ``sources/forget`` ledger keeps
the source clean; ``tests/test_streaming_bloom.py`` pins both halves:
the maintained filter still flags an erased key, and a rebuild from
the clean key set stops flagging it). Until the rebuild, the filter
merely over-approximates — membership "maybe", never identity — which
is why a sketch store is not itself personal data the way the IVF
store's vectors are (THAT one erases in place,
``ann_ingest.forget_from_store``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import bloom_bits, bloom_probe
from .maintenance import (
    compact_epochs,
    read_epochs,
    rebuild_base,
    write_epoch,
)
from .windows import stream_to_batch_sink

BITS_SUBDIR = "bloom_epochs"


def _union_bits(rows: DataFrame) -> DataFrame:
    return rows.select("bit").distinct()


def merged_bits(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current filter: distinct union of every stored partial.

    A store with no epochs yet is an EMPTY filter — no bit set — so a
    pre-first-epoch probe answers "not flagged" instead of raising."""
    return read_epochs(
        spark, os.path.join(store_dir, BITS_SUBDIR), _union_bits,
        "bit bigint",
    )


def probe_keys(
    spark: SparkSession, store_dir: str, keys: DataFrame
) -> DataFrame:
    """(key, flagged) for every row of ``keys(key)`` against the
    maintained filter — the SHARED membership predicate
    (``operators/sketches.bloom_probe``), so batch and stream answers
    can never drift. A key ingested in ANY prior epoch is always
    flagged (no false negatives); an unseen key is flagged only at
    the filter's FPR."""
    return bloom_probe(keys, merged_bits(spark, store_dir))


def maintain_membership(
    spark: SparkSession,
    keys_stream: DataFrame,
    store_dir: str,
    checkpoint: str | None = None,
    fault=None,
):
    """Start the maintenance query over a stream with a ``key`` string
    column. ``fault`` is the sibling sinks' crash-injection hook."""
    bits_path = os.path.join(store_dir, BITS_SUBDIR)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_keys = batch_df.where(F.col("key").isNotNull())
        if batch_keys.isEmpty():
            return
        write_epoch(bloom_bits(batch_keys).repartition(1), bits_path, epoch_id)
        if fault is not None:
            fault(epoch_id)

    return stream_to_batch_sink(
        keys_stream,
        epoch,
        query_name="bloom-membership-maintenance",
        output_mode="append",
        checkpoint=checkpoint,
    )


def compact(spark: SparkSession, store_dir: str, upto_epoch: int) -> None:
    """Fold every stored partial with ``epoch_id <= upto_epoch``
    (including any previous base) into the single base partition —
    distinct union, the same merge the read path does."""
    compact_epochs(
        spark, os.path.join(store_dir, BITS_SUBDIR), upto_epoch, _union_bits
    )


def rebuild(
    spark: SparkSession, store_dir: str, clean_keys: DataFrame
) -> None:
    """Erasure for a Bloom store (module docstring: sketches REBUILD,
    they cannot unlearn): recompute the filter from the scrubbed
    ``clean_keys(key)`` source and staged-swap it in as the base
    epoch. After the rebuild an erased key flags only at the FPR and
    every remaining key keeps the no-false-negative guarantee."""
    rebuild_base(
        os.path.join(store_dir, BITS_SUBDIR), bloom_bits(clean_keys)
    )
