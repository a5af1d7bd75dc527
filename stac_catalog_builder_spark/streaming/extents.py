"""Streaming catalog-extent maintenance: the one exactly-once epoch sink.

The reference rebuilds every collection's extent from all of its items on
each update (stacbuilder/builder.py:484-510 — a full-history pass per run).
The streaming form here is the shape a living 100 TB catalog needs: newly
assigned assets arrive as a file stream (Kafka in production), each
micro-batch is reduced to a PER-KEY INCREMENT (one dimension-sized
aggregate — the raw batch is never stored), and increments land in the
SnapshotStore as per-epoch partitions. Any state whose read-side merge is
algebraic over increments is maintained this way, by passing its register
function as ``increment_fn`` and merging ``store.read_stage(...)`` with its
merge:

- extents: ``grouping.collection_extents`` / ``merge_extent_summaries``
  (sum/min/max);
- HLL registers: ``sketches.hll_registers`` / ``hll_merge`` (max —
  idempotent, so even a double-landed increment could not skew it);
- CMS, histogram, moment and fixity registers: ``sketches.*_registers`` /
  ``*_merge`` (sum or xor — not idempotent, so they lean on the guards
  below);
- mosaics: ``composite.composite_state`` / ``composite_merge`` (canvas
  addition).

The CURRENT state is then an exact merge of all committed increments,
bit-equal to a from-scratch recompute over the full history at any point
in time.

Exactly-once comes from two guards: epochs the store reports as committed
(a row in its one commit table) are skipped up front, and the store's
dynamic-partition-overwrite commit makes a replayed half-written epoch
replace rather than append — a replay can never double-count an increment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_increment_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    store,
    stage: str,
    increment_fn,
) -> None:
    """Drive ``stream`` to completion, committing ``increment_fn(batch_df)``
    of each micro-batch to the SnapshotStore under its epoch: a
    dimension-sized increment of a stateless stream, or the batch itself
    (identity) for the updated rows of a streaming aggregate. Update output
    mode is append for a stream without aggregation, and emits a streaming
    aggregate's rows as they change."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if str(int(epoch_id)) in store.committed(spark, stage):
            return  # epoch replayed after a successful commit: no-op
        store.write_stage(
            increment_fn(batch_df).withColumn("part_key", F.lit(int(epoch_id))),
            stage,
            "part_key",
            snapshot_note=f"epoch={epoch_id}",
        )

    q = stream.writeStream.outputMode("update").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
