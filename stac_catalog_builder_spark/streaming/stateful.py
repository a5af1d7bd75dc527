"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming, but its incremental dedup-on-append
(drop already-seen product ids while paging the catalogue,
reference stacbuilder/terracatalog.py:517-521) is exactly a *streaming
exact-dedup*: keep per-key state of seen content hashes, emit only
first-seen rows. Implemented with GroupState so it runs under Structured
Streaming with checkpointed state; the same function doubles as a batch
dedup when applied with ``applyInPandas`` (no state) for tests.

State shape: one row per hash-prefix group, holding the set of seen
md5 hashes (bounded by grouping on a hash prefix -> state per group stays
small and shards across executors).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "doc_id long, content_hash string"
STATE_SCHEMA = "seen array<string>"


def dedup_state_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit only rows whose content_hash was never seen in this group."""
    seen = set(state.get[0]) if state.exists else set()
    for pdf in batches:
        fresh = pdf[~pdf["content_hash"].isin(seen)]
        # also dedup within the batch, first occurrence wins
        fresh = fresh.drop_duplicates(subset=["content_hash"], keep="first")
        if len(fresh):
            seen.update(fresh["content_hash"].tolist())
            yield fresh[["doc_id", "content_hash"]]
    state.update((sorted(seen),))


def streaming_dedup(docs: DataFrame, shards: int = 16) -> DataFrame:
    """Streaming exact-dedup: group on a hash prefix (state sharding), keep
    per-group seen-set state, emit first-seen rows only.

    ``docs`` must be a streaming DataFrame with (doc_id, text).
    """
    hashed = docs.select(
        "doc_id", F.md5(F.col("text")).alias("content_hash")
    ).withColumn("shard", F.pmod(F.xxhash64("content_hash"), F.lit(shards)))
    return (
        hashed.groupBy("shard")
        .applyInPandasWithState(
            dedup_state_fn,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
