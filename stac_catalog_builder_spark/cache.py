"""Scoped cache lifecycle for operator-internal ``persist()`` tables.

LSH operators persist an intermediate (the materialized signature table)
because it feeds several downstream subtrees — the size
aggregation AND both self-join sides; without the cache the vectorized
signature UDF (the dominant cost at 100 TB) would run 2-3x per call. The
cache must outlive the operator call (Spark evaluates lazily: the caller
materializes the returned DataFrame later), so a plain try/finally unpersist
would defeat it. Instead every persisted intermediate registers here under
its operator tag:

- a REPEATED call to the same operator releases the previous call's cache
  first (long-lived sessions never accumulate signature tables);
- ``release()`` / ``release(tag)`` frees everything (or one tag) once the
  caller has materialized its results — bench/tests call this between
  queries, a long-running service calls it on its own cadence.

This is the Spark-idiomatic middle ground between leaking caches forever and
recomputing the signature stage per subtree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: dict[str, DataFrame] = {}


def scoped_persist(
    tag: str,
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> DataFrame:
    """Persist ``df`` under ``tag``, releasing any previous cache held by the
    same tag (bounds a session to one live cache per operator)."""
    prev = _LIVE.pop(tag, None)
    if prev is not None:
        prev.unpersist()
    out = df.persist(level)
    _LIVE[tag] = out
    return out


def release(tag: str | None = None) -> int:
    """Unpersist one tag's cache (or all). Returns the number released.
    Safe to call before the returned DataFrames are fully consumed — Spark
    recomputes evicted partitions from lineage; only the speedup is lost."""
    tags = [tag] if tag is not None else list(_LIVE)
    n = 0
    for t in tags:
        df = _LIVE.pop(t, None)
        if df is not None:
            df.unpersist()
            n += 1
    return n


def live_tags() -> list[str]:
    return sorted(_LIVE)
