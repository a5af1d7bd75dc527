"""Run-scoped operator state: all an operator keeps after its call.

- Caches: an LSH operator persists its signature table, which feeds the
  size aggregation AND both self-join sides (else the signature UDF, the
  dominant cost at 100 TB, runs 2-3x per call). It must outlive the call
  (the caller materializes the lazy result later), so ``scoped_persist``
  binds it to a tag. A scope holds one cache per plan: a tag persisted
  with a plan that a live tag of the scope already binds
  (``DataFrame.sameSemantics``) reuses that cache, nothing is recomputed;
  a tag re-persisted with a different plan replaces its cache. ``release``
  is refcounted: it unpersists a plan only when no other tag of the scope
  still binds it. The reuse path persists again, a no-op while Spark holds
  the cache, which re-registers it after an outside
  ``spark.catalog.clearCache()``.
- Decisions: ``record`` publishes a data-dependent choice (salting, CC
  rounds, kNN routing) as a dict or an unevaluated one-row frame (so it
  runs no job); ``decision`` reads it back as a dict.

``with run():`` binds a fresh scope to the current context (a ``ContextVar``:
each thread sees its own) and releases its caches on exit, also on error.
Code outside any ``run()`` shares one root scope. Spark keys caches per
session by plan, so two scopes persisting the same plan share one cache,
which the first scope's release frees for both (the other recomputes it
from lineage).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class _Scope:
    def __init__(self) -> None:
        self.caches: dict[str, DataFrame] = {}
        self.decisions: dict[str, DataFrame | dict] = {}


_SCOPE: ContextVar[_Scope] = ContextVar("scb_run_scope", default=_Scope())


@contextmanager
def run() -> Iterator[None]:
    """Give the body its own caches and decisions; release its caches on exit."""
    token = _SCOPE.set(_Scope())
    try:
        yield
    finally:
        release()
        _SCOPE.reset(token)


def scoped_persist(
    tag: str, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """Persist ``df`` under ``tag``. If ``tag`` already binds the same plan,
    its cache is kept; else the tag's previous cache is released first. A
    plan that another tag of this scope binds is not computed again: Spark
    serves ``df`` from that live cache."""
    caches = _SCOPE.get().caches
    if tag in caches and not caches[tag].sameSemantics(df):
        release(tag)
    # a no-op while Spark holds the plan's cache; re-registers it after an
    # outside clearCache()
    caches[tag] = out = df.persist(level)
    return out


def release(tag: str | None = None) -> int:
    """Unbind ``tag`` (or every tag) in this scope and unpersist each plan
    that no remaining tag binds; returns how many tags were unbound. Safe
    before the results are consumed — Spark recomputes evicted partitions
    from lineage; only the speedup is lost."""
    caches = _SCOPE.get().caches
    tags = [tag] if tag is not None else list(caches)
    dropped = [caches.pop(t) for t in tags if t in caches]
    for df in dropped:
        if not any(df.sameSemantics(live) for live in caches.values()):
            df.unpersist()
    return len(dropped)


def record(name: str, value: DataFrame | dict) -> None:
    """Publish a decision (a dict or a lazy one-row frame) under ``name``."""
    _SCOPE.get().decisions[name] = value


def decision(name: str) -> dict:
    """This scope's last decision under ``name`` as a dict (``KeyError`` if
    none). A recorded frame is evaluated now, one Spark job: read it before
    releasing the operator's caches, or it recomputes their lineage."""
    value = _SCOPE.get().decisions[name]
    return value.first().asDict() if isinstance(value, DataFrame) else dict(value)
