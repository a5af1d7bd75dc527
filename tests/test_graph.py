"""Connected-components + dedup-group tests: labels must equal a driver-side
union-find oracle on random graphs (pure numpy, no graph library), and the
end-to-end dedup_groups pipeline must group injected near-duplicates."""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from conftest import jobs_run_by
from pyspark.sql import functions as F

from stac_catalog_builder_spark import cache
from stac_catalog_builder_spark.operators.graph import connected_components, dedup_groups

SF = "/root/testdata/sf0.001"
BUDGET = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def _cc_path(spark, local: bool):
    """Run the body on the driver path (the default broadcast budget fits
    every test graph) or, with the budget at -1, on the distributed
    rounds; the conf is restored on exit."""
    prev = spark.conf.get(BUDGET)
    if not local:
        spark.conf.set(BUDGET, "-1")
    try:
        yield
    finally:
        spark.conf.set(BUDGET, prev)


def _union_find(n_nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {x: x for x in n_nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-id label per component
    comp: dict[int, int] = {}
    for x in n_nodes:
        r = find(x)
        comp[r] = min(comp.get(r, x), x)
    return {x: comp[find(x)] for x in n_nodes}


@pytest.mark.parametrize("seed,n,m", [(1, 40, 30), (2, 200, 150), (3, 120, 400)])
def test_connected_components_matches_union_find(spark, seed, n, m):
    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b]
    nodes = sorted({x for e in edges for x in e})
    want = _union_find(nodes, edges)

    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    for local in (True, False):
        with _cc_path(spark, local):
            got = {
                r.node: r.component for r in connected_components(df).collect()
            }
        assert got == want, local
        stats = cache.decision("cc")
        assert stats["local"] is local
        assert stats["rounds"] <= (0 if local else 10)
        assert stats["converged"] is True
        assert stats["nodes"] == len(nodes)
    cache.release()


def test_connected_components_chain_and_star(spark):
    """Pathological shapes: a long path (max tree height) and a star, on
    both paths."""
    chain = [(i, i + 1) for i in range(0, 63)]
    star = [(1000, 1000 + i) for i in range(1, 50)]
    df = spark.createDataFrame(chain + star, "id_a bigint, id_b bigint")
    for local in (True, False):
        with _cc_path(spark, local):
            got = {r.node: r.component for r in connected_components(df).collect()}
        assert cache.decision("cc")["local"] is local
        assert all(got[i] == 0 for i in range(64)), local
        assert all(got[1000 + i] == 1000 for i in range(50)), local
    cache.release()


def test_connected_components_long_shuffled_path_on_the_driver(spark):
    """A 100k-node path with shuffled ids (the distributed rounds' worst
    shape: dozens of rounds) is labelled on the driver in seconds, equal to
    union-find."""
    rng = np.random.default_rng(12)
    ids = rng.permutation(100_000).astype(np.int64) * 3 + 7
    df = spark.createDataFrame(pd.DataFrame({"id_a": ids[:-1], "id_b": ids[1:]}))
    start = time.monotonic()
    got = connected_components(df).toPandas()
    elapsed = time.monotonic() - start
    want = _union_find(ids.tolist(), list(zip(ids[:-1].tolist(), ids[1:].tolist())))
    assert dict(zip(got["node"].tolist(), got["component"].tolist())) == want
    assert cache.decision("cc") == dict(
        local=True, rounds=0, edges_in=99_999, nodes=100_000, converged=True
    )
    assert elapsed < 60, elapsed
    cache.release()


def test_connected_components_empty_edge_set(spark):
    df = spark.createDataFrame([], "id_a bigint, id_b bigint")
    for local in (True, False):
        with _cc_path(spark, local):
            out = connected_components(df)
            assert out.collect() == []
        assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"
        stats = cache.decision("cc")
        assert stats == dict(
            local=local, rounds=0, edges_in=0, nodes=0, converged=True
        )
    cache.release()


def test_connected_components_driver_path_jobs(spark):
    """On the driver path the call runs three jobs: the map stage of the
    canonicalizing distinct, the edge count and ONE collect. The labels
    are a LocalRelation: collecting them runs no job. The rounds on the
    same 64-node chain ran 40 jobs at call time."""
    chain = [(i, i + 1) for i in range(0, 63)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    labels, call_jobs = jobs_run_by(spark, "cc-driver-call", lambda: connected_components(df))
    rows, use_jobs = jobs_run_by(spark, "cc-driver-use", labels.collect)
    assert cache.decision("cc")["local"] is True
    assert len(call_jobs) <= 3, call_jobs
    assert use_jobs == [], use_jobs
    assert {r.component for r in rows} == {0}
    cache.release()


def test_connected_components_nonconvergence_warns(spark):
    """ADVICE r3: exhausting max_iter must not silently return possibly-wrong
    labels — the converged flag flips and a RuntimeWarning fires. A 64-node
    chain cannot reach its fixed point in one round (the rounds are forced:
    the driver path always labels exactly)."""
    import warnings as _w

    chain = [(i, i + 1) for i in range(0, 63)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    with _w.catch_warnings(record=True) as rec, _cc_path(spark, local=False):
        _w.simplefilter("always")
        connected_components(df, max_iter=1).collect()
    assert cache.decision("cc")["converged"] is False
    assert cache.decision("cc")["rounds"] == 1
    assert any("max_iter" in str(w.message) for w in rec)
    cache.release()


def test_dedup_groups_end_to_end(spark):
    """Inject exact + near duplicates of real docs: members group under the
    min doc_id, is_kept marks exactly one survivor per group, singletons
    keep themselves."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    near = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    exact = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(near).unionByName(exact)
    out = dedup_groups(corpus, jaccard_threshold=0.7).toPandas()
    byid = out.set_index("doc_id")

    n_docs = docs.count()
    # injected duplicates land in their source doc's group (the synthetic
    # base corpus has genuine template near-dups of its own, so groups can
    # span several source docs — assert group MEMBERSHIP, not group size)
    for i in range(20):
        assert byid.loc[i + 1_000_000, "group_id"] == byid.loc[i, "group_id"]
        assert byid.loc[i + 2_000_000, "group_id"] == byid.loc[i, "group_id"]
        assert not bool(byid.loc[i + 1_000_000, "is_kept"])
        assert not bool(byid.loc[i + 2_000_000, "is_kept"])
    # min-label determinism + exactly one kept survivor (= the label) per
    # group; total rows = corpus size
    assert len(out) == n_docs + 40
    assert (out["group_id"] <= out["doc_id"]).all()
    assert bool(byid.loc[0, "is_kept"])  # doc 0 is always a group minimum
    kept = out.groupby("group_id")["is_kept"].sum()
    assert (kept == 1).all()
    assert (out[out["is_kept"]]["group_id"] == out[out["is_kept"]]["doc_id"]).all()
    cache.release()
