"""Connected-components + dedup-group tests: labels must equal a driver-side
union-find oracle on random graphs (pure numpy, no graph library), and the
end-to-end dedup_groups pipeline must group injected near-duplicates."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stac_catalog_builder_spark import cache
from stac_catalog_builder_spark.operators.graph import connected_components, dedup_groups

SF = "/root/testdata/sf0.001"


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
        comp.setdefault(r, min(y for y in n_nodes if find(y) == r))
    return {x: comp[find(x)] for x in n_nodes}


@pytest.mark.parametrize("seed,n,m", [(1, 40, 30), (2, 200, 150), (3, 120, 400)])
def test_connected_components_matches_union_find(spark, seed, n, m):
    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b]
    nodes = sorted({x for e in edges for x in e})
    want = _union_find(nodes, edges)

    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert got == want
    stats = cache.decision("cc")
    assert stats["rounds"] <= 10
    assert stats["converged"] is True
    assert stats["nodes"] == len(nodes)
    cache.release()


def test_connected_components_chain_and_star(spark):
    """Pathological shapes: a long path (max tree height) and a star."""
    chain = [(i, i + 1) for i in range(0, 63)]
    star = [(1000, 1000 + i) for i in range(1, 50)]
    df = spark.createDataFrame(chain + star, "id_a bigint, id_b bigint")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert all(got[i] == 0 for i in range(64))
    assert all(got[1000 + i] == 1000 for i in range(50))
    cache.release()


def test_connected_components_nonconvergence_warns(spark):
    """ADVICE r3: exhausting max_iter must not silently return possibly-wrong
    labels — the converged flag flips and a RuntimeWarning fires. A 64-node
    chain cannot reach its fixed point in one round."""
    import warnings as _w

    chain = [(i, i + 1) for i in range(0, 63)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    with _w.catch_warnings(record=True) as rec:
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
