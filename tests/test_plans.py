"""Physical-plan regression guards: the properties that make the engine fast
at 100 TB, asserted on the actual executed plans so they can't silently rot.

- hot paths stay JVM-side (zero Python evals in the flagship plan),
- dimension joins broadcast while they fit the session's broadcast budget,
- scans are column-pruned and filters are pushed to parquet.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as e
from stac_catalog_builder_spark import synth

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def flagship_plan(spark):
    from stac_catalog_builder_spark.operators.spatial_join import (
        prepare_polygon_dim,
        spatial_join_pip,
    )
    from stac_catalog_builder_spark.operators.tiling import with_tile

    dim = prepare_polygon_dim(spark, synth.boundary_polygons(SF))
    assigned = spatial_join_pip(e._images_fp(spark, SF), dim=dim)
    tiled = with_tile(assigned, zoom=6).select(
        "image_id", "tile_id", "collection_id", "tile_x", "tile_y"
    )
    return _plan(tiled)


def test_flagship_has_no_python_in_hot_path(flagship_plan):
    assert "Python" not in flagship_plan  # no BatchEvalPython/ArrowEvalPython


def test_flagship_joins_broadcast_only(flagship_plan):
    assert flagship_plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in flagship_plan
    assert "CartesianProduct" not in flagship_plan


def test_flagship_scan_is_column_pruned(flagship_plan):
    # the synthetic image table derives everything from o_orderkey: the scan
    # must read exactly that one column (Catalyst column pruning end-to-end)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", flagship_plan)
    assert schemas and all(s == "o_orderkey:bigint" for s in schemas)


def test_relational_filter_pushdown(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plan = _plan(orders.select("o_orderkey"))
    assert "PushedFilters: [" in plan
    assert "o_orderpriority" in plan.split("PushedFilters:")[1][:200]


def test_dimension_join_is_broadcast(spark):
    plan = _plan(e.queries()["config_join"](spark, SF))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_ngram_pairs_plan_has_no_nested_loop_join(spark):
    """The pair generation must be an equi-join (explode+join), not a
    BroadcastNestedLoopJoin over a theta condition (O(N^2) at scale)."""
    plan = _plan(e.queries()["ngram_jaccard_pairs"](spark, SF))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_knn_shuffle_is_bounded(spark):
    """knn's exchange input is the partial top-k output, not the fact table:
    the plan has the mapInPandas stage BELOW the window exchange."""
    plan = _plan(e.queries()["knn"](spark, SF))
    assert "MapInPandas" in plan
    assert plan.index("Window") < plan.index("MapInPandas")  # topmost first


def test_item_grouping_plan_has_no_expand(spark):
    """VERDICT r2 #4: the consistency checks must not plan an Expand (dual
    exact countDistinct would triple every input row before the catalog
    path's biggest shuffle); collect_set over bounded domains is one pass."""
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators.footprints import with_footprint
    from stac_catalog_builder_spark.operators.grouping import items_from_assets

    items = items_from_assets(with_footprint(synth.images(spark, SF)))
    assert "Expand" not in _plan(items)


def test_cellring_plan_jvm_with_group_limit(spark):
    """The pruned kNN candidate path must stay pure JVM (no Arrow/Python
    eval) and plan a map-side WindowGroupLimit so a dense hot cluster never
    shuffles into one window task."""
    plan = _plan(e.queries()["knn_cellring"](spark, SF))
    # map-side (Partial) group limit before the window exchange
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    # distance is a JVM codegen expression, not a pandas UDF
    assert "ASIN(SQRT" in plan
    # the only Python in the plan is the cell-derivation encode UDF (absent
    # entirely when the lake stores a precomputed cell column)
    for line in plan.splitlines():
        if "ArrowEvalPython" in line or "BatchEvalPython" in line:
            assert "_enc(" in line, line
    # the exact fallback for uncertified queries is in the same JVM plan
    assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan


def test_cellring_fallback_dropped_when_all_certify(spark):
    """When every query certifies in its ring, the pending-query frame is
    empty at run time and AQE replaces the fallback scan with an empty
    relation in the final plan."""
    import numpy as np
    import pandas as pd

    from stac_catalog_builder_spark.operators.knn import knn_join_cellring

    rng = np.random.RandomState(5)
    images = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"img_{i:03d}" for i in range(300)],
                "lon": rng.uniform(9.5, 10.5, 300),
                "lat": rng.uniform(9.5, 10.5, 300),
            }
        ),
        "image_id string, lon double, lat double",
    )
    queries = pd.DataFrame(
        {"query_id": ["a", "b"], "qlon": [10.0, 10.2], "qlat": [10.0, 9.9]}
    )
    out = knn_join_cellring(images, queries, k=5, res=8, max_abs_lat=60.0)
    assert len(out.collect()) == 10
    final = _plan(out)
    assert "isFinalPlan=true" in final and "EmptyRelation" in final


def test_partitioned_pip_plan_shuffle_join_no_python_refine(spark):
    """The PIP join over a frame-built dimension joins on the cover cell by
    equi-join (the broadcast budget picks broadcast or shuffle; never a
    nested-loop/cartesian), and the refine stage stays JVM (the only Python
    is the polygon-side cover computation)."""
    plan = _plan(e.queries()["spatial_join_partitioned"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # JVM ray cast present; Python only in the mapInPandas cover stage
    for line in plan.splitlines():
        if "ArrowEvalPython" in line or "BatchEvalPython" in line:
            raise AssertionError(f"row-wise python eval in plan: {line}")


def test_sequence_pack_single_shuffle(spark):
    """Sequence packing must cost exactly ONE exchange (the pack_group hash
    partition) feeding one Arrow-batched FlatMapGroupsInPandas — packing is
    the only non-JVM stage and the group key is a deterministic hash, so the
    shuffle count cannot silently grow."""
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark.operators.packing import pack_sequences
    from stac_catalog_builder_spark.operators.textops import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=0).select(
        F.concat_ws("_", "doc_id", "chunk_idx").alias("chunk_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    plan = _plan(pack_sequences(chunks, budget=256, n_groups=8))
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan


def test_sampling_split_plan_is_jvm_map_side(spark):
    """dataset_split is a pure codegen projection: no Exchange, no Python
    eval — the property that makes it free at any scale."""
    from stac_catalog_builder_spark.operators.sampling import dataset_split

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = _plan(dataset_split(docs, "doc_id"))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_radius_join_plan_no_cross_no_python(spark):
    """radius_join candidates meet in an equi-join on the grid cell keys —
    never a CartesianProduct or nested loop — and the haversine filter is
    codegen math, no Python eval."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["radius_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "Python" not in plan


def test_union_area_plan_jvm_only(spark):
    """The exact rectangle-union dissolve is pure JVM column algebra:
    no Python eval, no CartesianProduct anywhere in the decomposition."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["union_area"](spark, SF))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


@pytest.mark.parametrize(
    "query", ["minhash_pairs", "simhash_pairs", "phash_neardup", "embedding_neardup"]
)
def test_lsh_self_join_keys_on_bucket_and_salt(spark, query):
    """Every pair operator's guarded LSH self-join keys on (bucket, salt) on
    every input — the salt is never constant-folded away — with no
    nested-loop or cartesian join, and no Window over a whole bucket (a hot
    bucket must never land in one task). ArrowEvalPython nodes are not
    counted here: every InMemoryRelation reference prints its cached plan
    again."""
    plan = _plan(e.queries()[query](spark, SF))
    join_keys = re.findall(r"Join \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert any(
        all("bucket#" in side and "salt#" in side for side in keys)
        for keys in join_keys
    ), join_keys
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window" in line:
            assert "bucket" not in line, line


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pip_join_and_resume_plans_read_no_python_rdd(spark, tmp_path):
    """A driver-built dimension (the PIP cover and polygon tables, the
    checkpoint's commit-row upserts) is a JVM LocalRelation, not a
    pickled LogicalRDD: a job over a LogicalRDD starts Python workers though
    the plan runs no Python code."""
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    assigned = e._assigned(spark, SF)
    plan = _optimized(assigned)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan

    store = SnapshotStore(tmp_path / "ckpt")
    tiles = synth.boundaries(spark, SF)
    store.write_stage(tiles, "tiles", "collection_id")
    todo = store.pending(tiles, spark, "tiles", "collection_id")
    plan = _optimized(todo)
    assert "LogicalRDD" not in plan, plan
    assert todo.count() == 0


def test_minhash_band_key_udf_once_in_the_cached_table(spark):
    """The signature table that minhash candidate generation persists
    evaluates the band-key pandas UDF in ONE ArrowEvalPython node: the
    size(band_keys) > 0 filter Catalyst infers from the explode must not
    carry a second copy of the UDF below the projection."""
    from stac_catalog_builder_spark import cache
    from stac_catalog_builder_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    with cache.run():
        dedup.minhash_candidate_parts(docs)
        table = cache._SCOPE.get().caches["minhash_pairs"]
        assert _plan(table).count("ArrowEvalPython [bandkeys(") == 1, _plan(table)


def test_exact_collapse_hashes_each_text_once(spark):
    """minhash_pairs' cached collapse table hashes each text once per side
    of its join: the plan carries no isnotnull(md5(...)) filter, which an
    inner equi-join on the hash makes Catalyst infer and push below the
    projection that computes the hash."""
    from stac_catalog_builder_spark import cache

    with cache.run():
        plan = _optimized(e.queries()["minhash_pairs"](spark, SF))
    assert "md5(" in plan and "isnotnull(md5(" not in plan, plan


def test_lsh_topk_scores_each_pair_once(spark):
    """A pair sharing several of the LSH buckets is deduplicated before it
    is scored: in the optimized plan the cosine's ``aggregate(`` fold sits
    above the aggregate that deduplicates (query_id, neighbor_id), so its
    d-length folds run once per pair, not once per shared bucket."""
    lines = _optimized(e.queries()["ann_lsh_topk"](spark, SF)).splitlines()
    fold = next(i for i, s in enumerate(lines) if "aggregate(zip_with(" in s)
    dedup = next(i for i, s in enumerate(lines) if "Aggregate [query_id" in s)
    assert fold < dedup, "\n".join(lines)


def test_pip_join_strategy_follows_the_broadcast_budget(spark):
    """The PIP join carries no broadcast hint: at the session's budget both
    dimension joins broadcast, and with autoBroadcastJoinThreshold=-1 both
    plan as sort-merge joins and return the same rows."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = e.q_spatial_join(spark, SF)
    plan = _plan(default)
    assert plan.count("BroadcastHashJoin") == 2 and "SortMergeJoin" not in plan, plan
    want = sorted(default.collect())
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled = e.q_spatial_join(spark, SF)
        plan = _plan(shuffled)
        assert plan.count("SortMergeJoin") == 2, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert sorted(shuffled.collect()) == want
    finally:
        spark.conf.set(key, old)
