"""Incremental catalog maintenance: folding appended batches into a per-key
extent summary must be EXACTLY the full recompute over all facts (every
extent statistic is algebraic), across multiple increments and bootstrap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stac_catalog_builder_spark import synth
from stac_catalog_builder_spark.operators.footprints import with_footprint
from stac_catalog_builder_spark.operators.grouping import (
    collection_extents,
    incremental_extents,
    merge_extent_summaries,
)
from stac_catalog_builder_spark.operators.spatial_join import spatial_join_pip

SF = "/root/testdata/sf0.001"
KEYS = ["collection_id", "tile_id"]


def _rows(df):
    return sorted(
        (tuple(r[k] for k in KEYS), r.n_assets, r.ext_w, r.ext_s, r.ext_e, r.ext_n,
         r.dt_min, r.dt_max)
        for r in df.collect()
    )


def test_incremental_equals_full_recompute(spark):
    assigned = spatial_join_pip(
        with_footprint(synth.images(spark, SF)), synth.boundary_polygons(SF)
    )
    base = assigned.where(F.col("img_key") % 3 == 0)
    inc1 = assigned.where(F.col("img_key") % 3 == 1)
    inc2 = assigned.where(F.col("img_key") % 3 == 2)

    # bootstrap -> two appended batches
    s = incremental_extents(None, base, KEYS)
    s = incremental_extents(s, inc1, KEYS)
    s = incremental_extents(s, inc2, KEYS)

    full = collection_extents(assigned, KEYS)
    assert _rows(s) == _rows(full)  # exact, not approximate

    # increments that introduce brand-new keys merge in cleanly too
    moved = inc2.withColumn("tile_id", F.concat(F.col("tile_id"), F.lit("_new")))
    s2 = incremental_extents(collection_extents(base, KEYS), moved, KEYS)
    full2 = collection_extents(base.unionByName(moved), KEYS)
    assert _rows(s2) == _rows(full2)


def test_merge_extent_summaries_nary_and_guard(spark):
    assigned = spatial_join_pip(
        with_footprint(synth.images(spark, SF)), synth.boundary_polygons(SF)
    )
    parts = [
        collection_extents(assigned.where(F.col("img_key") % 4 == i), KEYS)
        for i in range(4)
    ]
    merged = merge_extent_summaries(KEYS, *parts)
    assert _rows(merged) == _rows(collection_extents(assigned, KEYS))
    with pytest.raises(ValueError, match="at least one"):
        merge_extent_summaries(KEYS)
