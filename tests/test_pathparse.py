"""J2 path-info override merge: a parsed path field wins over the
raster-derived column unless it is null (reference mapper.py:166-182)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stac_catalog_builder_spark.operators.pathparse import merge_overrides


def test_merge_overrides_coalesces_parsed_over_original(spark):
    df = spark.createDataFrame(
        [(1, "EPSG:4326", "a.tif"), (2, "EPSG:3857", "b.tif")],
        "id long, epsg string, href string",
    )
    parsed_epsg = F.when(F.col("id") == 1, F.lit("EPSG:32631"))  # null for id 2
    tile_id = F.concat(F.lit("T"), F.col("id").cast("string"))  # not in df
    out = merge_overrides(df, {"epsg": parsed_epsg, "tile_id": tile_id})
    assert out.columns == ["id", "epsg", "href", "tile_id"]
    got = {r.id: (r.epsg, r.href, r.tile_id) for r in out.collect()}
    assert got == {
        1: ("EPSG:32631", "a.tif", "T1"),  # non-null parsed value overrides
        2: ("EPSG:3857", "b.tif", "T2"),  # null parsed value keeps the original
    }
