"""The flagship end-to-end plan: the reference's `build_collection` lifecycle
(reference stacbuilder/commandapi.py:68-106 -> builder.py:795-809) as ONE lazy
DataFrame DAG.

Reference pipeline (SURVEY.md §3.1) -> Spark stage:

    glob scan + thread-pool metadata extraction  -> spark.read.parquet
    _ensure_geoms derivation                     -> with_footprint (columns)
    (new, north rule) cell index                 -> grid/hex/S2 cells
    asset-config broadcast join + item grouping  -> items_from_assets
    spatial containment (extent membership)      -> spatial_join_pip
    tile assignment                              -> with_tile / tile_cover
    collection extent + year-grouped rollup      -> collection_rollup
    partitioned item JSON sink (y/m/d)           -> write_items_partitioned
    resumable slices + progress logging          -> SnapshotStore commit
                                                    table (_metrics rows)

The two thread-pool boundaries of the reference (collector.py:227,
async_utils.py:56) disappear into executor parallelism; the hand-rolled
stage ordering disappears into Catalyst.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import synth
from ..functions.cells import grid_cell_col
from ..operators.footprints import with_footprint
from ..operators.grouping import collection_extents, collection_rollup, items_from_assets
from ..operators.spatial_join import prepare_polygon_dim, spatial_join_pip
from ..operators.tiling import with_tile
from ..sources.catalog import write_items_partitioned
from ..sources.checkpoint import SnapshotStore


def build_catalog(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    zoom: int = 6,
    cell_res: int = 7,
    item_postprocessor: Callable | None = None,
    replicate: int = 1,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns the intermediate DataFrames keyed by
    stage. With ``out_dir`` set, also writes partitioned items and the
    assignments stage through the SnapshotStore, whose one commit table
    holds a (part_key, n_rows) row per partition (resumable via anti-join).

    ``item_postprocessor`` is the reference's arbitrary per-item hook
    (builder.py:646, 753-754): a mapInPandas callable
    (iterator of pd.DataFrame -> iterator of pd.DataFrame) applied to the
    item table — the UDTF-style extension slot.
    """
    images = with_footprint(synth.images(spark, sf_dir, replicate=replicate))
    images = images.withColumn(
        "cell", grid_cell_col(F.col("lon"), F.col("lat"), cell_res)
    )

    dim = prepare_polygon_dim(spark, synth.boundary_polygons(sf_dir))
    assigned = spatial_join_pip(images, dim=dim)
    tiled = with_tile(assigned, zoom=zoom)

    items = items_from_assets(assigned)
    if item_postprocessor is not None:
        items = items.mapInPandas(item_postprocessor, schema=items.schema)

    extents = collection_extents(assigned, ["collection_id", "tile_id"])
    rollup = collection_rollup(assigned)

    result = {
        "images": images,
        "assigned": assigned,
        "tiled": tiled,
        "items": items,
        "extents": extents,
        "rollup": rollup,
    }

    if out_dir:
        store = SnapshotStore(out_dir)
        write_items_partitioned(
            items.withColumn("datetime", F.col("dt_min")), f"{out_dir}/items"
        )
        # one commit row per partition (north rule): assignments keyed by
        # collection; RESUME = anti-join the commit table, so a
        # re-run writes only missing partitions (the reference's
        # skip-if-stored semantics, terracatalog.py:497-505)
        to_write = tiled.select(
            "image_id", "tile_id", "collection_id", "tile_x", "tile_y",
            F.col("collection_id").alias("part_key"),
        )
        pending = store.pending(to_write, spark, "assignments", "part_key")
        if not pending.isEmpty():
            store.write_stage(
                pending,
                "assignments",
                "part_key",
                snapshot_note=f"sf_dir={sf_dir} zoom={zoom}",
            )
    return result
