"""Point-in-polygon spatial join (north rule J4): one join, two ways to
build the polygon dimension.

The join is the standard two-stage distributed shape (cover-cell filter,
exact refine; the interior/boundary cell split is GeoBlocks, EDBT 2021):

1. **Cover-cell equi-join**: every polygon is covered by grid cells at a
   coarse resolution, each cell tagged interior (fully inside) or boundary.
   Images join that cover table on their centroid's cell, then join the
   ring/payload table on the polygon key, so vertex arrays never ride the
   wide cover table.
2. **Exact refine**: only boundary-cell candidates run the even-odd ray
   cast, a statically unrolled JVM expression (``ray_cast_col``):
   whole-stage codegen'd, no Python in the hot path.

The PIP join carries no broadcast hint: the session's
``spark.sql.autoBroadcastJoinThreshold`` decides broadcast or shuffle from
the dimension's size, so a small polygon set plans two
``BroadcastHashJoin``s (no shuffle of the fact side) and a dimension past
the budget plans sort-merge joins (AQE splits skewed cells).

A dimension is a dict ``{cover_df, meta_df, key, max_v, cover_res}`` built
by ``prepare_polygon_dim`` (on the driver, from a list of polygons) or by
``polygon_frame_dim`` (in the cluster, from a polygon DataFrame; the cover
is a ``mapInPandas`` pass and building it runs no job).

The reference never joins spatially — it groups by exact bbox equality
(stacbuilder/builder.py:780-793) and aggregates extents (builder.py:484-510);
this operator generalizes that to real polygon containment.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import grid_bounds_np, grid_cell_col, grid_cover_bbox
from ..functions.geo import polygon_bounds, rects_inside_polygon_np
from ..session import local_frame

DEFAULT_COVER_RES = 7  # ~1.4-degree cells. Higher res = more cover rows
# (still dimension-sized) but a smaller boundary fraction: only images in
# PARTIAL (boundary) cells pay the exact ray cast; interior cells skip it.


def _polygon_cover(
    ring_x, ring_y, cover_res: int
) -> tuple[list[int], list[bool]]:
    """A polygon's bbox cover cells at ``cover_res`` and, per cell, whether
    it lies FULLY inside the polygon: rows landing in a full cell need no
    exact refinement — only the boundary-cell fraction (~perimeter/area)
    pays the ray cast."""
    vx = np.asarray(ring_x, dtype=np.float64)
    vy = np.asarray(ring_y, dtype=np.float64)
    w, s, e, n = polygon_bounds(vx, vy)
    cells = np.asarray(grid_cover_bbox(w, s, e, n, cover_res), dtype=np.int64)
    full = rects_inside_polygon_np(*grid_bounds_np(cells), vx, vy)
    return cells.tolist(), full.tolist()


def ray_cast_col(
    lon: Column, lat: Column, ring_x: Column, ring_y: Column, max_vertices: int
) -> Column:
    """Even-odd ray cast as a *statically unrolled* JVM expression: count
    straddling edges with an intersection right of the point; odd = inside.
    Same half-open edge convention as functions/geo.point_in_polygon_np
    (pytest-verified equal).

    Unrolled over ``max_vertices`` edge slots (literal indices) instead of a
    higher-order ``filter`` lambda: HOFs allocate per-row iterators/ArrayData
    and measurably ANTI-scale under many local cores (GC contention); the
    unrolled form is a plain codegen'd expression tree. ``max_vertices`` is
    any upper bound on the ring length (slots past a ring's end read NULL
    and never hit); polygons are dimension-table rows, so the bound is small
    (boundary rings, not coastlines).

    Horizontal edges are excluded by the straddle test; double division by
    zero yields +/-Inf (never an error in ANSI mode), so no special-casing.
    """
    v = F.size(ring_x)
    crossings: Column = F.lit(0)
    for i in range(1, max_vertices + 1):
        li = F.lit(i)
        # wrap: edge (i -> i+1), last edge (v -> 1); try_element_at is
        # NULL-safe for rows whose ring is shorter than max_vertices (ANSI
        # element_at would throw), and NULL hits fall into otherwise(0).
        j = F.when(li == v, F.lit(1)).otherwise(F.lit(i + 1))
        x1, y1 = F.try_element_at(ring_x, li), F.try_element_at(ring_y, li)
        x2, y2 = F.try_element_at(ring_x, j), F.try_element_at(ring_y, j)
        straddles = (y1 > lat) != (y2 > lat)
        x_int = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
        hit = (li <= v) & straddles & (lon < x_int)
        crossings = crossings + F.when(hit, F.lit(1)).otherwise(F.lit(0))
    return crossings % 2 == 1


def prepare_polygon_dim(
    spark,
    polygons: list[dict],
    cover_res: int = DEFAULT_COVER_RES,
    keep_cols: tuple[str, ...] = ("tile_id", "collection_id"),
) -> dict:
    """Build the polygon dimension on the driver from ``polygons`` (dicts
    with ``ring_x``/``ring_y`` vertex arrays and the fields named in
    ``keep_cols``): cover rows (cover_cell, poly_idx, is_full) and meta rows
    (poly_idx, ring arrays, keep_cols), each one ``LocalRelation``. Build
    once and reuse across joins; the join output carries ``keep_cols``."""
    cover_rows, meta_rows = [], []
    for idx, poly in enumerate(polygons):
        vx = np.asarray(poly["ring_x"], dtype=np.float64)
        vy = np.asarray(poly["ring_y"], dtype=np.float64)
        cells, full = _polygon_cover(vx, vy, cover_res)
        cover_rows.extend((c, idx, f) for c, f in zip(cells, full))
        meta_rows.append(
            {
                "poly_idx": idx,
                "ring_x": vx.tolist(),
                "ring_y": vy.tolist(),
                **{c: poly[c] for c in keep_cols},
            }
        )
    return {
        "cover_df": local_frame(
            spark, cover_rows, "cover_cell bigint, poly_idx int, is_full boolean"
        ),
        "meta_df": local_frame(spark, pd.DataFrame(meta_rows)),
        "key": "poly_idx",
        "max_v": max(len(m["ring_x"]) for m in meta_rows),
        "cover_res": cover_res,
    }


def polygon_frame_dim(
    polygons_df: DataFrame,
    *,
    max_vertices: int,
    cover_res: int = DEFAULT_COVER_RES,
    poly_id_col: str = "poly_id",
) -> dict:
    """Build the polygon dimension from a DataFrame with ``ring_x``/
    ``ring_y`` (``array<double>``) and an id column ``poly_id_col``: the
    shape for polygon sets too large to collect (cadastral parcels, admin
    boundaries, 10^6+ tiles). The cover runs as a ``mapInPandas`` pass over
    the polygon table (vectorized numpy per polygon), never a driver loop.

    ``max_vertices`` is the ray cast's unroll width: any upper bound on the
    ring length the caller already knows, so building the dimension runs
    no Spark job. The join output carries every non-ring column of
    ``polygons_df``, the id included."""
    ring_schema = "ring_x array<double>, ring_y array<double>"
    if dict(polygons_df.dtypes).get("ring_x") != "array<double>":
        # explicit raise, not assert: the schema contract must survive -O
        raise ValueError(f"polygons_df must carry {ring_schema}")

    def cover_gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                cells, full = _polygon_cover(r.ring_x, r.ring_y, cover_res)
                pid = getattr(r, poly_id_col)
                rows.extend(
                    {"cover_cell": c, poly_id_col: pid, "is_full": f}
                    for c, f in zip(cells, full)
                )
            yield pd.DataFrame(
                rows, columns=["cover_cell", poly_id_col, "is_full"]
            )

    pid_type = dict(polygons_df.dtypes)[poly_id_col]
    cover_df = polygons_df.select(poly_id_col, "ring_x", "ring_y").mapInPandas(
        cover_gen,
        schema=f"cover_cell bigint, {poly_id_col} {pid_type}, is_full boolean",
    )
    return {
        "cover_df": cover_df,
        "meta_df": polygons_df,
        "key": poly_id_col,
        "max_v": max_vertices,
        "cover_res": cover_res,
    }


def spatial_join_pip(images: DataFrame, dim: dict) -> DataFrame:
    """Join image centroids (``lon``/``lat``) against a polygon dimension
    from ``prepare_polygon_dim`` or ``polygon_frame_dim``.

    Returns ``images`` columns + the dimension's payload columns (inner
    join: images outside every polygon are dropped, mirroring the
    reference's unknown-asset-type drop, builder.py:191-198). An image in
    several polygons yields one row per polygon.
    """
    candidates = (
        images.withColumn(
            "cover_cell",
            grid_cell_col(F.col("lon"), F.col("lat"), dim["cover_res"]),
        )
        .join(dim["cover_df"], "cover_cell")
        .join(dim["meta_df"], dim["key"])
    )
    refined = candidates.where(
        F.when(F.col("is_full"), F.lit(True)).otherwise(
            ray_cast_col(
                F.col("lon"), F.col("lat"), F.col("ring_x"), F.col("ring_y"),
                dim["max_v"],
            )
        )
    )
    # poly_idx is prepare_polygon_dim's row key; a frame dimension keeps
    # its own id column
    return refined.drop("poly_idx", "cover_cell", "ring_x", "ring_y", "is_full")


def spatial_join_bbox_overlap(
    images: DataFrame,
    boxes: DataFrame,
) -> DataFrame:
    """Footprint-rectangle x boundary-rectangle OVERLAP join (strict
    interiors-intersect semantics): an image straddling a tile border is
    assigned to every tile it touches. Broadcast nested-loop with the
    standard separating-axis predicate — pure JVM.

    ``images`` needs fp_w/fp_s/fp_e/fp_n; ``boxes`` needs bbox_w/s/e/n.
    """
    cond = (
        (F.col("fp_w") < boxes.bbox_e)
        & (F.col("fp_e") > boxes.bbox_w)
        & (F.col("fp_s") < boxes.bbox_n)
        & (F.col("fp_n") > boxes.bbox_s)
    )
    return images.join(F.broadcast(boxes), cond, "inner").drop(
        "bbox_w", "bbox_s", "bbox_e", "bbox_n"
    )
