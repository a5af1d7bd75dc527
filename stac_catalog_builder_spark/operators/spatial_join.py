"""Point/footprint-in-polygon spatial join (north rule J4).

Two-stage, the standard distributed spatial-join shape:

1. **Cover-cell equi-join**: every polygon is covered by grid cells at a
   coarse resolution (driver-side — polygons are a small dimension table);
   the cover table is exploded to (cell, polygon) rows and **broadcast**.
   Images join on their centroid's cell: a broadcast hash join, no shuffle
   of the fact side, prunable by Catalyst.
2. **Exact PIP refinement**: the even-odd ray cast runs as a pure JVM
   higher-order-function expression (``filter`` over edge indices against
   the polygon vertex arrays carried on the broadcast row) — whole-stage
   codegen'd, zero Python in the hot path (a pandas-UDF refine measured
   slower and *anti-scaled* past ~8 local cores: python worker contention).

Skew: a hot cell (a dense city) maps to ONE cover row, so the broadcast join
cannot skew the fact side (there is no shuffle). Skew matters only for
downstream aggregation — handled by salting (operators/grouping.py) and AQE.

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
from ..functions.geo import point_in_polygon_np, polygon_bounds

DEFAULT_COVER_RES = 7  # ~1.4-degree cells. Higher res = more cover rows
# (still dimension-sized) but a smaller boundary fraction: only images in
# PARTIAL (boundary) cells pay the exact ray cast; interior cells skip it.


def _segment_hits_rects(x1, y1, x2, y2, w, s, e, n) -> np.ndarray:
    """Vectorized Liang-Barsky: one segment vs arrays of rects [w,e]x[s,n]."""
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros_like(w)
    t1 = np.ones_like(w)
    ok = np.ones(len(w), dtype=bool)
    for p, q in ((-dx, x1 - w), (dx, e - x1), (-dy, y1 - s), (dy, n - y1)):
        if p == 0:
            ok &= q >= 0
            continue
        r = q / p
        if p < 0:
            ok &= r <= t1
            t0 = np.maximum(t0, r)
        else:
            ok &= r >= t0
            t1 = np.minimum(t1, r)
    return ok & (t0 <= t1)


def _cells_fully_inside(cells: np.ndarray, vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Which cell rectangles are entirely inside the polygon: all 4 corners
    inside and no polygon edge crossing the rectangle (exact for simple
    polygons). Fully vectorized over the cover-cell set."""
    w, s, e, n = grid_bounds_np(cells)
    inside = (
        point_in_polygon_np(w, s, vx, vy)
        & point_in_polygon_np(e, s, vx, vy)
        & point_in_polygon_np(e, n, vx, vy)
        & point_in_polygon_np(w, n, vx, vy)
    )
    V = len(vx)
    edge_hit = np.zeros(len(cells), dtype=bool)
    for i in range(V):
        j = (i + 1) % V
        edge_hit |= _segment_hits_rects(vx[i], vy[i], vx[j], vy[j], w, s, e, n)
    return inside & ~edge_hit


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
    return cells.tolist(), _cells_fully_inside(cells, vx, vy).tolist()


def ray_cast_col(
    lon: Column, lat: Column, ring_x: Column, ring_y: Column, max_vertices: int = 16
) -> Column:
    """Even-odd ray cast as a *statically unrolled* JVM expression: count
    straddling edges with an intersection right of the point; odd = inside.
    Same half-open edge convention as functions/geo.point_in_polygon_np
    (pytest-verified equal).

    Unrolled over ``max_vertices`` edge slots (literal indices) instead of a
    higher-order ``filter`` lambda: HOFs allocate per-row iterators/ArrayData
    and measurably ANTI-scale under many local cores (GC contention); the
    unrolled form is a plain codegen'd expression tree. Polygons are
    dimension-table rows, so a small vertex cap is fine (boundary rings, not
    coastlines).

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
    """One-time driver-side polygon dimension prep: cover rows (cell,
    poly_idx, is_full) and meta rows (poly_idx, keep_cols, ring arrays) as
    broadcastable frames. Reuse across many joins — the per-query cost is
    then only the broadcast exchange."""
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
        "cover_df": spark.createDataFrame(
            cover_rows, schema="cover_cell bigint, poly_idx int, is_full boolean"
        ),
        "meta_df": spark.createDataFrame(pd.DataFrame(meta_rows)),
        "max_v": max(len(m["ring_x"]) for m in meta_rows),
        "cover_res": cover_res,
    }


def spatial_join_pip(
    images: DataFrame,
    polygons: list[dict] | None = None,
    cover_res: int = DEFAULT_COVER_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    keep_cols: tuple[str, ...] = ("tile_id", "collection_id"),
    dim: dict | None = None,
) -> DataFrame:
    """Join image centroids against boundary polygons (JVM ray-cast refine).

    ``polygons``: list of dicts with ``ring_x``/``ring_y`` vertex arrays and
    identifier fields named in ``keep_cols``; or pass a prebuilt ``dim`` from
    ``prepare_polygon_dim``. Returns ``images`` columns + ``keep_cols``
    (inner join: images outside every polygon are dropped, mirroring the
    reference's unknown-asset-type drop, builder.py:191-198).
    """
    spark = images.sparkSession
    if dim is None:
        dim = prepare_polygon_dim(spark, polygons, cover_res, keep_cols)
    cover_df, meta_df, max_v, cover_res = (
        dim["cover_df"], dim["meta_df"], dim["max_v"], dim["cover_res"],
    )

    # Two stacked broadcast joins, both shuffle-free: the (possibly large but
    # narrow) cover table first, then the tiny meta table that carries the
    # ring arrays — keeping vertex data OFF the 10^4-row cover broadcast.
    candidates = (
        images.withColumn(
            "cover_cell", grid_cell_col(F.col(lon_col), F.col(lat_col), cover_res)
        )
        .join(F.broadcast(cover_df), "cover_cell")
        .join(F.broadcast(meta_df), "poly_idx")
    )

    refined = candidates.where(
        F.when(F.col("is_full"), F.lit(True)).otherwise(
            ray_cast_col(
                F.col(lon_col), F.col(lat_col), F.col("ring_x"), F.col("ring_y"),
                max_vertices=max_v,
            )
        )
    )
    return refined.drop("poly_idx", "cover_cell", "ring_x", "ring_y", "is_full")


def spatial_join_pip_partitioned(
    images: DataFrame,
    polygons_df: DataFrame,
    cover_res: int = DEFAULT_COVER_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    poly_id_col: str = "poly_id",
) -> DataFrame:
    """PIP join for polygon sets TOO LARGE TO BROADCAST (the 100 TB shape
    when the dimension itself is big: cadastral parcels, admin boundaries,
    10^6+ tiles). Same two-stage semantics as ``spatial_join_pip`` but every
    stage is distributed:

    1. cover computation runs as a ``mapInPandas`` pass over the POLYGON
       table (vectorized numpy per polygon: bbox cover cells +
       interior/boundary classification) — no driver-side loop, no collect;
    2. candidates come from a shuffle equi-join on the cover cell (both
       sides partitioned by the cell key; AQE splits skewed cells);
    3. ring vertex arrays join back on ``poly_id`` (a second equi-join —
       vertex payloads never ride the wide cover table);
    4. boundary-cell candidates refine with the same statically-unrolled JVM
       ray cast; interior cells skip it.

    Output = ``images`` columns + the polygon table's non-ring columns.
    Results are EXACTLY ``spatial_join_pip``'s (pytest-asserted on the same
    polygon set through both paths)."""
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
    cover = polygons_df.select(poly_id_col, "ring_x", "ring_y").mapInPandas(
        cover_gen,
        schema=f"cover_cell bigint, {poly_id_col} {pid_type}, is_full boolean",
    )
    # exact unroll width for the JVM ray cast: one cheap pass over the
    # POLYGON table (dimension-sized relative to the fact side)
    max_v = polygons_df.agg(F.max(F.size("ring_x"))).first()[0]
    if max_v is None:
        # empty polygon table: the equi-joins below already produce zero
        # rows with the correct joined schema — only the NULL unroll width
        # would crash (ADVICE r3). Any valid width works; no row reaches
        # the ray cast.
        max_v = 3

    meta = polygons_df  # rings + id + payload columns
    candidates = (
        images.withColumn(
            "cover_cell", grid_cell_col(F.col(lon_col), F.col(lat_col), cover_res)
        )
        .join(cover, "cover_cell")
        .join(meta, poly_id_col)
    )
    refined = candidates.where(
        F.when(F.col("is_full"), F.lit(True)).otherwise(
            ray_cast_col(
                F.col(lon_col), F.col(lat_col), F.col("ring_x"), F.col("ring_y"),
                max_vertices=int(max_v),
            )
        )
    )
    return refined.drop("cover_cell", "ring_x", "ring_y", "is_full")


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
