"""Geospatial math kernels: haversine, point-in-polygon, bbox ops, reprojection.

Replaces the reference's shapely/pyproj usage (stacbuilder/boundingbox.py:161-171,
stacbuilder/projections.py:21-67) with vectorized numpy (neither library exists
in this environment; SURVEY.md §7.0). Two execution surfaces:

- numpy functions for Arrow-batched pandas UDFs (the slow-path kernels);
- Spark Column builders (``haversine_col``) that stay JVM-side / codegen'd for
  hot-path distance math.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


# ---------------------------------------------------------------------------
# Haversine distance
# ---------------------------------------------------------------------------

def haversine_np(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (vectorized, broadcasting)."""
    lon1, lat1 = np.radians(lon1), np.radians(lat1)
    lon2, lat2 = np.radians(lon2), np.radians(lat2)
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Haversine in meters as a pure JVM column expression (no UDF)."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    a = F.pow(F.sin((rlat2 - rlat1) / 2.0), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(
        F.sin((rlon2 - rlon1) / 2.0), 2
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


# ---------------------------------------------------------------------------
# Point-in-polygon (ray casting, even-odd rule)
# ---------------------------------------------------------------------------

def point_in_polygon_np(
    px: np.ndarray, py: np.ndarray, poly_x: np.ndarray, poly_y: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray cast of N points against ONE polygon.

    Half-open edge convention (each edge treated as [y1, y2)): consistent,
    so a point on a shared edge of two adjacent polygons matches exactly one.
    Replaces shapely prepared-geometry contains() used implicitly by the
    reference's GeoDataFrame path (stacbuilder/terracatalog.py:600-621).
    """
    px = np.asarray(px, dtype=np.float64)[:, None]  # (N,1)
    py = np.asarray(py, dtype=np.float64)[:, None]
    vx = np.asarray(poly_x, dtype=np.float64)
    vy = np.asarray(poly_y, dtype=np.float64)
    x1, y1 = vx[None, :], vy[None, :]  # (1,V)
    x2, y2 = np.roll(vx, -1)[None, :], np.roll(vy, -1)[None, :]
    cond = (y1 > py) != (y2 > py)  # edge straddles the horizontal ray
    with np.errstate(divide="ignore", invalid="ignore"):
        x_int = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    crossings = cond & (px < x_int)
    return (crossings.sum(axis=1) % 2).astype(bool)


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


def rects_inside_polygon_np(
    w: np.ndarray, s: np.ndarray, e: np.ndarray, n: np.ndarray, vx: np.ndarray, vy: np.ndarray
) -> np.ndarray:
    """Which rectangles [w,e]x[s,n] lie entirely inside ONE polygon: all 4
    corners inside and no polygon edge crossing the rectangle (exact for
    simple polygons; any edge touch counts as a crossing). Vectorized over
    the rectangles; the spatial join's interior cover cells and the
    rasterizer's all-ones tiles are both this test."""
    inside = (
        point_in_polygon_np(w, s, vx, vy)
        & point_in_polygon_np(e, s, vx, vy)
        & point_in_polygon_np(e, n, vx, vy)
        & point_in_polygon_np(w, n, vx, vy)
    )
    V = len(vx)
    edge_hit = np.zeros(len(w), dtype=bool)
    for i in range(V):
        j = (i + 1) % V
        edge_hit |= _segment_hits_rects(vx[i], vy[i], vx[j], vy[j], w, s, e, n)
    return inside & ~edge_hit


def polygon_bounds(poly_x, poly_y) -> tuple[float, float, float, float]:
    return (
        float(np.min(poly_x)),
        float(np.min(poly_y)),
        float(np.max(poly_x)),
        float(np.max(poly_y)),
    )


def rect_ring(w: float, s: float, e: float, n: float) -> tuple[np.ndarray, np.ndarray]:
    """Rectangle as a CCW polygon ring (no closing vertex)."""
    return np.array([w, e, e, w]), np.array([s, s, n, n])


# ---------------------------------------------------------------------------
# Geometry serialization (parity with reference boundingbox.py:95-171
# bbox <-> Polygon/WKT forms; STAC items carry GeoJSON-style geometry)
# ---------------------------------------------------------------------------

def micro_decimal_str(x: Column) -> Column:
    """Exact 5-decimal string of a double, built from micro-degree INTEGER
    arithmetic (sign-magnitude int part + zero-padded fraction) — identical
    in Spark and DuckDB, with no engine-specific float formatting involved."""
    u = F.floor(x * 100000.0 + F.lit(0.5)).cast("bigint")
    a = F.abs(u)
    ip = F.floor(a / F.lit(100000)).cast("bigint")
    frac = (a % F.lit(100000)).cast("bigint")
    sign = F.when(u < 0, F.lit("-")).otherwise(F.lit(""))
    return F.concat(
        sign, ip.cast("string"), F.lit("."), F.lpad(frac.cast("string"), 5, "0")
    )


def bbox_wkt(w: Column, s: Column, e: Column, n: Column) -> Column:
    """WKT POLYGON of a bbox, closed CCW ring (reference
    boundingbox.py:161-171 as_polygon/as_wkt), 5-decimal coordinates."""
    ws, ss, es, ns = (micro_decimal_str(c) for c in (w, s, e, n))
    sp, com = F.lit(" "), F.lit(", ")
    return F.concat(
        F.lit("POLYGON (("),
        ws, sp, ss, com,
        es, sp, ss, com,
        es, sp, ns, com,
        ws, sp, ns, com,
        ws, sp, ss,
        F.lit("))"),
    )


# ---------------------------------------------------------------------------
# Reprojection (parity with reference stacbuilder/projections.py:21-67)
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996


def _utm_params(epsg: int) -> tuple[float, bool]:
    if 32601 <= epsg <= 32660:
        zone, south = epsg - 32600, False
    elif 32701 <= epsg <= 32760:
        zone, south = epsg - 32700, True
    else:
        raise ValueError(f"unsupported projected EPSG:{epsg}")
    return -183.0 + 6.0 * zone, south


def utm_forward_np(lon, lat, epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 lon/lat -> UTM easting/northing (meters), spherical-series
    transverse Mercator (Krueger series to n^2 — ~meter-level accuracy,
    within the reference's own test tolerance of 10 m,
    reference tests/test_projections.py:12-68)."""
    lon0, south = _utm_params(epsg)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    e2 = _WGS84_F * (2 - _WGS84_F)
    ep2 = e2 / (1 - e2)
    rlat, rlon = np.radians(lat), np.radians(lon - lon0)
    N = _WGS84_A / np.sqrt(1 - e2 * np.sin(rlat) ** 2)
    T_ = np.tan(rlat) ** 2
    C = ep2 * np.cos(rlat) ** 2
    A = np.cos(rlat) * rlon
    M = _WGS84_A * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * rlat
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * rlat)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * rlat)
        - (35 * e2**3 / 3072) * np.sin(6 * rlat)
    )
    x = (
        _UTM_K0
        * N
        * (
            A
            + (1 - T_ + C) * A**3 / 6
            + (5 - 18 * T_ + T_**2 + 72 * C - 58 * ep2) * A**5 / 120
        )
        + 500000.0
    )
    y = _UTM_K0 * (
        M
        + N
        * np.tan(rlat)
        * (
            A**2 / 2
            + (5 - T_ + 9 * C + 4 * C**2) * A**4 / 24
            + (61 - 58 * T_ + T_**2 + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    if south:
        y = y + 10000000.0
    return x, y


def equirect_forward_np(lon, lat, lat_ts: float = 0.0):
    """Plate-carree projection (EPSG:32662-style) — meters."""
    k = math.cos(math.radians(lat_ts))
    return (
        np.radians(np.asarray(lon)) * _WGS84_A * k,
        np.radians(np.asarray(lat)) * _WGS84_A,
    )


def utm_inverse_np(x, y, epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """UTM easting/northing (meters) -> WGS84 lon/lat.

    Inverse transverse Mercator via footpoint latitude + series (standard
    Snyder formulation) — closes the projected->lat/lon direction the
    reference gets from pyproj (stacbuilder/projections.py:61-67: derive the
    lat/lon bbox FROM a projected bbox, terracatalog.py:700-770). Round-trip
    accuracy vs ``utm_forward_np`` is property-tested to the reference's own
    tolerance (10 m / ~1e-4 deg, reference tests/test_projections.py:12-124).
    """
    lon0, south = _utm_params(epsg)
    x = np.asarray(x, dtype=np.float64) - 500000.0
    y = np.asarray(y, dtype=np.float64)
    if south:
        y = y - 10000000.0
    e2 = _WGS84_F * (2 - _WGS84_F)
    ep2 = e2 / (1 - e2)
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))

    m = y / _UTM_K0
    mu = m / (_WGS84_A * (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256))
    phi1 = (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
        + (151 * e1**3 / 96) * np.sin(6 * mu)
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    )
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    n1 = _WGS84_A / np.sqrt(1 - e2 * sin1**2)
    t1 = tan1**2
    c1 = ep2 * cos1**2
    r1 = _WGS84_A * (1 - e2) / (1 - e2 * sin1**2) ** 1.5
    d = x / (n1 * _UTM_K0)

    lat = phi1 - (n1 * tan1 / r1) * (
        d**2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1**2 - 9 * ep2) * d**4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1**2 - 252 * ep2 - 3 * c1**2)
        * d**6
        / 720
    )
    lon = (
        d
        - (1 + 2 * t1 + c1) * d**3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1**2 + 8 * ep2 + 24 * t1**2) * d**5 / 120
    ) / cos1
    return lon0 + np.degrees(lon), np.degrees(lat)


def equirect_inverse_np(x, y, lat_ts: float = 0.0):
    """Plate-carree inverse: meters -> lon/lat degrees (exact)."""
    k = math.cos(math.radians(lat_ts))
    return (
        np.degrees(np.asarray(x, dtype=np.float64) / (_WGS84_A * k)),
        np.degrees(np.asarray(y, dtype=np.float64) / _WGS84_A),
    )


def reproject_bbox_to_lonlat_np(
    x_min, y_min, x_max, y_max, epsg: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Projected bbox -> lat/lon bbox: inverse-project the 4 corners and take
    the coordinate-wise bounds — the reference's reproject_bounding_box
    shape (projections.py:21-67: project the box polygon's coordinates, take
    ``.bounds``). Vectorized over N bboxes. EPSG:32662 is plate-carree;
    326xx/327xx are UTM zones (matching the forward kernels)."""
    inv = (
        (lambda xx, yy: equirect_inverse_np(xx, yy))
        if epsg == 32662
        else (lambda xx, yy: utm_inverse_np(xx, yy, epsg))
    )
    x_min = np.asarray(x_min, dtype=np.float64)
    y_min = np.asarray(y_min, dtype=np.float64)
    x_max = np.asarray(x_max, dtype=np.float64)
    y_max = np.asarray(y_max, dtype=np.float64)
    # 4 corners: (xmin,ymin) (xmax,ymin) (xmax,ymax) (xmin,ymax)
    cx = np.stack([x_min, x_max, x_max, x_min])
    cy = np.stack([y_min, y_min, y_max, y_max])
    lon, lat = inv(cx, cy)
    return lon.min(axis=0), lat.min(axis=0), lon.max(axis=0), lat.max(axis=0)
