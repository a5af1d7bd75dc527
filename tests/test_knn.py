"""kNN operator tests beyond the driver oracle: the precomputed-cell fast
path must produce the same rows as the on-the-fly derivation."""

from __future__ import annotations

import numpy as np
import pandas as pd
from conftest import jobs_run_by
from pyspark.sql import functions as F

import __spark_entry__ as e
from stac_catalog_builder_spark import cache, synth
from stac_catalog_builder_spark.functions.cells import hex_cell_udf
from stac_catalog_builder_spark.operators.knn import knn_join, knn_join_cellring

SF = "/root/testdata/sf0.001"


def _rows(df) -> set:
    return {(r.query_id, r.rank, r.image_id) for r in df.collect()}


def test_cellring_precomputed_cell_column_equivalent(spark):
    images = e._images_fp(spark, SF)
    queries = synth.knn_queries(spark, SF)
    # the synthetic lake's contract: lat in [-60, 60) (FIXTURES.md §1)
    derived = knn_join_cellring(images, queries, k=5, res=6, max_abs_lat=60.0)
    pre = images.withColumn("hex6", hex_cell_udf(6)(F.col("lon"), F.col("lat")))
    precomputed = knn_join_cellring(
        pre, queries, k=5, res=6, cell_col="hex6", max_abs_lat=60.0
    )
    brute = knn_join(images, queries, k=5)
    assert _rows(derived) == _rows(precomputed) == _rows(brute)


def test_cellring_adaptive_matches_brute(spark):
    """Adaptive per-query radii (ring_radius=None) must return exactly the
    brute-force result, with hot-cluster queries certified at SMALL radii
    (never dragging the whole cluster in) and sparse queries either served
    at large radii or routed to the exact fallback."""
    from stac_catalog_builder_spark.operators.footprints import with_footprint

    SF01 = "/root/testdata/sf0.01"
    images = with_footprint(synth.images(spark, SF01))
    queries = synth.knn_queries(spark, SF01)
    brute = knn_join(images, queries, k=5).orderBy("query_id", "rank").toPandas()
    adaptive = (
        knn_join_cellring(
            images, queries, k=5, res=9, ring_radius=None, max_abs_lat=60.0
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        brute.reset_index(drop=True), adaptive.reset_index(drop=True)
    )


def test_entry_cellring_fixed_matches_brute(spark):
    """The rows-only ``knn_cellring_fixed`` entry (fixed radius, r2/r3's
    driver config) must stay row-identical to the exact brute entry — its
    exactness evidence now that the driver's oracle row exercises the
    adaptive mode instead (VERDICT r3 #4)."""
    fixed = e.queries()["knn_cellring_fixed"](spark, SF)
    brute = e.queries()["knn"](spark, SF).select("query_id", "rank", "image_id")
    assert _rows(fixed) == _rows(brute)


def test_cellring_edge_routing_exact(spark):
    """The antimeridian, pole and empty-ring routes to the exact fallback
    return exactly ``knn_join``'s rows, in both radius modes. One dense
    query certifies in its ring; the seam pair (lon +-179.99, nearest
    images across the seam), the lat-85 query and the sparse query (no
    image anywhere near its ring) must all fall back."""
    rng = np.random.RandomState(11)
    lon = np.concatenate(
        [
            rng.uniform(9.8, 10.2, 400),  # dense cluster around q_dense
            (rng.uniform(179.9, 180.1, 40) + 180.0) % 360.0 - 180.0,  # seam
            rng.uniform(-180.0, 180.0, 200),  # polar cap band
        ]
    )
    lat = np.concatenate(
        [
            rng.uniform(9.8, 10.2, 400),
            rng.uniform(19.9, 20.1, 40),
            rng.uniform(84.0, 86.0, 200),
        ]
    )
    images = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": [f"img_{i:04d}" for i in range(len(lon))], "lon": lon, "lat": lat}
        ),
        "image_id string, lon double, lat double",
    )
    queries = pd.DataFrame(
        {
            "query_id": ["q_dense", "q_seam_e", "q_seam_w", "q_pole", "q_sparse"],
            "qlon": [10.0, 179.99, -179.99, 30.0, -100.0],
            "qlat": [10.0, 20.0, 20.0, 85.0, -30.0],
        }
    )
    cols = ["query_id", "rank", "image_id"]
    brute = knn_join(images, queries, k=5).orderBy(cols[:2]).toPandas()
    routing = {}
    for mode, radius in (("fixed", 16), ("adaptive", None)):
        got = (
            knn_join_cellring(
                images, queries, k=5, res=8, ring_radius=radius, max_abs_lat=86.0
            )
            .orderBy(cols[:2])
            .toPandas()
        )
        pd.testing.assert_frame_equal(got[cols], brute[cols])
        assert (got["dist_m"] - brute["dist_m"]).abs().max() <= 1e-6
        routing[mode] = cache.decision("knn.routing")
    # adaptive radii also send the sparse query (inner ring too empty to
    # size a radius) down the edge-unsafe route
    assert routing == {
        "fixed": {"n_queries": 5, "satisfied": 1, "fallback": 4, "edge_unsafe": 3},
        "adaptive": {"n_queries": 5, "satisfied": 1, "fallback": 4, "edge_unsafe": 4},
    }


def test_cellring_empty_queries(spark):
    """An empty query dimension yields an empty result with the output
    schema and all-zero routing, in both radius modes."""
    images = spark.createDataFrame(
        [("img_0", 10.0, 10.0)], "image_id string, lon double, lat double"
    )
    queries = pd.DataFrame(
        {"query_id": pd.Series([], dtype=object), "qlon": [], "qlat": []}
    )
    for radius in (16, None):
        out = knn_join_cellring(
            images, queries, k=5, res=8, ring_radius=radius, max_abs_lat=60.0
        )
        assert out.columns == ["query_id", "rank", "image_id", "dist_m"]
        assert out.count() == 0
        routing = cache.decision("knn.routing")
        assert set(routing.values()) == {0}


def test_cellring_call_time_jobs(spark):
    """Calling the operator builds a lazy plan: the fixed-radius mode runs
    no Spark job, and the adaptive mode runs only its cell-count statistics
    collect (a broadcast of the ring-cell frame, the AQE shuffle-map job and
    the result job)."""
    images = e._images_fp(spark, SF)
    queries = synth.knn_query_points(SF)

    def call(radius):
        return lambda: knn_join_cellring(
            images, queries, k=5, res=8, ring_radius=radius, max_abs_lat=60.0
        )

    _, fixed = jobs_run_by(spark, "knn-cellring-fixed", call(16))
    _, adaptive = jobs_run_by(spark, "knn-cellring-adaptive", call(None))
    assert fixed == []
    assert len(adaptive) <= 3, adaptive


# --- radius_join -------------------------------------------------------------


def test_radius_join_exact_vs_brute(spark):
    """Pair set + distances must equal the brute-force numpy haversine,
    including an antimeridian-straddling pair, and must be invariant to
    the grid cell size (candidates are an implementation detail)."""
    import numpy as np

    from stac_catalog_builder_spark.functions.geo import haversine_np
    from stac_catalog_builder_spark.operators.knn import radius_join

    rng = np.random.RandomState(3)
    qlon = rng.uniform(-179.9, 179.9, 40)
    qlat = rng.uniform(-60.0, 60.0, 40)
    plon = rng.uniform(-179.9, 179.9, 3000)
    plat = rng.uniform(-60.0, 60.0, 3000)
    qlon[0], qlat[0] = 179.95, 10.0
    plon[0], plat[0] = -179.95, 10.0  # wraps: ~11 km apart, 359.9 deg in lon
    L = spark.createDataFrame(
        [(f"q{i}", float(qlon[i]), float(qlat[i])) for i in range(40)],
        "query_id string, lon double, lat double",
    )
    R = spark.createDataFrame(
        [(f"p{j}", float(plon[j]), float(plat[j])) for j in range(3000)],
        "image_id string, lon double, lat double",
    )
    rad = 250_000.0
    d = haversine_np(plon[None, :], plat[None, :], qlon[:, None], qlat[:, None])
    want = {
        (f"q{i}", f"p{j}"): d[i, j]
        for i in range(40)
        for j in range(3000)
        if d[i, j] <= rad
    }
    assert want, "oracle found no pairs — bad fixture"
    for kwargs in ({}, {"max_abs_lat": 61.0}, {"cell_deg": 9.5}):
        out = radius_join(L, R, rad, **kwargs).collect()
        got = {(r.query_id, r.image_id): r.dist_m for r in out}
        assert set(got) == set(want), kwargs
        assert max(abs(got[k] - want[k]) for k in want) < 1e-6
    assert ("q0", "p0") in want  # the antimeridian pair is exercised


def test_radius_join_guards(spark):
    import pytest

    from stac_catalog_builder_spark.operators.knn import radius_join

    df = spark.createDataFrame(
        [("a", 0.0, 0.0)], "query_id string, lon double, lat double"
    )
    rt = spark.createDataFrame(
        [("b", 0.0, 0.0)], "image_id string, lon double, lat double"
    )
    with pytest.raises(ValueError):
        radius_join(df, rt, radius_m=0.0)
    with pytest.raises(ValueError):
        radius_join(df, rt, radius_m=1000.0, cell_deg=100.0)


def test_radius_join_seam_cells_not_adjacent_mod_nx(spark):
    """ADVICE r5 (high) regression: with ceil-derived lon cells the LAST
    cell is narrower than cell_deg, so a qualifying pair can sit in cells
    (nx-2, 0) — 2 apart mod nx — and silently vanish from the 3x3 join.
    The reproduction pair: ~71 km apart at lat 60 across the antimeridian,
    radius 120 km, default cell sizing (the q_radius_join configuration)."""
    import math

    from stac_catalog_builder_spark.operators.knn import radius_join

    L = spark.createDataFrame(
        [("q", 178.77, 60.0)], "query_id string, lon double, lat double"
    )
    R = spark.createDataFrame(
        [("p", -179.95, 60.0)], "image_id string, lon double, lat double"
    )
    out = radius_join(L, R, radius_m=120_000.0).collect()
    assert len(out) == 1 and out[0].query_id == "q" and out[0].image_id == "p"
    # pin WHY this pair is the seam case: under the old ceil-derived
    # lattice (nx = ceil(360/cell_deg), key = floor((lon+180)/cell_deg))
    # the pair's cells are 2 apart mod nx — outside the 3x3 neighborhood
    cell_deg = 120_000.0 / (111_000.0 * math.cos(math.radians(66.0)))
    old_nx = int(math.ceil(360.0 / cell_deg))
    old_q = math.floor((178.77 + 180.0) / cell_deg) % old_nx
    old_p = math.floor((-179.95 + 180.0) / cell_deg) % old_nx
    assert min((old_q - old_p) % old_nx, (old_p - old_q) % old_nx) == 2
