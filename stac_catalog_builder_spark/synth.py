"""Deterministic synthetic image+caption table (the driver's ``input_hint`` shape).

The driver mandates the input schema
``images(image_id string, bytes binary, w int, h int, fmt string, caption
string, phash bigint)`` (BASELINE.json ``input_hint``). No spatial table ships
in /root/testdata, so the engine *derives* one deterministically from the
driver's ``orders`` table using pure 64-bit integer arithmetic — the same
formulas are reproducible bit-for-bit in Spark, DuckDB (the driver's oracle)
and numpy (pytest oracles). This mirrors the reference's seeded mock-raster
fixtures (reference tests/conftest.py:54-70, 146-173: 12 deterministic
GeoTIFFs, 2 asset types x 2 years x 3 months).

Derivation (FIXTURES.md §1):
- ``h1 = (key * 2654435761) % 2^32``  (Knuth multiplicative scramble)
- ``h2 = (key * 2246822519) % 2^32``
- ``phash = h1 * 2^20 + (h2 % 2^20)`` — 52-bit positive int64
- cold placement: ``lon = -180 + (h1 % 360000)/1000``,
  ``lat = -60 + (h2 % 120000)/1000``
- hot placement (Zipf-ish hot H3 cells, 30% of rows, exercises salted skew):
  ``key % 10 < 3`` → 0.2°x0.2° cluster at (4.0, 51.0) with h1/h2 jitter.
- grouping metadata mirrors the reference corpus: 2 assets per item
  (asset_type = key % 2), months Jan-Mar x years 2000-2001
  (reference tests/test_builder.py:242-244: 12 assets -> 6 items).
All boundary constants are chosen OFF the data lattice (5-decimal offsets vs
3/4-decimal data) so point-in-polygon has no boundary ties between engines.

The two 25-row dimensions (boundary rectangles, kNN query points) are
derived once, driver-side in plain Python from ``nation``; their Spark
DataFrames (``boundaries``, ``knn_queries``) are built over those rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.geo import rect_ring
from .session import local_frame, read_parquet

# --- shared constants (mirrored in oracles.py SQL and numpy fixtures) ---
A_LON = 2654435761  # Knuth's multiplicative hash constant
A_LAT = 2246822519  # xxhash prime 2
M32 = 2**32
M20 = 2**20
LON_STEPS = 360_000
LAT_STEPS = 120_000
STEP_SCALE = 1000.0
HOT_MOD, HOT_LT = 10, 3  # key % 10 < 3  -> 30% of rows in the hot cluster
HOT_LON0, HOT_LAT0 = 4.0, 51.0
HOT_JITTER_STEPS, HOT_JITTER_SCALE = 2000, 10000.0
PIXEL_RES_DEG = 0.00025  # degrees per pixel for footprint half-extents

W_CYCLE = [240, 180, 64, 256]  # reference mock rasters are 240x180
H_CYCLE = [180, 120, 64, 256]  # (reference tests/conftest.py:155-156)
FMT_CYCLE = ["raw", "png"]
ASSET_TYPES = ["2m-temp-monthly", "tot-precip-monthly"]  # conftest.py:57-68

# 5x5 world boundary grid (one tile per nation row, one collection per region).
# Origins/sizes carry 5-decimal offsets so no data point lies on a boundary.
GRID_NX, GRID_NY = 5, 5
GRID_LON0, GRID_LAT0 = -180.001, -60.001
GRID_DLON, GRID_DLAT = 72.00055, 24.00055


def _h1(key: Column) -> Column:
    return (key * F.lit(A_LON)) % F.lit(M32)


def _h2(key: Column) -> Column:
    return (key * F.lit(A_LAT)) % F.lit(M32)


def images(
    spark: SparkSession, sf_dir: str, replicate: int = 1, fan_out: bool = False
) -> DataFrame:
    """The synthetic image+caption table, derived from ``orders``.

    Columns: img_key, image_id, phash, w, h, fmt, asset_type, item_id,
    year, month, datetime, caption  (+ footprint columns are added by
    ``operators.footprints.with_footprint``). ``bytes`` is *not* materialized
    here — ``operators.multimodal.with_encoded_bytes`` adds it on demand
    (keeps the scan narrow when a query only needs geometry, exactly the
    column-pruning the reference hand-rolled at terracatalog.py:623-626).

    ``replicate`` scales the table deterministically (disjoint key ranges per
    replica) for bench runs beyond the driver's SF tiers.

    ``fan_out=True`` repartitions the KEY column (one int64 per row — the
    only column this projection reads) when the parquet scan cannot feed the
    default parallelism (single-row-group SF files scan as one task, which
    would serialize every map-side consumer above; see ``parallel.fan_out``).
    Off by default so ``limit()``-based samplers keep their row selection;
    entry/bench call sites that are partition-invariant opt in.
    """
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    if fan_out and replicate == 1:
        from .parallel import fan_out as _fan_out

        orders = _fan_out(orders.select("o_orderkey"))
    if replicate > 1:
        # replicas via a partitioned range DRIVING a broadcast of the key
        # column: scales to any replicate with no shuffle and no giant plan
        # (a unionAll chain blows up analysis; a fact-side crossJoin inherits
        # the single-file scan's 1-2 partitions). The offset keeps replica
        # keys disjoint while key * A_LON stays inside int64 (ANSI mode
        # errors on overflow) up to replicate ~17000.
        # repartition the tiny replica range (not the expanded fact table!) so
        # downstream writes produce many uniform files: bench staging once
        # emitted 8 x 540MB files = one task wave at 32 cores (see
        # BENCH/BASELINE.md), and shuffling the expanded table instead would
        # spill the whole fact table
        reps = (
            spark.range(replicate)
            .repartition(min(replicate, 512))
            .select((F.col("id") * 200_000).alias("rep_off"))
        )
        orders = reps.crossJoin(F.broadcast(orders.select("o_orderkey"))).select(
            (F.col("o_orderkey") + F.col("rep_off")).alias("o_orderkey")
        )
    key = F.col("o_orderkey")
    h1, h2 = _h1(key), _h2(key)
    item_key = F.expr("o_orderkey div 2")
    month = (item_key % 3 + 1).cast("int")
    year = (F.expr("(o_orderkey div 2) div 3") % 2 + 2000).cast("int")
    w = F.element_at(F.array(*[F.lit(x) for x in W_CYCLE]), (key % 4 + 1).cast("int"))
    h = F.element_at(F.array(*[F.lit(x) for x in H_CYCLE]), (key % 4 + 1).cast("int"))
    fmt = F.element_at(F.array(*[F.lit(x) for x in FMT_CYCLE]), (key % 2 + 1).cast("int"))
    asset_type = F.element_at(
        F.array(*[F.lit(x) for x in ASSET_TYPES]), (key % 2 + 1).cast("int")
    )
    # String/timestamp derivations avoid format_string / to_timestamp
    # (java.lang.String.format + a parse round trip — measured ~2x the cost
    # of concat/lpad/make_timestamp for bit-identical output; r6 A/B with a
    # zero-diff equality check over the full key domain). The lpad branch
    # guards %08d semantics for keys >= 1e8 (replicate mode): lpad would
    # TRUNCATE them where %08d prints all digits.
    return orders.select(
        key.alias("img_key"),
        F.concat(
            F.lit("img_"),
            F.when(
                key < 100_000_000, F.lpad(key.cast("string"), 8, "0")
            ).otherwise(key.cast("string")),
        ).alias("image_id"),
        (h1 * F.lit(M20) + (h2 % F.lit(M20))).alias("phash"),
        h1.alias("h1"),
        h2.alias("h2"),
        w.cast("int").alias("w"),
        h.cast("int").alias("h"),
        fmt.alias("fmt"),
        asset_type.alias("asset_type"),
        F.concat(F.lit("observations_"), item_key.cast("string")).alias("item_id"),
        year.alias("year"),
        month.alias("month"),
        F.make_timestamp(
            year, month, F.lit(1), F.lit(0), F.lit(0), F.lit(0)
        ).alias("datetime"),
        F.concat(
            asset_type,
            F.lit(" observation "),
            F.lpad(year.cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad(month.cast("string"), 2, "0"),
            F.lit(" over item "),
            item_key.cast("string"),
        ).alias("caption"),
        # per-asset tags map (reference metadata.py:149-150); merged/overridden
        # by operators.assets.merge_tags, exploded in the tags_merge oracle
        F.create_map(
            F.lit("product_type"), asset_type,
            F.lit("fmt"), fmt,
            F.lit("rev"), (key % 7).cast("string"),
        ).alias("tags"),
    )


def _nation_keys(sf_dir: str) -> tuple[list[int], list[int]]:
    """``(n_nationkey, n_regionkey)`` in file order. Both 25-row dimensions
    derive from ``nation`` driver-side: a pyarrow read is ~5ms, where a
    Spark scan + collect is a whole job (~0.25-0.4s warm) per query."""
    import pyarrow.parquet as pq

    tab = pq.read_table(
        f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_regionkey"]
    )
    return (
        tab.column("n_nationkey").to_pylist(),
        tab.column("n_regionkey").to_pylist(),
    )


def _boundary_rows(sf_dir: str) -> list[tuple]:
    rows = []
    for nk, rk in zip(*_nation_keys(sf_dir)):
        tx, ty = nk % GRID_NX, nk // GRID_NX
        rows.append(
            (
                f"E{tx}N{ty}",
                f"coll_{rk}",
                GRID_LON0 + tx * GRID_DLON,
                GRID_LAT0 + ty * GRID_DLAT,
                GRID_LON0 + (tx + 1) * GRID_DLON,
                GRID_LAT0 + (ty + 1) * GRID_DLAT,
            )
        )
    return rows


def boundary_polygons(sf_dir: str) -> list[dict]:
    """The boundary dimension as rectangle rings, the input of
    ``spatial_join.prepare_polygon_dim``."""
    polys = []
    for tile_id, collection_id, w, s, e, n in _boundary_rows(sf_dir):
        rx, ry = rect_ring(w, s, e, n)
        polys.append(
            {
                "ring_x": rx,
                "ring_y": ry,
                "tile_id": tile_id,
                "collection_id": collection_id,
            }
        )
    return polys


def boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary/tile dimension table: one rectangle per ``nation`` row.

    5x5 world grid; ``collection_id`` comes from the nation→region key —
    the Spark analogue of the reference's item→collection association
    (builder.py:470-475). Tiny (25 rows): always broadcast.
    """
    return local_frame(
        spark,
        _boundary_rows(sf_dir),
        "tile_id string, collection_id string, bbox_w double, bbox_s double, "
        "bbox_e double, bbox_n double",
    )


def knn_query_points(sf_dir: str) -> pd.DataFrame:
    """kNN query points (query_id, qlon, qlat): one per nation row,
    scrambled placement, k=5. A fifth of the points land inside the hot
    cluster (FIXTURES.md §4)."""
    qid, qlon, qlat = [], [], []
    for n in _nation_keys(sf_dir)[0]:
        qk = n + 101
        h1, h2 = (qk * A_LON) % M32, (qk * A_LAT) % M32
        if n % 5 == 0:
            qlon.append(HOT_LON0 + (h1 % HOT_JITTER_STEPS) / HOT_JITTER_SCALE)
            qlat.append(HOT_LAT0 + (h2 % HOT_JITTER_STEPS) / HOT_JITTER_SCALE)
        else:
            qlon.append(-180.0 + (h1 % LON_STEPS) / STEP_SCALE)
            qlat.append(-60.0 + (h2 % LAT_STEPS) / STEP_SCALE)
        qid.append(f"q_{n:04d}")
    return pd.DataFrame({"query_id": qid, "qlon": qlon, "qlat": qlat})


def knn_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_query_points`` as a Spark DataFrame."""
    return local_frame(
        spark, knn_query_points(sf_dir), "query_id string, qlon double, qlat double"
    )
