"""kNN join: k nearest images per query point (north rule J5).

Two implementations with identical results:

- ``knn_join`` (default): **broadcast + map-side partial top-k**. The query
  set is small (a dimension table); it rides to every task. Each Arrow batch
  computes a (Q x B) haversine matrix in numpy and emits only the per-query
  top-k *of that batch* — so the shuffle carries at most
  ``num_batches * Q * k`` rows (plus exact distance ties) regardless of input
  size (linear scan, no crossJoin materialization; at 100 TB this is a single
  pass over the fact table). A final window rank merges the partials exactly.
  Ties at the k-th distance are all emitted from the partial stage, so the
  deterministic (dist_m, image_id) final ordering can never lose the winner
  to an arbitrary argpartition choice.

- ``knn_join_cellring``: hex-cell pruned kNN (H3-like k-ring, SURVEY.md §2.3
  J5) as ONE lazy plan: every query's k-ring is exploded to (cell, query_id)
  rows driver-side (dimension-sized), broadcast-joined against the fact
  table's cell column, and window-ranked. A query's result is provably exact
  when its k-th candidate distance is below the haversine lower bound of
  leaving the ring; that test is an in-plan predicate, and the uncertified
  remainder is answered in the same plan by an exact JVM scan of the fact
  projection against the broadcast pending queries. Calling it runs no Spark
  job in fixed-radius mode (adaptive mode runs its one cell-count
  statistics pass); when every query certifies, AQE replaces the fallback
  with an empty relation at run time.

The haversine lower bound per planar degree is computed from the caller's
bound on the latitude domain: ``cos(max|lat|)`` for longitude shrink times
``2/pi`` for the ``sin(x) <= x`` compression of the haversine longitude term
— a true lower bound at any latitude (the previous fixed 0.5 margin was only
valid below 60°). Queries whose ring approaches the antimeridian or a pole
(where planar hex geometry stops bounding great-circle distance) are always
routed to the exact fallback.

The reference has no kNN; its closest machinery is per-group ordering
(stacbuilder/metadata.py:510-532). Rank semantics: ties broken by image_id,
deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from ..functions.cells import (
    hex_cell_np,
    hex_cell_udf,
    hex_decode_np,
    hex_kring_np,
    hex_min_width_deg,
    hex_size,
)
from ..functions.geo import haversine_col, haversine_np
from ..session import local_frame

_OUT_SCHEMA = "query_id string, image_id string, dist_m double"
_METERS_PER_DEG_LAT = 111194.9  # pi * 6371000 / 180


def _queries_pdf(queries) -> pd.DataFrame:
    """The (query_id, qlon, qlat) dimension, driver-side. A pandas frame is
    taken as is; a Spark frame costs one collect."""
    if isinstance(queries, pd.DataFrame):
        return queries.loc[:, ["query_id", "qlon", "qlat"]]
    return queries.select("query_id", "qlon", "qlat").toPandas()


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """Rank (query_id, image_id, dist_m) candidates per query by (dist_m,
    image_id) and keep rank <= k. The rank filter plans Spark's
    WindowGroupLimit: a MAP-SIDE top-k per query before the window exchange,
    so a query whose candidates cover a dense cluster ships ~k rows per task
    instead of shuffling the whole cluster into one window task."""
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m"), F.col("image_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "image_id", "dist_m")
    )


def _partial_topk_gen(queries_pdf: pd.DataFrame, k: int):
    q_ids = queries_pdf["query_id"].to_numpy()
    q_lon = queries_pdf["qlon"].to_numpy()
    q_lat = queries_pdf["qlat"].to_numpy()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lon = pdf["lon"].to_numpy()
            lat = pdf["lat"].to_numpy()
            ids = pdf["image_id"].to_numpy()
            # (Q, B) distance matrix — vectorized, no per-row Python
            d = haversine_np(lon[None, :], lat[None, :], q_lon[:, None], q_lat[:, None])
            kk = min(k, d.shape[1])
            # emit EVERY row tied at the k-th distance: an argpartition pick
            # among bitwise-equal distances would be arbitrary and could drop
            # the image_id the deterministic final ordering keeps
            kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
            qi, bi = np.nonzero(d <= kth[:, None])
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "image_id": ids[bi],
                    "dist_m": d[qi, bi],
                }
            )

    return gen


def knn_join(images: DataFrame, queries, k: int) -> DataFrame:
    """Exact kNN: (query_id, rank, image_id, dist_m), rank 1..k.

    ``queries`` needs (query_id, qlon, qlat) and must be dimension-sized —
    it is collected once and closed over (equivalent of a broadcast var).
    A pandas DataFrame is accepted directly: the operator consumes the
    dimension driver-side anyway, so a caller that already holds it (e.g.
    from lake metadata or a driver-side read) skips one whole Spark job.
    """
    partials = images.select("image_id", "lon", "lat").mapInPandas(
        _partial_topk_gen(_queries_pdf(queries), k), schema=_OUT_SCHEMA
    )
    return _top_k(partials, k)


def _adaptive_radii(
    fact: DataFrame,
    queries_pdf: pd.DataFrame,
    q_cells: np.ndarray,
    k: int,
    res: int,
    shrink: float,
    alpha: int,
    r_inner_max: int,
    r_max: int,
) -> np.ndarray:
    """Per-query certification radii from EXACT cell-count statistics.

    One cheap stats pass (broadcast semi-join on the union of every query's
    ``r_inner_max``-ring + map-side-combined count — at production scale this
    is incrementally-maintained lake metadata) gives exact row counts per
    candidate cell. Per query: r_need = smallest ring radius holding
    >= alpha*k rows; the certification radius R then guarantees everything
    outside the R-ring is farther than any point inside the r_need-ring:
      kth_m <= (r_need + 1) * max_width_deg * METERS_PER_DEG      (upper)
      outside_m >= (R - 1) * min_width_deg * METERS_PER_DEG * shrink  (lower)
    => R = ceil((r_need + 1) * (max_width/min_width) / shrink) + 1.
    Returns radius -1 for queries whose r_inner_max ring cannot reach
    alpha*k rows (too sparse at this res -> exact fallback). This is what
    lets ONE resolution serve a 10^4x density skew: a hot-cluster query gets
    R ~ 4 (thousands of candidates instead of the whole cluster), a sparse
    query gets R ~ r_max."""
    spark = fact.sparkSession
    inner = {
        int(c)
        for qc in q_cells
        for c in hex_kring_np(int(qc), r_inner_max)
    }
    inner_df = local_frame(
        spark,
        pd.DataFrame({"cell": np.fromiter(sorted(inner), dtype=np.int64)}),
        "cell bigint",
    )
    cnt = {
        r["cell"]: r["n"]
        for r in fact.join(F.broadcast(inner_df), "cell")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    ratio = 2.0 / np.sqrt(3.0)  # hex max_width / min_width
    radii = np.full(len(queries_pdf), -1, dtype=np.int64)
    for i in range(len(queries_pdf)):
        cells = hex_kring_np(int(q_cells[i]), r_inner_max)
        _, cq, cr = hex_decode_np(cells)
        _, q0, r0 = hex_decode_np(np.asarray([int(q_cells[i])]))
        dq, dr = cq - q0[0], cr - r0[0]
        hexdist = np.maximum(np.maximum(np.abs(dq), np.abs(dr)), np.abs(dq + dr))
        counts = np.asarray([cnt.get(int(c), 0) for c in cells])
        cum = np.bincount(hexdist, weights=counts, minlength=r_inner_max + 1).cumsum()
        need = np.nonzero(cum >= alpha * k)[0]
        if len(need):
            r_need = int(need[0])
            radii[i] = min(int(np.ceil((r_need + 1) * ratio / shrink)) + 1, r_max)
    return radii


def knn_join_cellring(
    images: DataFrame,
    queries,
    k: int,
    *,
    max_abs_lat: float,
    res: int = 7,
    ring_radius: int | None = 16,
    cell_col: str | None = None,
    alpha: int = 4,
    r_inner_max: int = 12,
    r_max: int = 64,
) -> DataFrame:
    """Exact kNN via a one-shot hex-cell ring broadcast join.

    Plan: (1) fact rows gain a hex cell id at ``res`` (at production scale
    this is a precomputed table column and the scan prunes on it); (2) the
    union of every query's ring — a dimension-sized (cell, query_id) table —
    broadcast-equi-joins the fact side; (3) one window ranks candidates per
    query (pure JVM + map-side WindowGroupLimit). A query is *provably*
    complete when it has >= k candidates and its k-th distance is within the
    haversine lower bound of leaving its ring. That test runs in the plan
    against a broadcast per-query bound; the remaining queries (sparse
    regions, antimeridian/pole edge cases) are answered by an exact scan of
    the fact projection against the broadcast *pending* queries, ranked by
    the same JVM tail. Results are identical to ``knn_join`` (same oracle).
    The call returns a lazy plan; when every query certifies, the pending
    frame comes back empty at run time and AQE drops the fallback scan.
    The routing (n_queries, satisfied, fallback, edge_unsafe) is recorded,
    unevaluated (the call stays job-free), as the decision ``knn.routing``.

    ``ring_radius``: a fixed radius for every query, or **None for
    ADAPTIVE per-query radii** derived from exact cell-count statistics
    (see ``_adaptive_radii``) — the mode that survives heavy density skew:
    with a fixed radius, a query inside a hot cluster drags the whole
    cluster in as candidates; adaptively it gets a radius just large enough
    to certify its k-th neighbor. Adaptive mode runs one cheap statistics
    aggregate at call time (lake metadata at production scale) and works
    best with a precomputed ``cell_col``.

    ``cell_col`` names a PRECOMPUTED hex cell column at ``res`` (the
    production shape: the lake table stores the cell, the scan prunes on it
    and no per-call UDF pass runs). Without it the cell derives on the fly.

    ``max_abs_lat`` is the caller's bound on the fact table's |lat| domain
    (from lake statistics — parquet/Iceberg column min/max metadata — or the
    schema contract of the ingest). The bound must HOLD (|lat| <=
    max_abs_lat for every fact row) — a violated bound can wrongly certify a
    query as complete; it does not need to be tight (a loose bound only
    shrinks the provable radius and routes more queries to the exact
    fallback). ``90.0`` is always valid: slow, because most queries then
    fall back, but never wrong.
    """
    spark = images.sparkSession
    # pandas accepted directly, same contract as knn_join: the dimension is
    # consumed driver-side either way, a DataFrame just costs one more job
    queries_pdf = _queries_pdf(queries)
    q_lon = queries_pdf["qlon"].to_numpy()
    q_lat = queries_pdf["qlat"].to_numpy()
    q_cells = hex_cell_np(q_lon, q_lat, res)

    # provable meters-per-planar-degree lower bound over the joint lat domain
    max_abs_lat = max(float(max_abs_lat), float(np.abs(q_lat).max(initial=0.0)))
    shrink = max(np.cos(np.radians(min(max_abs_lat, 89.9))) * (2.0 / np.pi), 1e-6)
    min_width_m = hex_min_width_deg(res) * _METERS_PER_DEG_LAT * shrink

    cell = (
        F.col(cell_col)
        if cell_col is not None
        else hex_cell_udf(res)(F.col("lon"), F.col("lat"))
    )
    fact = images.select("image_id", "lon", "lat", cell.alias("cell"))

    if ring_radius is None:
        radii = _adaptive_radii(
            fact, queries_pdf, q_cells, k, res, shrink, alpha, r_inner_max, r_max
        )
    else:
        radii = np.full(len(queries_pdf), int(ring_radius), dtype=np.int64)
    bound_m = (radii - 1) * min_width_m  # per-query certification bound

    # planar hex geometry does not bound great-circle distance across the
    # antimeridian or near a pole: those queries go straight to the fallback
    # (as do adaptive queries whose inner ring was too sparse, radius -1)
    ring_deg = (radii + 2) * 2.0 * hex_size(res)
    edge_unsafe = (
        (np.abs(q_lon) > 180.0 - ring_deg)
        | (np.abs(q_lat) > 90.0 - ring_deg)
        | (radii < 0)
    )

    qid_chunks: list[np.ndarray] = [np.array([], dtype=object)]
    cell_chunks: list[np.ndarray] = [np.array([], dtype=np.int64)]
    for i, qid in enumerate(queries_pdf["query_id"]):
        if edge_unsafe[i]:
            continue
        ring = hex_kring_np(int(q_cells[i]), int(radii[i]))
        qid_chunks.append(np.full(len(ring), qid, dtype=object))
        cell_chunks.append(ring.astype(np.int64))
    ring_df = local_frame(
        spark,
        pd.DataFrame(
            {"query_id": np.concatenate(qid_chunks), "cell": np.concatenate(cell_chunks)}
        ),
        "query_id string, cell bigint",
    )
    qdim = local_frame(
        spark,
        queries_pdf.assign(bound_m=bound_m, safe=~edge_unsafe),
        "query_id string, qlon double, qlat double, bound_m double, safe boolean",
    )
    # Distance + rank stay PURE JVM on both branches: haversine_col keeps
    # them inside whole-stage codegen (no Arrow round trip) — guarded by
    # tests/test_plans.py::test_cellring_plan_jvm_with_group_limit.
    dist = haversine_col(F.col("lon"), F.col("lat"), F.col("qlon"), F.col("qlat"))
    ranked = _top_k(
        fact.join(F.broadcast(ring_df), "cell")
        .join(F.broadcast(qdim.select("query_id", "qlon", "qlat")), "query_id")
        .withColumn("dist_m", dist),
        k,
    )
    cert = (
        ranked.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("dist_m").alias("kth"))
        .join(F.broadcast(qdim), "query_id")
        .where(F.col("safe") & (F.col("n") >= k) & (F.col("kth") <= F.col("bound_m")))
        .select("query_id")
    )
    # the exact fallback reads the fact PROJECTION: column pruning drops the
    # unused cell column, so the encode UDF never runs on this branch
    pending = qdim.join(cert, "query_id", "anti").select("query_id", "qlon", "qlat")
    fallback = _top_k(
        fact.select("image_id", "lon", "lat")
        .crossJoin(F.broadcast(pending))
        .withColumn("dist_m", dist),
        k,
    )
    routing = qdim.join(cert.withColumn("ok", F.lit(1)), "query_id", "left").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count("ok").alias("satisfied"),
        F.count_if(F.col("ok").isNull()).alias("fallback"),
        F.count_if(~F.col("safe")).alias("edge_unsafe"),
    )
    cache.record("knn.routing", routing)
    return ranked.join(cert, "query_id", "semi").unionByName(fallback)


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_id: str = "query_id",
    right_id: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float | None = None,
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """Within-distance spatial join: every (left, right) pair whose
    haversine distance is <= ``radius_m``, with ``dist_m`` attached — the
    fixed-radius complement of the kNN join (proximity queries: "all
    scenes within 50 km of each ground station").

    Scale shape — never a cross join: both sides key on a planar grid
    whose cell edge covers the radius, the LEFT side explodes to its 3x3
    cell neighborhood (a bounded factor-9 map-side multiplier, like
    tile_cover), candidates meet in ONE equi-join on the cell key (AQE
    skew-splittable — a hot cluster is the same lever as everywhere else),
    and the exact JVM haversine prunes the corners. Cells wrap at the
    antimeridian via pmod so +179.9 pairs with -179.9.

    ``cell_deg`` must be >= the radius in longitude degrees at the
    worst-case latitude of the DATA (lon degrees shrink by cos(lat)); the
    default derives it from ``max_abs_lat`` (66 covers everything south of
    the polar circles) as ``radius_m / (111_000 * cos(max_abs_lat))``.
    Pass a tighter ``max_abs_lat`` (or ``cell_deg``) for equatorial
    corpora — smaller cells mean fewer candidates per hot cell. Rows
    poleward of the covered band can miss east-west neighbors (the 3x3
    contract breaks when a cell's ground width collapses); polar corpora
    need a dedicated projection, not a bigger cell.
    """
    import math

    if radius_m <= 0:
        raise ValueError(f"radius_m must be positive: {radius_m}")
    if cell_deg is None:
        cell_deg = radius_m / (111_000.0 * math.cos(math.radians(max_abs_lat)))
    if cell_deg <= 0 or cell_deg > 90.0:
        raise ValueError(f"cell_deg out of range (0, 90]: {cell_deg}")
    # UNIFORM lon cells >= cell_deg wide (ADVICE r5, high): with
    # nx = ceil(360/cell_deg) the LAST cell is narrower than cell_deg, so a
    # qualifying pair straddling it sits 2 cells apart mod nx and never
    # meets in the 3x3 join. nx = floor makes every cell 360/nx >= cell_deg
    # wide, and _gx keys on floor((lon+180) * nx / 360) so the wrap via
    # pmod is exact (regression test: seam pair at cell nx-2 <-> cell 0).
    nx = max(int(math.floor(360.0 / cell_deg)), 1)

    def xy(frame: DataFrame, id_col: str) -> DataFrame:
        return frame.select(
            F.col(id_col),
            F.col(lon).alias("_lon"),
            F.col(lat).alias("_lat"),
            F.floor((F.col(lon) + 180.0) * F.lit(float(nx)) / F.lit(360.0))
            .cast("bigint")
            .alias("_gx"),
            F.floor((F.col(lat) + 90.0) / F.lit(float(cell_deg)))
            .cast("bigint")
            .alias("_gy"),
        )

    l = xy(left, left_id).select(
        left_id,
        F.col("_lon").alias("_qlon"),
        F.col("_lat").alias("_qlat"),
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("_dx"),
        "_gx",
        "_gy",
    ).select(
        left_id,
        "_qlon",
        "_qlat",
        F.pmod(F.col("_gx") + F.col("_dx"), F.lit(nx)).alias("_cx"),
        F.explode(
            F.array(*[(F.col("_gy") + F.lit(d)) for d in (-1, 0, 1)])
        ).alias("_cy"),
    )
    r = xy(right, right_id).select(
        right_id,
        "_lon",
        "_lat",
        F.pmod(F.col("_gx"), F.lit(nx)).alias("_cx"),
        F.col("_gy").alias("_cy"),
    )
    dist = haversine_col(
        F.col("_lon"), F.col("_lat"), F.col("_qlon"), F.col("_qlat")
    )
    return (
        l.join(r, ["_cx", "_cy"])
        .select(left_id, right_id, dist.alias("dist_m"))
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
    )
