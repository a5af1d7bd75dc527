"""The benchmark workloads: inputs, one pass, output checks, layers.

A pass calls the engine only through ``__spark_entry__.queries()`` or the
public layer functions. Checks run outside the timed window and use only
``oracle_sql()`` (run by DuckDB on the generated inputs) or invariants the
workload guarantees by construction.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

import gen

TEXT_QUERIES = ("minhash_pairs", "simhash_pairs", "dedup_groups")
COPY_OFFSET = 1_000_000  # the id offset of the queries' exact copies


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def norm(p: pd.DataFrame) -> pd.DataFrame:
    p = p[sorted(p.columns)].copy()
    for c in p.columns:
        if p[c].dtype == object:
            p[c] = p[c].astype(str)
    return p.sort_values(by=list(p.columns), ignore_index=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return str(exc).splitlines()[0] + f" ({len(got)} vs {len(want)} rows)"
    return None


def dir_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden/marker files."""
    files = [
        f for f in path.rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    ]
    return len(files), sum(f.stat().st_size for f in files)


class Workload:
    name = ""
    OPS: tuple[str, ...] = ()
    prep_layer: str | None = None  # the layer metric set-up's prep feeds

    def __init__(self, in_dir: Path, smoke: bool):
        self.in_dir = in_dir
        self.d = str(in_dir)
        self.smoke = smoke
        self.rows = 0
        self.want: dict[str, object] = {}

    def duck(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        for t in ("orders", "nation", "documents"):
            p = self.in_dir / f"{t}.parquet"
            if p.is_dir():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
            elif p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return con

    def prepare(self, spark) -> None:
        """Dimension prep, timed as part of set-up."""

    def check(self, op: str, payload) -> str | None:
        return getattr(self, f"check_{op}")(payload)


class CatalogBuild(Workload):
    """The reference's whole job on a multi-file image lake. Its traced run
    also forces the read-only spatial queries' layers (kNN, sketches,
    temporal) on the same lake."""

    name = "catalog_build"
    OPS = ("extents", "rollup", "items", "checkpoint", "pending")
    prep_layer = "spatial_join.dim_prep_s"

    def stage(self, seed: int) -> int:
        n_rep, per_rep = (2, 750) if self.smoke else (4, 25_000)
        self.rows = gen.write_images_inputs(self.d, seed, n_rep, per_rep)
        return self.rows

    def prepare(self, spark) -> None:
        import __spark_entry__ as e
        from stac_catalog_builder_spark.operators.spatial_join import prepare_polygon_dim

        prepare_polygon_dim(spark, e._boundary_polygons(spark, self.d))

    def expected(self) -> dict[str, object]:
        import __spark_entry__ as e

        osql = e.oracle_sql()
        with self.duck() as con:
            return {
                "by_collection": con.sql(osql["extent_by_collection"]).df(),
                "rollup": con.sql(osql["extent_rollup"]).df(),
                "items": con.sql(osql["item_grouping"]).df(),
            }

    def run_pass(self, spark, sink: Path, tr) -> dict[str, object]:
        from pyspark.sql import functions as F

        import __spark_entry__ as e
        from stac_catalog_builder_spark import synth
        from stac_catalog_builder_spark.functions.cells import grid_cell_col
        from stac_catalog_builder_spark.operators.footprints import with_footprint
        from stac_catalog_builder_spark.operators.grouping import (
            collection_extents,
            collection_rollup,
            items_from_assets,
        )
        from stac_catalog_builder_spark.operators.spatial_join import (
            prepare_polygon_dim,
            spatial_join_pip,
        )
        from stac_catalog_builder_spark.operators.tiling import with_tile
        from stac_catalog_builder_spark.sources.catalog import write_items_partitioned
        from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

        d = self.d
        images, _ = tr.timed(
            "synth.call",
            lambda: with_footprint(synth.images(spark, d)).withColumn(
                "cell", grid_cell_col(F.col("lon"), F.col("lat"), 7)
            ),
        )
        dim, _ = tr.timed(
            "spatial_join.dim_prep",
            lambda: prepare_polygon_dim(spark, e._boundary_polygons(spark, d)),
        )
        assigned, _ = tr.timed("spatial_join.call", lambda: spatial_join_pip(images, dim=dim))
        tiled, _ = tr.timed("tiling.call", lambda: with_tile(assigned, zoom=6))
        items, _ = tr.timed("grouping.call", lambda: items_from_assets(assigned))
        tr.timed(
            "catalog.write",
            lambda: write_items_partitioned(
                items.withColumn("datetime", F.col("dt_min")), f"{sink}/items"
            ),
        )
        extents, _ = tr.timed(
            "grouping.extents",
            lambda: collection_extents(assigned, ["collection_id", "tile_id"]).toPandas(),
        )
        rollup, _ = tr.timed("grouping.rollup", lambda: _micro_rollup(collection_rollup(assigned)))
        store = SnapshotStore(f"{sink}/ckpt")
        to_write = tiled.select(
            "image_id", "tile_id", "collection_id", "tile_x", "tile_y",
            F.col("collection_id").alias("part_key"),
        )
        snap, _ = tr.timed(
            "checkpoint.write", lambda: store.write_stage(to_write, "assignments", "part_key")
        )
        n_pending, _ = tr.timed(
            "checkpoint.pending",
            lambda: store.pending(to_write, spark, "assignments", "part_key").count(),
        )
        return {
            "extents": extents,
            "rollup": rollup,
            "items": sink / "items",
            "checkpoint": (snap, sink / "ckpt" / "assignments" / "data"),
            "pending": n_pending,
        }

    def check_items(self, path: Path) -> str | None:
        import pyarrow.json as pj

        parts = []
        for f in sorted(path.rglob("part-*.json")):
            t = pj.read_json(f)
            p = t.select(["item_id", "n_assets", "n_types"]).to_pandas()
            for c in ("ext_w", "ext_s", "ext_e", "ext_n"):
                p[f"{c}_u"] = np.floor(t.column(c).to_numpy() * 100000.0 + 0.5).astype(np.int64)
            parts.append(p)
        got = pd.concat(parts, ignore_index=True)
        return same_frame(got, self.want["items"].drop(columns="dt_min_s"))

    def check_extents(self, ext: pd.DataFrame) -> str | None:
        # fold the (collection, tile) extents up to collections, then
        # compare with the collection-level oracle
        g = ext.groupby("collection_id")
        up = pd.DataFrame(
            {
                "n_assets": g["n_assets"].sum(),
                "ext_w_u": np.floor(g["ext_w"].min() * 100000.0 + 0.5).astype(np.int64),
                "ext_s_u": np.floor(g["ext_s"].min() * 100000.0 + 0.5).astype(np.int64),
                "ext_e_u": np.floor(g["ext_e"].max() * 100000.0 + 0.5).astype(np.int64),
                "ext_n_u": np.floor(g["ext_n"].max() * 100000.0 + 0.5).astype(np.int64),
                "dt_min_s": g["dt_min"].min().astype("datetime64[s]").astype(np.int64),
                "dt_max_s": g["dt_max"].max().astype("datetime64[s]").astype(np.int64),
            }
        ).reset_index()
        return same_frame(up, self.want["by_collection"])

    def check_rollup(self, got: pd.DataFrame) -> str | None:
        return same_frame(got, self.want["rollup"])

    def check_checkpoint(self, payload) -> str | None:
        import pyarrow.dataset as ds

        snap, data = payload
        want_parts = sorted(self.want["by_collection"]["collection_id"])
        if sorted(snap["partitions"]) != want_parts:
            return f"checkpoint committed {snap['partitions']}, want {want_parts}"
        n = ds.dataset(str(data), format="parquet", partitioning="hive").count_rows()
        if n != self.rows:
            return f"checkpoint holds {n} rows, want {self.rows}"
        return None

    def check_pending(self, n: int) -> str | None:
        return None if n == 0 else f"resume probe found {n} pending rows"

    def layers(self, spark, tr) -> dict[str, float]:
        """Force each layer's output in turn; the differences of the walls
        are the layers' increments."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        import __spark_entry__ as e
        from stac_catalog_builder_spark import synth
        from stac_catalog_builder_spark.functions.cells import grid_cell_col
        from stac_catalog_builder_spark.operators.footprints import with_footprint
        from stac_catalog_builder_spark.operators.grouping import items_from_assets
        from stac_catalog_builder_spark.operators.knn import knn_join_cellring
        from stac_catalog_builder_spark.operators.spatial_join import (
            prepare_polygon_dim,
            spatial_join_pip,
        )
        from stac_catalog_builder_spark.operators.tiling import with_tile

        d = self.d
        images = with_footprint(synth.images(spark, d)).withColumn(
            "cell", grid_cell_col(F.col("lon"), F.col("lat"), 7)
        )
        _, t_img = tr.timed("force.images", lambda: noop(images))
        assigned = spatial_join_pip(
            images, dim=prepare_polygon_dim(spark, e._boundary_polygons(spark, d))
        )
        obs = Observation("assigned")
        _, t_asg = tr.timed(
            "force.assigned", lambda: noop(assigned.observe(obs, F.count(F.lit(1)).alias("n")))
        )
        n_out = obs.get["n"]
        _, t_tile = tr.timed("force.tiled", lambda: noop(with_tile(assigned, zoom=6)))
        _, t_items = tr.timed("force.items", lambda: noop(items_from_assets(assigned)))
        # the read-only queries build the same scan and join themselves
        qs = e.queries()
        _, t_temporal = tr.timed("force.temporal", lambda: noop(qs["temporal_coverage"](spark, d)))
        _, t_hll = tr.timed("force.sketches", lambda: noop(qs["hll_distinct"](spark, d)))
        knn, _ = tr.timed(
            "knn.call",
            lambda: knn_join_cellring(
                e._images_fp(spark, d), e._knn_query_points(d),
                k=5, res=8, ring_radius=None, max_abs_lat=60.0,
            ),
        )
        _, t_knn = tr.timed("force.knn", lambda: noop(knn))
        return {
            "synth.force_s": t_img,
            "spatial_join.incr_s": t_asg - t_img,
            "spatial_join.rows_in": self.rows,
            "spatial_join.match_ratio": n_out / self.rows,
            "tiling.incr_s": t_tile - t_asg,
            "grouping.incr_s": t_items - t_asg,
            "temporal.incr_s": t_temporal - t_asg,
            "sketches.incr_s": t_hll - t_asg,
            "knn.incr_s": t_knn - t_img,
        }


def _micro_rollup(roll):
    """q_extent_rollup's projection of collection_rollup, collected."""
    from pyspark.sql import functions as F

    return roll.select(
        "collection_id",
        "year",
        "n_assets",
        *[
            F.floor(F.col(c) * 100000.0 + 0.5).cast("bigint").alias(f"{c}_u")
            for c in ("ext_w", "ext_s", "ext_e", "ext_n")
        ],
    ).toPandas()


class TextCuration(Workload):
    name = "text_curation"
    OPS = TEXT_QUERIES

    def stage(self, seed: int) -> int:
        n_base = 125 if self.smoke else 750
        self.rows = gen.write_documents(self.d, seed, n_base, 2)
        return self.rows

    def prepare(self, spark) -> None:
        from stac_catalog_builder_spark.session import read_parquet

        read_parquet(spark, f"{self.d}/documents.parquet").schema

    def expected(self) -> dict[str, object]:
        with self.duck() as con:
            return {"ids": np.sort(con.sql("SELECT doc_id FROM documents").df()["doc_id"].to_numpy())}

    def run_pass(self, spark, sink: Path, tr) -> dict[str, object]:
        import __spark_entry__ as e

        qs = e.queries()
        return {
            q: tr.timed(f"q.{q}", lambda q=q: qs[q](spark, self.d).toPandas())[0]
            for q in TEXT_QUERIES
        }

    def _copy_pairs_present(self, got: pd.DataFrame) -> str | None:
        if got.duplicated(["id_a", "id_b"]).any():
            return "duplicate candidate pairs"
        if not (got["id_a"] < got["id_b"]).all():
            return "pair with id_a >= id_b"
        have = set(zip(got["id_a"].tolist(), got["id_b"].tolist()))
        missing = sum((d, d + COPY_OFFSET) not in have for d in self.want["ids"].tolist())
        return f"{missing} exact-copy pairs missing" if missing else None

    def check_minhash_pairs(self, got):
        return self._copy_pairs_present(got)

    def check_simhash_pairs(self, got):
        if (got["hamming"] > 3).any():
            return "simhash pair beyond Hamming 3"
        return self._copy_pairs_present(got)

    def check_dedup_groups(self, got: pd.DataFrame) -> str | None:
        all_ids = np.sort(np.concatenate([self.want["ids"], self.want["ids"] + COPY_OFFSET]))
        if not np.array_equal(np.sort(got["doc_id"].to_numpy()), all_ids):
            return f"dedup_groups covers {len(got)} docs, want each of {len(all_ids)} once"
        g = got.set_index("doc_id")["group_id"]
        if not np.array_equal(g[self.want["ids"]].to_numpy(), g[self.want["ids"] + COPY_OFFSET].to_numpy()):
            return "an exact copy landed in another group than its original"
        if not got.groupby("group_id")["doc_id"].min().eq(
            got.groupby("group_id")["doc_id"].min().index
        ).all():
            return "group_id is not the group's smallest doc_id"
        kept = got[got["is_kept"]]
        if not (kept["doc_id"] == kept["group_id"]).all() or len(kept) != got["group_id"].nunique():
            return "each group must keep exactly its smallest doc_id"
        return None

    def layers(self, spark, tr) -> dict[str, float]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from stac_catalog_builder_spark.operators import dedup
        from stac_catalog_builder_spark.operators.graph import dedup_groups
        from stac_catalog_builder_spark.session import read_parquet

        docs = read_parquet(spark, f"{self.d}/documents.parquet").select("doc_id", "text")
        corpus = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + F.lit(COPY_OFFSET)))
        _, t_corpus = tr.timed("force.corpus", lambda: noop(corpus))
        pairs, _ = tr.timed("dedup.call", lambda: dedup.minhash_candidate_pairs(corpus))
        obs = Observation("pairs")
        _, t_pairs = tr.timed(
            "force.pairs", lambda: noop(pairs.observe(obs, F.count(F.lit(1)).alias("n")))
        )
        n_pairs = obs.get["n"]
        groups, _ = tr.timed("graph.call", lambda: dedup_groups(corpus, jaccard_threshold=0.8))
        _, t_groups = tr.timed("force.groups", lambda: noop(groups))
        return {
            "dedup.incr_s": t_pairs - t_corpus,
            "dedup.pairs": n_pairs,
            "graph.incr_s": t_groups - t_corpus,
        }


WORKLOADS = {w.name: w for w in (CatalogBuild, TextCuration)}


if __name__ == "__main__":
    # python3 workloads.py NAME IN_DIR OUT: pickle the expected outputs of
    # workload NAME's operations on the inputs staged in IN_DIR to OUT
    import pickle
    import sys

    name, in_dir, out = sys.argv[1:]
    Path(out).write_bytes(pickle.dumps(WORKLOADS[name](Path(in_dir), smoke=False).expected()))

