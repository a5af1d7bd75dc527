#!/usr/bin/env python
"""Per-query optimization harness (bench.py stays frozen for the driver).

Runs a chosen subset of the bench queries with the same noop-sink forcing
and prints per-pass walls, so a single operator can be iterated on without
paying the full suite. Optionally dumps .explain("formatted") per query to
plans/r06/<name>_<tag>.txt (guide §1: capture the plan, then measure).

Usage:
  python bench_extra.py q1 q2 ...          # time those queries (2 passes)
  python bench_extra.py --passes 3 --explain before q1 ...
  python bench_extra.py --all              # the full bench list once
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stac_catalog_builder_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "cell_assign", "tile_assign", "item_grouping", "extent_rollup", "knn",
    "knn_cellring", "knn_cellring_fixed", "dedup_exact", "minhash_pairs",
    "simhash_pairs", "ann_cosine_topk", "ann_lsh_topk", "tags_merge",
    "bands_explode", "tile_topk_density", "pricing_summary",
    "revenue_by_nation", "events_hourly", "sessionize",
    "spatial_join_partitioned", "dedup_groups", "sequence_pack",
    "temporal_coverage", "hll_distinct", "tile_pyramid", "group_sample",
    "scd2_history", "fixity_audit", "radius_join", "inverted_postings",
]


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def flagship(spark, sf_dir, e, dim):
    from stac_catalog_builder_spark.operators.spatial_join import spatial_join_pip
    from stac_catalog_builder_spark.operators.tiling import with_tile
    from stac_catalog_builder_spark.operators.grouping import collection_extents

    assigned = spatial_join_pip(e._images_fp(spark, sf_dir), dim=dim)
    tiled = with_tile(assigned, zoom=6)
    _force(tiled.select("image_id", "tile_id", "collection_id", "tile_x", "tile_y"))
    _force(collection_extents(assigned, ["collection_id", "tile_id"]))


def sinks(spark, sf_dir):
    """Replicates bench.py's write_items / resume / write_shards rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators.multimodal import with_encoded_bytes
    from stac_catalog_builder_spark.sources.catalog import write_items_partitioned
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore
    from stac_catalog_builder_spark.sources.shards import write_webdataset_shards

    items = synth.images(spark, sf_dir).select(
        "image_id", "item_id", "asset_type", "datetime", "w", "h", "fmt"
    )
    tmp = tempfile.mkdtemp(prefix="scb_bx_sink_", dir="/dev/shm")
    out = {}
    try:
        t0 = time.time()
        write_items_partitioned(items, f"{tmp}/items", fmt="json")
        out["write_items"] = round(time.time() - t0, 3)

        t0 = time.time()
        mgr = SnapshotStore(f"{tmp}/ckpt")
        keyed = items.withColumn("ym", F.date_format("datetime", "yyyy-MM"))
        mgr.write_stage(keyed, "items", "ym")
        assert mgr.pending(keyed, spark, "items", "ym").count() == 0
        out["resume"] = round(time.time() - t0, 3)

        wds_src = with_encoded_bytes(
            synth.images(spark, sf_dir).where(F.col("img_key") < 4000)
        )
        t0 = time.time()
        man = write_webdataset_shards(
            wds_src, f"{tmp}/wds_{time.time_ns()}", n_shards=32,
            meta_cols=["caption", "fmt", "w", "h"],
        ).collect()
        assert sum(m["n_members"] for m in man) > 0
        out["write_shards"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain", default=None, help="tag: dump plans/r06/<q>_<tag>.txt")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--conf", action="append", default=[], help="k=v extra spark conf")
    args = ap.parse_args()

    import __spark_entry__ as e
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators.spatial_join import prepare_polygon_dim

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app="scb-bench-extra", extra_conf=extra or None)
    qs = e.queries()
    names = BENCH_QUERIES + ["flagship"] if args.all else args.names
    dim = None
    if "flagship" in names:
        dim = prepare_polygon_dim(spark, synth.boundary_polygons(args.sf_dir))

    import numpy as np

    def probe():
        x = np.arange(1, 20_000_000, dtype=np.float64)
        t0 = time.time()
        np.sqrt(np.sin(x) ** 2 + np.cos(x) ** 2)
        return round(time.time() - t0, 2)

    out = {"_probe0": probe()}
    for name in names:
        if args.explain and name != "flagship":
            df = qs[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            Path(f"plans/r06/{name}_{args.explain}.txt").write_text(plan)
        walls = []
        for _ in range(args.passes):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            if name == "flagship":
                flagship(spark, args.sf_dir, e, dim)
            elif name == "sinks":
                print(json.dumps(sinks(spark, args.sf_dir)), flush=True)
            else:
                _force(qs[name](spark, args.sf_dir))
            walls.append(round(time.time() - t0, 3))
        out[name] = walls
        print(json.dumps({name: walls}), flush=True)
    out["_probe1"] = probe()
    print(json.dumps({"all": out}))
    spark.stop()


if __name__ == "__main__":
    main()
