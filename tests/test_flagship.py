"""Flagship plan tests: lifecycle parity with the reference's
build_collection (reference stacbuilder/builder.py:795-809) — grouping
ratios, postprocessor hook, partitioned sink + resumable lineage."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from stac_catalog_builder_spark.plans.flagship import build_catalog

SF = "/root/testdata/sf0.001"


def test_build_catalog_stage_counts(spark):
    from pyspark.sql import functions as F

    r = build_catalog(spark, SF)
    n_images = r["images"].count()
    assert r["assigned"].count() == n_images  # grid partitions the domain
    # A2 split semantics (reference builder.py:780-793): one item row per
    # (item_id, exact micro-bbox). Synthetic assets each carry their own
    # footprint, so the expected count is the distinct key count.
    expected_items = (
        r["assigned"]
        .select(
            "item_id",
            *[
                F.floor(F.col(c) * 100000.0 + F.lit(0.5)).cast("bigint").alias(c + "_u")
                for c in ("fp_w", "fp_s", "fp_e", "fp_n")
            ],
        )
        .distinct()
        .count()
    )
    assert r["items"].count() == expected_items
    assert n_images // 2 <= expected_items <= n_images
    assert r["extents"].count() == 25  # 5x5 tile grid, all populated
    # rollup: 5 collections x 2 years + 5 collection roots + 1 global root
    assert r["rollup"].count() == 16


def test_item_postprocessor_hook(spark):
    def postproc(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["n_assets"] = pdf["n_assets"] * 10  # visible marker
            yield pdf

    base = build_catalog(spark, SF)
    base_vals = {
        row.n_assets for row in base["items"].select("n_assets").distinct().collect()
    }
    r = build_catalog(spark, SF, item_postprocessor=postproc)
    vals = {row.n_assets for row in r["items"].select("n_assets").distinct().collect()}
    assert vals == {v * 10 for v in base_vals}  # marker applied to every item


def test_flagship_sink_and_resume(spark, tmp_path):
    out = tmp_path / "cat"
    build_catalog(spark, SF, out_dir=str(out))
    # partitioned items in y/m/d layout
    assert list((out / "items").glob("year=*/month=*/day=*"))
    # data, the commit table, the snapshot log and the schema record landed
    stage = sorted(p.name for p in (out / "assignments").iterdir())
    assert stage == ["_metrics", "_schema.json", "_snapshots.json", "data"], stage
    snaps = [json.loads(line) for line in (out / "assignments" / "_snapshots.json").read_text().splitlines()]
    assert len(snaps) == 1
    assert sorted(snaps[0]["partitions"]) == [f"coll_{i}" for i in range(5)]
    metrics = spark.read.parquet(str(out / "assignments" / "_metrics"))
    assert metrics.count() == 5
    # resume: all partitions complete -> pending is empty
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    store = SnapshotStore(str(out / "assignments"))
    work = spark.createDataFrame([(f"coll_{i}",) for i in range(5)], "part_key string")
    # note: stage dir layout is <root>/<stage>/...; the store was rooted at
    # out_dir in build_catalog, stage name "assignments"
    store2 = SnapshotStore(str(out))
    assert store2.pending(work, spark, "assignments", "part_key").count() == 0
