#!/usr/bin/env python
"""Regenerate PLANS.md: `explain(formatted)` for the plans whose shape the
engine's 100 TB story depends on, with a one-line claim per plan that
tests/test_plans.py asserts mechanically. Run: python jobs/dump_plans.py"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as e  # noqa: E402
from stac_catalog_builder_spark import synth  # noqa: E402
from stac_catalog_builder_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _mixture_plan(spark):
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    mixed = sampling.weighted_mixture(
        {"primary": docs, "upweight": docs},
        {"primary": 0.5, "upweight": 0.9},
    )
    return sampling.dataset_split(mixed, "doc_id")


def _packing_plan(spark):
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark.operators.packing import pack_sequences
    from stac_catalog_builder_spark.operators.textops import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=0).select(
        F.concat_ws("_", "doc_id", "chunk_idx").alias("chunk_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    return pack_sequences(chunks, budget=256, n_groups=8)


def _pyramid_plan(spark):
    # materialize the noop write first so the lazy base checkpoint exists and
    # the dumped plan is the one later jobs actually see (tests/test_cells.py
    # asserts the same shape)
    df = e.queries()["tile_pyramid"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    return df


def main() -> None:
    spark = get_spark(app="dump-plans", master="local[4]", shuffle_partitions=8)
    from stac_catalog_builder_spark.operators.spatial_join import (
        prepare_polygon_dim,
        spatial_join_pip,
    )
    from stac_catalog_builder_spark.operators.tiling import with_tile

    dim = prepare_polygon_dim(spark, synth.boundary_polygons(SF))
    flagship = with_tile(
        spatial_join_pip(e._images_fp(spark, SF), dim=dim), zoom=6
    ).select("image_id", "tile_id", "collection_id", "tile_x", "tile_y")

    sections = [
        (
            "Flagship spatial join + tile assignment",
            "Claim: single-column pruned scan, broadcast-only joins, zero "
            "Python evals, whole-stage codegen end-to-end.",
            flagship,
        ),
        (
            "pricing_summary (filter pushdown)",
            "Claim: the shipdate predicate reaches the parquet scan "
            "(PushedFilters) and only referenced columns are read.",
            e.queries()["pricing_summary"](spark, SF),
        ),
        (
            "knn (bounded shuffle)",
            "Claim: the exchange input is the map-side partial top-k output "
            "(batches x Q x k rows), never the fact table.",
            e.queries()["knn"](spark, SF),
        ),
        (
            "minhash_pairs (guarded LSH self-join)",
            "Claim: exact-dup star collapse before the bucket join; the "
            "self-join keys on (bucket, salt); no nested-loop join.",
            e.queries()["minhash_pairs"](spark, SF),
        ),
        (
            "asof_join (union + window forward-fill)",
            "Claim: one shuffle on the join key; no range/theta join.",
            e.queries()["asof_join"](spark, SF),
        ),
        (
            "item_grouping (Expand-free consistency checks)",
            "Claim: one hash aggregate over (item_id, bbox key) with "
            "map-side partial combine; no Expand node (collect_set over "
            "bounded domains replaces dual exact countDistinct).",
            e.queries()["item_grouping"](spark, SF),
        ),
        (
            "knn_cellring (JVM candidate path + map-side group limit)",
            "Claim: broadcast ring join, codegen haversine (ASIN/SQRT "
            "expression, no pandas UDF), and a Partial WindowGroupLimit "
            "before the window exchange so dense hot clusters ship ~k rows "
            "per task, never the whole cluster into one window task. "
            "(Adaptive mode: the per-query radii derive from a separate "
            "dimension-sized stats aggregate; the candidate plan below is "
            "unchanged.)",
            e.queries()["knn_cellring"](spark, SF),
        ),
        (
            "dataset split + mixture (shuffle-free sampling)",
            "Claim: deterministic hash split/sample/mixture are pure "
            "map-side expressions — NO Exchange anywhere in the plan "
            "(before the caller's own aggregation), no Python, codegen "
            "integer compares only.",
            _mixture_plan(spark),
        ),
        (
            "deterministic_shuffle (global rank without a global sort)",
            "Claim: NO rangepartitioning / global Sort anywhere — the rank "
            "decomposes into block counts (a dimension-sized aggregate), a "
            "cumsum window over the tiny block table, a broadcast offset "
            "join back, and ONE fact-table hash exchange on the block key "
            "for the within-block window. All integer codegen, no Python.",
            e.queries()["deterministic_shuffle"](spark, SF),
        ),
        (
            "hll_distinct (sketch aggregation — raw keys never shuffle)",
            "Claim: the fmix32 hash chain is pure codegen integer algebra "
            "(no Python, no transcendentals); every aggregate is a "
            "partial+final HashAggregate pair, so each input partition "
            "ships at most m register rows per group into each exchange — "
            "raw keys never shuffle. The dumped entry runs the full rollup "
            "chain (registers per (collection, tile) -> max-merge to "
            "collection -> estimate): three register-bounded exchanges; "
            "the direct single-group path uses two.",
            e.queries()["hll_distinct"](spark, SF),
        ),
        (
            "tile_pyramid (prefix-fold rollup off one fact pass)",
            "Claim: after the base tile aggregate (one scan + one exchange, "
            "materialized once via lazy localCheckpoint), every coarser "
            "zoom is a substring+sum over the dimension-sized tile table — "
            "the final plan contains NO parquet scan and only tile-table "
            "exchanges. (The checkpoint exists because exchange reuse does "
            "not fire across union branches: without it, 3 scans / 5 "
            "exchanges at 2 extra levels.)",
            _pyramid_plan(spark),
        ),
        (
            "temporal_coverage (one-shuffle gaps-and-islands)",
            "Claim: ONE Exchange hashpartitioning total — the running-max "
            "window and the final aggregate partition on the same keys, so "
            "the aggregate reuses the window's partitioning; the fold "
            "avoids materializing islands (no second keyed shuffle).",
            e.queries()["temporal_coverage"](spark, SF),
        ),
        (
            "sequence_pack (single-shuffle packing)",
            "Claim: exactly ONE exchange (the pack_group hash partition) "
            "feeding one Arrow-batched FlatMapGroupsInPandas; group "
            "membership is a deterministic key hash, not Spark's "
            "partitioning.",
            _packing_plan(spark),
        ),
        (
            "radius_join (within-distance join — never a cross join)",
            "Claim: candidates meet in an equi-join on the grid cell keys "
            "(a bounded factor-9 left-side explode), the haversine filter "
            "is codegen ASIN/SQRT math — NO CartesianProduct, NO "
            "BroadcastNestedLoopJoin, no Python anywhere.",
            e.queries()["radius_join"](spark, SF),
        ),
        (
            "union_area (exact rectangle-union dissolve, zero UDFs)",
            "Claim: the whole decomposition (cell explode/clip, slab "
            "window, span join, y-union fold, final aggregate) is JVM "
            "column algebra — no Python eval, no CartesianProduct; the "
            "span join is an equi-join on (group, cell) that AQE can "
            "skew-split.",
            e.queries()["union_area"](spark, SF),
        ),
    ]

    out = [
        "# PLANS — `explain(formatted)` evidence for the scale-critical plans",
        "",
        "Generated by `python jobs/dump_plans.py` (sf0.001 inputs; plan SHAPE",
        "is scale-independent). tests/test_plans.py asserts the claims below",
        "mechanically so they cannot rot.",
        "",
    ]
    for title, claim, df in sections:
        out += [f"## {title}", "", claim, "", "```", formatted(df).strip(), "```", ""]
    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {REPO / 'PLANS.md'}")
    spark.stop()


if __name__ == "__main__":
    main()
