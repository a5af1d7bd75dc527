"""Item/collection grouping + extent aggregation (reference parity core).

Reproduces, as single shuffle stages, what the reference does with nested
dicts and incremental mutation:

- assets -> items: ``_group_metadata_by_item_id`` + ``_split_group_by_latlon``
  (stacbuilder/builder.py:765-793) == one ``groupBy(item_id, bbox-key)``;
- per-item consistency asserts (builder.py:203-216) == ``countDistinct`` checks
  carried as columns;
- item -> collection extent (``_update_extent_from_item``,
  builder.py:484-510) == min/min/max/max + min/max timestamp aggregates;
- year-grouped collections + root rollup (builder.py:843-889) == ``rollup``.

Scale: extent aggregation is algebraic (partial map-side combine for free).
For *hot-key* skew (one item_id / collection with 10^9 assets), use
``salted_extent_agg``: two-phase agg over (key, salt) then key — the classic
salting pattern the north rule asks for explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Extent aggregate set, reused at item / tile / collection granularity.
def _extent_aggs() -> list:
    return [
        F.count(F.lit(1)).alias("n_assets"),
        F.min("fp_w").alias("ext_w"),
        F.min("fp_s").alias("ext_s"),
        F.max("fp_e").alias("ext_e"),
        F.max("fp_n").alias("ext_n"),
        F.min("datetime").alias("dt_min"),
        F.max("datetime").alias("dt_max"),
    ]


_BBOX_COLS = ("fp_w", "fp_s", "fp_e", "fp_n")


def items_from_assets(assets: DataFrame, enforce_consistency: bool = False) -> DataFrame:
    """Group asset rows into item rows (A1 + A2 + A3).

    One shuffle: groupBy(item_id + bbox key). Assets of one item_id with
    different footprints split into separate item rows (the reference's
    semantics, builder.py:780-793) — the secondary key is the exact
    micro-degree integer bbox tuple, so the split is deterministic and
    engine-independent. Emits per-item asset array (sorted for
    deterministic output, the analogue of the reference's sorted links,
    builder.py:549), extent, and the consistency checks the reference asserts
    per group (builder.py:203-216) as ``n_*_distinct`` columns.

    ``enforce_consistency=True`` upgrades the observational columns to the
    reference's hard asserts: a group whose assets disagree on datetime
    raises at execution time (builder.py:203-216 ItemBuilder asserts).
    """
    keys = ["item_id"] + [f"_bk_{c}" for c in _BBOX_COLS]
    df = assets
    for c in _BBOX_COLS:
        df = df.withColumn(
            f"_bk_{c}", F.floor(F.col(c) * 100000.0 + F.lit(0.5)).cast("bigint")
        )
    # Exact distinct counts via collect_set, NOT countDistinct: two exact
    # countDistinct aggregates make Catalyst Expand every input row ~3x
    # before the biggest shuffle in the catalog path. asset_type and
    # (year, month) are bounded-domain metadata (2 types, 6 year-months), so
    # per-group sets stay tiny and combine map-side — one pass, no Expand.
    out = df.groupBy(*keys).agg(
        *_extent_aggs(),
        F.array_sort(F.collect_list("image_id")).alias("asset_ids"),
        F.size(F.collect_set("asset_type")).cast("bigint").alias("n_types"),
        # null guard keeps countDistinct semantics (ADVICE r3): countDistinct
        # skips rows where ANY column is NULL, while collect_set would keep
        # structs with NULL fields — the when(...) maps those rows to NULL,
        # which collect_set drops, so both agree on nullable inputs
        F.size(
            F.collect_set(
                F.when(
                    F.col("year").isNotNull() & F.col("month").isNotNull(),
                    F.struct("year", "month"),
                )
            )
        )
        .cast("bigint")
        .alias("n_datetime_distinct"),
        F.first("year").alias("year"),
        F.first("month").alias("month"),
    ).drop(*[f"_bk_{c}" for c in _BBOX_COLS])
    if enforce_consistency:
        # assert_true evaluates inside a filter (a dropped withColumn would
        # be pruned away); NULL result = passed
        out = out.where(
            F.assert_true(
                F.col("n_datetime_distinct") == 1,
                F.concat(
                    F.lit("inconsistent item group (datetime mismatch): "),
                    F.col("item_id"),
                ),
            ).isNull()
        )
    return out


def first_asset_geometry(assets: DataFrame) -> DataFrame:
    """'First asset defines the item geometry' — the reference picks
    ``assets[0]`` arbitrarily (builder.py:200); we make it deterministic with
    a window: row_number over (item_id, order by image_id) == 1."""
    w = Window.partitionBy("item_id").orderBy("image_id")
    return (
        assets.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def collection_extents(assigned: DataFrame, keys: list[str]) -> DataFrame:
    """Extent aggregation at any key granularity (collection, tile, ...)."""
    return assigned.groupBy(*keys).agg(*_extent_aggs())


def collection_rollup(assigned: DataFrame) -> DataFrame:
    """Leaf (collection, year) extents + per-collection root + global root —
    exactly the reference's grouped collections with a root collection whose
    extent spans the children (builder.py:858-889), via ``rollup``."""
    return (
        assigned.rollup("collection_id", "year")
        .agg(*_extent_aggs())
        .withColumn("collection_id", F.coalesce("collection_id", F.lit("ALL")))
        .withColumn("year", F.coalesce("year", F.lit(-1)))
    )


def salted_extent_agg(
    assigned: DataFrame, key: str, salt_buckets: int = 32
) -> DataFrame:
    """Two-phase (salted) extent aggregation for skewed keys.

    Phase 1 aggregates (key, salt) — spreading a hot key over
    ``salt_buckets`` reducers; phase 2 merges the tiny per-salt partials.
    All extent aggregates are algebraic, so the rewrite is exact.
    """
    salt = F.pmod(F.xxhash64("image_id"), F.lit(salt_buckets)).alias("_salt")
    phase1 = assigned.withColumn("_salt", salt).groupBy(key, "_salt").agg(*_extent_aggs())
    return phase1.groupBy(key).agg(*_merge_extent_aggs())


def _merge_extent_aggs() -> list:
    """Merge-side aggregates for already-aggregated extent summaries. Every
    extent statistic is algebraic (sum/min/max), so merging partials is
    EXACT — the same property salted_extent_agg exploits per-key."""
    return [
        F.sum("n_assets").alias("n_assets"),
        F.min("ext_w").alias("ext_w"),
        F.min("ext_s").alias("ext_s"),
        F.max("ext_e").alias("ext_e"),
        F.max("ext_n").alias("ext_n"),
        F.min("dt_min").alias("dt_min"),
        F.max("dt_max").alias("dt_max"),
    ]


def merge_extent_summaries(keys: list[str], *summaries: DataFrame) -> DataFrame:
    """Merge any number of per-key extent summaries (outputs of
    ``collection_extents`` / previous merges) into one, exactly."""
    if not summaries:
        raise ValueError("need at least one summary")
    merged = summaries[0]
    for s in summaries[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*keys).agg(*_merge_extent_aggs())


def incremental_extents(
    prev_summary: DataFrame | None, new_assigned: DataFrame, keys: list[str]
) -> DataFrame:
    """Incremental catalog maintenance: fold a batch of NEWLY ASSIGNED
    assets into an existing per-key extent summary without rescanning
    history — the shape a 100 TB catalog needs for daily appends (the
    reference rebuilds collection extents from every item each run,
    builder.py:484-510; at lake scale that is a full-history pass per
    update). Cost: one aggregation over the INCREMENT plus a merge with the
    dimension-sized previous summary. Exact because every extent statistic
    is algebraic; consequently APPEND-ONLY — deletions would need
    re-aggregation of the affected keys (min/max are not subtractable),
    which callers do by recomputing just those keys' facts.

    ``prev_summary=None`` bootstraps (first batch)."""
    inc = collection_extents(new_assigned, keys)
    if prev_summary is None:
        return inc
    return merge_extent_summaries(keys, prev_summary, inc)
