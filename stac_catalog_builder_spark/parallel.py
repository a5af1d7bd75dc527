"""Scan fan-out: give narrow scans enough partitions to feed the cluster.

Parquet scan parallelism is bounded by row-group count, not split count: a
small table written as one row group (the driver's SF tiers are exactly
that) scans as ONE task no matter how many byte-range splits Spark makes,
so every map-side stage above it — codegen projections, pandas-UDF encode/
sketch kernels, broadcast-join probes — runs serially until the first
exchange (guide §2.5 "input skew": one huge unsplittable input partition;
the fix is "repartition immediately after the read").

``fan_out`` is the scale-adaptive form of that fix: it repartitions ONLY
when the scan's actual partition count cannot feed the default parallelism
(measured from the physical plan, no job is run). At production scale a
fact-table scan has thousands of row groups, the gate fails, and the
operator is a no-op — so this never adds a data-sized shuffle where the
scan already parallelizes. The shuffle it does add moves the narrow
pre-projection rows (project-before-exchange, guide §2.3), which for the
synthetic lake is one int64 key column per row.

Callers MUST NOT fan out below a bare ``limit()``/head: round-robin
repartitioning changes which rows a limit picks. Every call site in this
repo sits either above deterministic filters only, or below the limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def scan_partitions(df: DataFrame) -> int:
    """Physical partition count of ``df``'s plan (planning only, no job)."""
    return df.rdd.getNumPartitions()


def fan_out(df: DataFrame, min_ratio: int = 2) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism iff its
    scan-side partition count is below ``parallelism / min_ratio`` — a
    no-op whenever the source already feeds the cluster.

    Kept on a 4-core A/B (sf0.1, ``bench_extra.py --passes 3``, 2
    alternating rounds per side, warm passes), against a copy where this
    returns its input: image_decode_stats 4.61-4.93 s vs 9.41-10.89 s,
    the write_shards sink 6.14-6.49 s vs 12.13-14.25 s, tags_merge
    1.50-1.63 s vs 1.77-2.23 s."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if scan_partitions(df) * min_ratio >= target:
        return df
    return df.repartition(target)
