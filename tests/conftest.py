"""Shared fixtures: one local SparkSession per test session.

Mirrors the reference's pytest structure (reference pyproject.toml:86-91,
tests/conftest.py) with Spark in place of mock GeoTIFF fixtures.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from stac_catalog_builder_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def jobs_run_by(spark, group: str, fn):
    """-> (``fn()``, ids of the Spark jobs it ran), tagged via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


# The suite's driver heap. Under the package's 8g default (GC log of a full
# tier-1 run, 4-core host) the heap left after a young or mixed collection
# peaked at 3.0 GB, but G1 grew the heap to the whole 8g and the JVM to
# 9.5 GB RSS, enough for the kernel to kill it beside a second JVM. At 4g
# the suite ran with no full collection, a 2.7 GB peak after collection and
# 5.3 GB peak RSS.
DRIVER_MEMORY = "4g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app="scb-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": DRIVER_MEMORY},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for sf, prefix in ((SF0001, ""),):
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE OR REPLACE VIEW {prefix}{t} AS "
                f"SELECT * FROM '{sf}/{t}.parquet'"
            )
    return con
