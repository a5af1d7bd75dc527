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


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="scb-spark-tests", master="local[4]", shuffle_partitions=8)
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
