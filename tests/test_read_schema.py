"""read_parquet's pyarrow footer-read schema == Spark's own inference,
for every shipped table at every SF tier.

``session.read_parquet`` passes the schema read driver-side from the
parquet footer (skipping Spark's 1-task inference job per read); any
divergence from what ``spark.read.parquet`` would infer (types, names,
order, timestamp NTZ-ness) would silently change scan semantics, so it is
pinned exactly here.
"""

from __future__ import annotations

from glob import glob
from pathlib import Path

import pytest
from conftest import SF0001, jobs_run_by

from stac_catalog_builder_spark.session import read_parquet

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.mark.parametrize("sf_dir", sorted(glob(str(Path(SF0001).parent / "sf*"))))
def test_read_parquet_schema_matches_inference(spark, sf_dir):
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        inferred = spark.read.parquet(path).schema
        got = read_parquet(spark, path).schema
        assert got == inferred, (t, got, inferred)


def test_read_parquet_rows_match_inference(spark):
    # not just the schema: the scan itself returns identical rows
    path = "/root/testdata/sf0.001/orders.parquet"
    a = spark.read.parquet(path).collect()
    b = read_parquet(spark, path).collect()
    assert a == b


def test_read_parquet_follows_infer_timestamp_ntz_conf(spark):
    # with NTZ inference off, Spark reads isAdjustedToUTC=false timestamps
    # (orders.o_orderdate) as TIMESTAMP; the footer path must agree
    path = f"{SF0001}/orders.parquet"
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        inferred = spark.read.parquet(path).schema
        got = read_parquet(spark, path).schema
    finally:
        spark.conf.set(key, prev)
    assert got == inferred, (got, inferred)
    assert dict((f.name, f.dataType.typeName()) for f in got)["o_orderdate"] == "timestamp"


def test_read_parquet_local_file_uri_takes_footer_path(spark):
    # a file:// URI is local: no inference job, same schema as inference
    path = f"{SF0001}/orders.parquet"
    got, jobs = jobs_run_by(
        spark, "file-uri-read", lambda: read_parquet(spark, f"file://{path}").schema
    )
    assert jobs == []
    assert got == spark.read.parquet(path).schema
