"""Stateful streaming dedup: duplicates arriving in LATER micro-batches must
be dropped by the GroupState seen-set (the reference's incremental dedup,
terracatalog.py:517-521, as a streaming operator)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import types as T

from stac_catalog_builder_spark.streaming.events import read_file_stream, run_to_memory
from stac_catalog_builder_spark.streaming.stateful import streaming_dedup

SF = "/root/testdata/sf0.001"

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


@pytest.fixture()
def dup_stream_dir(spark, tmp_path):
    """Two files: batch 2 repeats every batch-1 text under new ids."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(100)
    d = tmp_path / "stream_src"
    docs.coalesce(1).write.parquet(str(d / "b1"))
    docs.selectExpr("doc_id + 1000000 AS doc_id", "text").coalesce(1).write.parquet(
        str(d / "b2")
    )
    # file source wants a flat dir of files
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, f in enumerate(sorted(d.glob("b*/**/*.parquet"))):
        shutil.copy(f, flat / f"{i:02d}.parquet")
    return str(flat)


def _run_dedup(spark, src, query_name):
    return run_to_memory(
        spark, streaming_dedup(read_file_stream(spark, src, DOCS_SCHEMA)), query_name
    )


def test_streaming_dedup_drops_cross_batch_duplicates(spark, dup_stream_dir, tmp_path):
    import uuid

    out = _run_dedup(spark, dup_stream_dir, f"d{uuid.uuid4().hex[:8]}")
    rows = out.collect()
    hashes = [r.content_hash for r in rows]
    assert len(hashes) == len(set(hashes))  # every hash emitted exactly once
    assert len(rows) == 100  # 200 inputs, 100 distinct texts
    assert all(r.doc_id < 1000000 for r in rows)  # first occurrence wins


def test_streaming_dedup_reruns_under_same_query_name(spark, dup_stream_dir):
    """A second run under the same query name starts from fresh state: the
    memory sink keeps no checkpoint of its own between runs, so the rerun
    neither fails to recover nor sees the first run's seen-set."""
    for _ in range(2):
        rows = _run_dedup(spark, dup_stream_dir, "dedup_rerun").collect()
        assert len(rows) == 100
        assert len({r.content_hash for r in rows}) == 100
