"""Two queries on one SparkSession, one per thread, each in its own
``cache.run()``: every thread's outputs and decisions must equal a serial
run of the same query, so neither can overwrite the other's caches or
decisions."""

from __future__ import annotations

import sys
import threading

from conftest import SF0001 as SF
from pyspark.sql import functions as F

from stac_catalog_builder_spark import cache
from stac_catalog_builder_spark.operators.graph import dedup_groups
from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore


def _query(spark, name: str, max_bucket: int, root, barrier=None) -> dict:
    """dedup_groups plus a checkpointed write of its groups; with a
    ``barrier``, wait there after the operator calls and before the reads."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    if name == "dup":  # every text twice: oversized buckets at a small max_bucket
        docs = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    else:
        docs = docs.where(F.col("doc_id") % 2 == 0)
    groups = dedup_groups(docs, max_bucket=max_bucket)
    store = SnapshotStore(root)
    store.write_stage(groups.withColumn("part", F.col("group_id") % 4), "groups", "part")
    if barrier is not None:
        barrier.wait()
    return {
        "groups": sorted(map(tuple, groups.collect())),
        "stage": sorted(map(tuple, store.read_stage(spark, "groups").collect())),
        "salt": cache.decision("salt.minhash_pairs"),
        "cc": cache.decision("cc"),
    }


def test_concurrent_runs_match_serial(spark, tmp_path):
    cases = {"dup": 2, "half": 256}
    serial = {}
    for name, max_bucket in cases.items():
        with cache.run():
            serial[name] = _query(spark, name, max_bucket, tmp_path / f"serial_{name}")
    # the two queries must differ in every decision the test compares
    assert serial["dup"]["salt"]["oversized_buckets"] > 0
    assert serial["half"]["salt"]["oversized_buckets"] == 0
    assert serial["dup"]["cc"]["nodes"] != serial["half"]["cc"]["nodes"]

    barrier = threading.Barrier(len(cases), timeout=600)
    got, errors = {}, {}

    def work(name: str, max_bucket: int) -> None:
        try:
            with cache.run():
                got[name] = _query(
                    spark, name, max_bucket, tmp_path / f"thread_{name}", barrier
                )
        except Exception as exc:  # reported by the main thread below
            barrier.abort()
            errors[name] = exc

    threads = [threading.Thread(target=work, args=item) for item in cases.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
        assert not t.is_alive()
    assert not errors, errors
    for name in cases:
        assert got[name] == serial[name], name


def test_run_scopes_isolate_many_threads():
    """More threads than cores, switching every microsecond: each thread's
    decisions stay its own, and the main thread's scope sees none of them."""
    n = 16
    barrier = threading.Barrier(n, timeout=60)
    seen = {}

    def work(i: int) -> None:
        with cache.run():
            for step in range(200):
                cache.record("cc", {"thread": i, "step": step})
            barrier.wait()
            seen[i] = cache.decision("cc")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with cache.run():
            cache.record("cc", {"thread": "main"})
            threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
                assert not t.is_alive()
            assert cache.decision("cc") == {"thread": "main"}
    finally:
        sys.setswitchinterval(interval)
    assert seen == {i: {"thread": i, "step": 199} for i in range(n)}
