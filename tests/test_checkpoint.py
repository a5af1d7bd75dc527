"""Checkpoint/lineage/resume tests — parity with the reference's slice
spill/skip/restore semantics (stacbuilder/terracatalog.py:339-396, 493-551)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore, run_resumable


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(tmp_path / "ckpt")


def _work(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "part_key string")


def test_write_then_read_stage(spark, store):
    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("part_key"), F.col("id").alias("v")
    )
    snap = store.write_stage(df, "s1", "part_key")
    assert sorted(snap["partitions"]) == ["0", "1", "2", "3"]
    back = store.read_stage(spark, "s1")
    assert back.count() == 100
    m = {r.part_key: r.n_rows for r in store.metrics(spark, "s1").collect()}
    assert m == {"0": 25, "1": 25, "2": 25, "3": 25}


def test_pending_anti_join(spark, store):
    from stac_catalog_builder_spark.sources import checkpoint as cp

    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    confs = {k: spark.conf.get(k) for k in (overwrite_key, cp._INFER_KEY)}
    assert confs[cp._INFER_KEY] == "true"  # inference left on
    # "007" is zero-padded: an inferred integer key would read back as 7
    df = spark.range(10).select(
        (F.col("id") % 2).cast("string").alias("part_key"), F.col("id").alias("v")
    ).unionByName(spark.createDataFrame([("007", 99)], "part_key string, v bigint"))
    store.write_stage(df, "s2", "part_key")
    assert {k: spark.conf.get(k) for k in confs} == confs
    work = _work(spark, ["0", "1", "2", "3", "007", "7"])
    pending = store.pending(work, spark, "s2", "part_key").collect()
    assert sorted(r.part_key for r in pending) == ["2", "3", "7"]
    m = {r.part_key: r.n_rows for r in store.metrics(spark, "s2").collect()}
    assert m == {"0": 5, "1": 5, "007": 1}


def test_run_resumable_computes_only_missing(spark, store):
    calls = []

    def compute(keys_df):
        got = sorted(r.part_key for r in keys_df.collect())
        calls.append(got)
        return spark.createDataFrame(
            [(k, int(k) * 10) for k in got], "part_key string, v int"
        )

    work = _work(spark, ["1", "2", "3"])
    out1 = run_resumable(store, spark, "s3", work, "part_key", compute)
    assert out1.count() == 3
    assert calls == [["1", "2", "3"]]

    # second run: nothing pending, compute not called again
    out2 = run_resumable(store, spark, "s3", work, "part_key", compute)
    assert out2.count() == 3
    assert len(calls) == 1

    # extended work: only the new partition is computed (the reference's
    # "skip already stored slots" at terracatalog.py:497-505)
    work2 = _work(spark, ["1", "2", "3", "4"])
    out3 = run_resumable(store, spark, "s3", work2, "part_key", compute)
    assert out3.count() == 4
    assert calls[1] == ["4"]


def test_crash_retry_is_exactly_once(spark, store):
    """Simulate a crash between the data write and the lineage commit: the
    partition's data is on disk but lineage is missing. The retry must
    REPLACE the partition (dynamic partition overwrite), not append — the
    documented exactly-once-per-partition guarantee."""
    from stac_catalog_builder_spark.sources.checkpoint import _dynamic_overwrite

    df = spark.createDataFrame(
        [("1", i) for i in range(10)], "part_key string, v int"
    )
    # crash: data landed (possibly partially), lineage never written
    _dynamic_overwrite(df, store._data_path("s5"), "part_key")
    assert store.completed_partitions(spark, "s5") is None

    calls = []

    def compute(keys_df):
        calls.append(sorted(r.part_key for r in keys_df.collect()))
        return df

    work = _work(spark, ["1"])
    out = run_resumable(store, spark, "s5", work, "part_key", compute)
    assert calls == [["1"]]  # resume recomputed the uncommitted partition
    assert out.count() == 10  # ...and replaced, not appended (not 20)

    # second retry after the successful commit: a pure no-op
    out2 = run_resumable(store, spark, "s5", work, "part_key", compute)
    assert len(calls) == 1
    assert out2.count() == 10
    m = {r.part_key: r.n_rows for r in store.metrics(spark, "s5").collect()}
    assert m == {"1": 10}  # metrics committed exactly once too


def test_read_stage_as_of_partition_sets(spark, store):
    """Snapshot N restricts the read to partitions committed by snapshots
    0..N (partition-set time travel for resumable pipelines)."""
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "part_key string, v int")
    df2 = spark.createDataFrame([("c", 3)], "part_key string, v int")
    store.write_stage(df1, "s6", "part_key", snapshot_note="first")
    store.write_stage(df2, "s6", "part_key", snapshot_note="second")

    at0 = store.read_stage_as_of(spark, "s6", 0)
    assert sorted(r.part_key for r in at0.collect()) == ["a", "b"]
    at1 = store.read_stage_as_of(spark, "s6", 1)
    assert sorted(r.part_key for r in at1.collect()) == ["a", "b", "c"]
    assert at1.count() == store.read_stage(spark, "s6").count()
    import pytest

    with pytest.raises(IndexError):
        store.read_stage_as_of(spark, "s6", 5)


def test_partition_keys_with_special_characters_commit_once(spark, store):
    """Hive escapes spaces/colons/percent in partition directory names; the
    commit protocol must compare RAW values (read-back column, lineage), or
    such partitions would never register as committed and recompute on
    every resume."""
    keys = ["2024-01-01 00:00:00", "a:b/c", "100%", "plain"]
    df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "part_key string, v int"
    )
    snap = store.write_stage(df, "s7", "part_key")
    assert sorted(snap["partitions"]) == sorted(keys)
    work = _work(spark, keys)
    assert store.pending(work, spark, "s7", "part_key").count() == 0  # all committed
    m = {r.part_key for r in store.metrics(spark, "s7").collect()}
    assert m == set(keys)
    # second write of the same partitions: committed set unchanged, no dupes
    store.write_stage(df, "s7", "part_key")
    assert store.read_stage(spark, "s7").count() == len(keys)


def test_snapshot_log_appends(spark, store):
    df = spark.range(4).select(
        F.lit("a").alias("part_key"), F.col("id").alias("v")
    )
    store.write_stage(df, "s4", "part_key", snapshot_note="first")
    store.write_stage(df, "s4", "part_key", snapshot_note="second")
    snaps = store.snapshots("s4")
    assert [s["note"] for s in snaps] == ["first", "second"]


def test_rewriting_committed_partition_refreshes_metrics(spark, store):
    """ADVICE r2: an intentional rewrite of a committed partition (outside
    the pending() flow) must refresh _metrics.n_rows and be visible in the
    snapshot log, not silently keep stale metrics."""
    df1 = spark.range(40).select(
        (F.col("id") % 2).cast("string").alias("part_key"), F.col("id").alias("v")
    )
    store.write_stage(df1, "s9", "part_key")
    m1 = {r.part_key: r.n_rows for r in store.metrics(spark, "s9").collect()}
    assert m1 == {"0": 20, "1": 20}

    # rewrite partition "1" with different (fewer) rows, bypassing pending()
    df2 = spark.range(5).select(
        F.lit("1").alias("part_key"), (F.col("id") + 1000).alias("v")
    )
    snap = store.write_stage(df2, "s9", "part_key")
    m2 = {r.part_key: r.n_rows for r in store.metrics(spark, "s9").collect()}
    assert m2 == {"0": 20, "1": 5}, m2
    assert snap["partitions"] == []          # no NEW commits
    assert snap["refreshed"] == ["1"]        # the rewrite is recorded


def test_known_readback_schemas_match_inference(spark, store):
    # the store's known-schema reads (lineage, metrics, write-stage
    # readback) must be exactly what inference-off spark.read.parquet
    # would produce: names, order, types, partition col last as string
    from stac_catalog_builder_spark.sources import checkpoint as cp

    df = spark.range(50).select(
        (F.col("id") % 3).cast("string").alias("part_key"),
        F.col("id").alias("v"),
        F.lit("x").alias("tag"),
    )
    store.write_stage(df, "schem", "part_key")

    prev = spark.conf.get(cp._INFER_KEY, "true")
    spark.conf.set(cp._INFER_KEY, "false")
    try:
        inferred_lineage = spark.read.parquet(str(store._lineage_path("schem"))).schema
        inferred_metrics = spark.read.parquet(str(store._metrics_path("schem"))).schema
        inferred_data = spark.read.parquet(str(store._data_path("schem"))).schema
    finally:
        spark.conf.set(cp._INFER_KEY, prev)

    assert cp._LINEAGE_READBACK == inferred_lineage
    assert cp._METRICS_READBACK == inferred_metrics
    assert cp._readback_schema(df.schema, "part_key") == inferred_data
    # and the rows themselves round-trip identically through the known path
    a = sorted(map(tuple, store.read_stage(spark, "schem").collect()))
    b = sorted(
        map(
            tuple,
            cp._read_keyed(
                spark,
                store._data_path("schem"),
                cp._readback_schema(df.schema, "part_key"),
            ).collect(),
        )
    )
    assert a == b
