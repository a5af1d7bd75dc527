"""Checkpoint/commit-table/resume tests — parity with the reference's slice
spill/skip/restore semantics (stacbuilder/terracatalog.py:339-396, 493-551)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF001, jobs_run_by
from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore, run_resumable

INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"


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
    assert store.committed(spark, "s1") == {"0": 25, "1": 25, "2": 25, "3": 25}


def test_pending_anti_join(spark, store):
    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    confs = {k: spark.conf.get(k) for k in (overwrite_key, INFER_KEY)}
    assert confs[INFER_KEY] == "true"  # inference left on
    # "007" is zero-padded: an inferred integer key would read back as 7
    df = spark.range(10).select(
        (F.col("id") % 2).cast("string").alias("part_key"), F.col("id").alias("v")
    ).unionByName(spark.createDataFrame([("007", 99)], "part_key string, v bigint"))
    store.write_stage(df, "s2", "part_key")
    assert {k: spark.conf.get(k) for k in confs} == confs
    work = _work(spark, ["0", "1", "2", "3", "007", "7"])
    pending = store.pending(work, spark, "s2", "part_key").collect()
    assert sorted(r.part_key for r in pending) == ["2", "3", "7"]
    assert store.committed(spark, "s2") == {"0": 5, "1": 5, "007": 1}
    back = store.read_stage(spark, "s2").where(F.col("v") == 99).collect()
    assert [r.part_key for r in back] == ["007"]
    assert {k: spark.conf.get(k) for k in confs} == confs


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
    """Simulate a crash between the data write and the commit row: the
    partition's data is on disk but its commit row is missing. The retry must
    REPLACE the partition (dynamic partition overwrite), not append — the
    documented exactly-once-per-partition guarantee."""
    from stac_catalog_builder_spark.sources.checkpoint import _dynamic_overwrite

    df = spark.createDataFrame(
        [("1", i) for i in range(10)], "part_key string, v int"
    )
    # crash: data landed (possibly partially), commit row never written
    _dynamic_overwrite(df, store._data_path("s5"), "part_key")
    assert store.committed(spark, "s5") == {}

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
    assert store.committed(spark, "s5") == {"1": 10}  # committed exactly once


def test_crash_before_snapshot_append_still_resumes(spark, store):
    """A crash after the commit row but before the snapshot line is
    appended leaves nothing pending; the rerun must still read the stage."""
    calls = []

    def compute(keys_df):
        calls.append(sorted(r.part_key for r in keys_df.collect()))
        return spark.createDataFrame([("007", 1), ("1", 2)], "part_key string, v int")

    work = _work(spark, ["007", "1"])
    run_resumable(store, spark, "s11", work, "part_key", compute)
    store._snapshots_path("s11").unlink()  # the lost append

    out = run_resumable(store, spark, "s11", work, "part_key", compute)
    assert len(calls) == 1
    assert sorted((r.part_key, r.v) for r in out.collect()) == [("007", 1), ("1", 2)]


def test_stage_without_schema_record_reads_from_footers(spark, store):
    """A stage whose schema was never recorded (written by an older store)
    reads back from its data footers, keys as strings, and still guards
    re-writes against schema changes."""
    import json

    df = spark.createDataFrame([("007", 1)], "part_key string, v bigint")
    store.write_stage(df, "s12", "part_key")
    store._schema_path("s12").unlink()
    snaps = store._snapshots_path("s12")
    old_lines = [{k: v for k, v in s.items() if k != "schema"} for s in store.snapshots("s12")]
    snaps.write_text("".join(json.dumps(s) + "\n" for s in old_lines))

    assert [tuple(r) for r in store.read_stage(spark, "s12").collect()] == [(1, "007")]
    with pytest.raises(ValueError, match=r"'s12'.*v: bigint -> string"):
        store.write_stage(
            spark.createDataFrame([("2", "x")], "part_key string, v string"), "s12", "part_key"
        )
    store.write_stage(
        spark.createDataFrame([("2", 2)], "part_key string, v bigint"), "s12", "part_key"
    )
    assert sorted(r.part_key for r in store.read_stage(spark, "s12").collect()) == ["007", "2"]
    with pytest.raises(ValueError, match="'nope' has no data"):
        store.read_stage(spark, "nope")


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
    commit protocol must compare RAW values (read-back column, commit rows), or
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
    assert set(store.committed(spark, "s7")) == set(keys)
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


def test_snapshot_records_schema_and_refuses_evolved_rewrite(spark, store):
    """Each snapshot line records the written schema; a re-write with the
    same schema commits, an evolved one raises before writing anything."""
    df = spark.createDataFrame([("a", 1)], "part_key string, v bigint")
    store.write_stage(df, "s10", "part_key")
    store.write_stage(
        spark.createDataFrame([("b", 2)], "part_key string, v bigint"), "s10", "part_key"
    )
    snaps = store.snapshots("s10")
    assert [s["schema"] for s in snaps] == [df.schema.jsonValue()] * 2
    assert store.read_stage(spark, "s10").count() == 2

    evolved = spark.createDataFrame(
        [("c", "3", 1.0)], "part_key string, v string, w double"
    )
    with pytest.raises(ValueError, match=r"'s10'.*v: bigint -> string.*w: \(absent\) -> double"):
        store.write_stage(evolved, "s10", "part_key")
    assert len(store.snapshots("s10")) == 2
    assert sorted(r.part_key for r in store.read_stage(spark, "s10").collect()) == ["a", "b"]


def test_rewriting_committed_partition_refreshes_metrics(spark, store):
    """ADVICE r2: an intentional rewrite of a committed partition (outside
    the pending() flow) must refresh _metrics.n_rows and be visible in the
    snapshot log, not silently keep stale metrics."""
    df1 = spark.range(40).select(
        (F.col("id") % 2).cast("string").alias("part_key"), F.col("id").alias("v")
    )
    store.write_stage(df1, "s9", "part_key")
    assert store.committed(spark, "s9") == {"0": 20, "1": 20}

    # rewrite partition "1" with different (fewer) rows, bypassing pending()
    df2 = spark.range(5).select(
        F.lit("1").alias("part_key"), (F.col("id") + 1000).alias("v")
    )
    snap = store.write_stage(df2, "s9", "part_key")
    m2 = store.committed(spark, "s9")
    assert m2 == {"0": 20, "1": 5}, m2
    assert snap["partitions"] == []          # no NEW commits
    assert snap["refreshed"] == ["1"]        # the rewrite is recorded


def test_known_readback_schemas_match_inference(spark, store):
    # the store's known-schema reads (commit table, write-stage readback)
    # must be exactly what inference-off spark.read.parquet would produce:
    # names, order, types, partition col last as string
    from stac_catalog_builder_spark.sources import checkpoint as cp

    df = spark.range(50).select(
        (F.col("id") % 3).cast("string").alias("part_key"),
        F.col("id").alias("v"),
        F.lit("x").alias("tag"),
    )
    store.write_stage(df, "schem", "part_key")

    prev = spark.conf.get(INFER_KEY, "true")
    spark.conf.set(INFER_KEY, "false")
    try:
        inferred_metrics = spark.read.parquet(str(store._metrics_path("schem"))).schema
        inferred_data = spark.read.parquet(str(store._data_path("schem"))).schema
    finally:
        spark.conf.set(INFER_KEY, prev)

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


def test_commit_and_resume_job_counts(spark, store):
    """The commit table is read once per write and anti-joined without a
    distinct, and one upsert commits: on the sf0.01 catalog assignments
    (5 partition keys) a fresh write runs at most 7 Spark jobs, a resume
    probe's count at most 4 and a rewrite of the committed stage at most 7."""
    import __spark_entry__ as e
    from stac_catalog_builder_spark.operators.tiling import with_tile

    tiled = with_tile(e._assigned(spark, SF001), zoom=6)
    df = tiled.select(
        "image_id", "tile_id", "collection_id", "tile_x", "tile_y",
        F.col("collection_id").alias("part_key"),
    )
    snap, fresh = jobs_run_by(spark, "ckpt-fresh", lambda: store.write_stage(df, "a", "part_key"))
    assert len(snap["partitions"]) == 5
    n, probe = jobs_run_by(
        spark, "ckpt-pending", lambda: store.pending(df, spark, "a", "part_key").count()
    )
    assert n == 0
    snap, rewrite = jobs_run_by(spark, "ckpt-rewrite", lambda: store.write_stage(df, "a", "part_key"))
    assert snap["partitions"] == [] and snap["refreshed"] == []
    counts = (len(fresh), len(probe), len(rewrite))
    assert counts[0] <= 7 and counts[1] <= 4 and counts[2] <= 7, counts


def test_store_with_lineage_table_resumes_unchanged(spark, store):
    """A stage that also holds a ``_lineage`` table (an older layout wrote
    it after ``_metrics`` as a second commit marker) resumes with no
    migration: ``_lineage`` is never read, and a key with a ``_metrics`` row
    but no ``_lineage`` row (that layout's crash window, after its data was
    written and read back) counts as committed."""
    from stac_catalog_builder_spark.session import local_frame
    from stac_catalog_builder_spark.sources.checkpoint import _dynamic_overwrite

    df = spark.createDataFrame(
        [("007", 1), ("a", 2), ("a", 3), ("b", 4)], "part_key string, v bigint"
    )
    store.write_stage(df, "old", "part_key")
    lineage = local_frame(spark, [("007", "old"), ("a", "old")], "part_key string, stage string")
    _dynamic_overwrite(lineage, store._stage("old") / "_lineage", "part_key", cluster=False)

    work = _work(spark, ["007", "a", "b", "c", "7"])
    pending = store.pending(work, spark, "old", "part_key").collect()
    assert sorted(r.part_key for r in pending) == ["7", "c"]
    rows = sorted(map(tuple, store.read_stage(spark, "old").collect()))
    assert rows == [(1, "007"), (2, "a"), (3, "a"), (4, "b")]
    assert store.committed(spark, "old") == {"007": 1, "a": 2, "b": 1}

    snap = store.write_stage(
        spark.createDataFrame([("c", 5)], "part_key string, v bigint"), "old", "part_key"
    )
    assert snap["partitions"] == ["c"] and snap["refreshed"] == []
    assert [r.part_key for r in store.pending(work, spark, "old", "part_key").collect()] == ["7"]
