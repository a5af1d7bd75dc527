"""Structured Streaming tests: the streaming rollup must agree with its batch
twin, and the foreachBatch sink must land lineage in the SnapshotStore."""

from __future__ import annotations

import shutil

import pytest

from stac_catalog_builder_spark.plans.relational import events_hourly
from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore
from stac_catalog_builder_spark.streaming import events as streaming_events
from stac_catalog_builder_spark.streaming import extents as sx

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    # file-source streams want a directory of files
    d = tmp_path / "events_src"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return str(d)


def _events(spark, src):
    return streaming_events.read_file_stream(spark, src, streaming_events.EVENTS_SCHEMA)


def _maintain(spark, src, schema, store, stage, increment_fn):
    """One exactly-once maintenance run over the staged file stream."""
    sx.run_increment_maintenance(
        spark,
        streaming_events.read_file_stream(spark, src, schema),
        store,
        stage,
        increment_fn,
    )


def _increments(spark, store, stage):
    """Every committed epoch increment of ``stage``, epoch column dropped."""
    return store.read_stage(spark, stage).drop("part_key")


def test_streaming_rollup_matches_batch(spark, events_dir):
    stream_out = streaming_events.run_to_memory(
        spark,
        streaming_events.windowed_rollup(_events(spark, events_dir)),
        "t_rollup",
        "complete",
    )
    got = {
        (r.hour_epoch, r.event_type): (r.n_events, r.sum_value_x1000)
        for r in stream_out.collect()
    }
    want = {
        (r.hour_epoch, r.event_type): (r.n_events, r.sum_value_x1000)
        for r in events_hourly(spark, SF).collect()
    }
    assert got == want


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Session-window stream (watermark-finalized, append mode) == the same
    session_window aggregation run in batch. A far-future sentinel file
    advances the watermark past every real session so all finalize; the
    sentinel user is excluded from the comparison."""
    import time

    from pyspark.sql import functions as F

    d = tmp_path / "sess_src"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "a_events.parquet")
    real = spark.read.parquet(f"{SF}/events.parquet")
    sentinel = real.limit(1).select(
        F.lit(999).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 1000 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "sent"))
    time.sleep(1.1)  # file-source orders by mod time: sentinel must be LAST
    sent_file = next((tmp_path / "sent").glob("*.parquet"))
    shutil.copy(sent_file, d / "z_sentinel.parquet")

    out = streaming_events.run_to_memory(
        spark,
        streaming_events.session_rollup(_events(spark, str(d))),
        "t_sessions",
    )
    got = {
        (r.user_id, r.session_start_s): (r.n_events, r.sum_value_x1000)
        for r in out.where("user_id >= 0").collect()
    }
    want = {
        (r.user_id, r.session_start_s): (r.n_events, r.sum_value_x1000)
        for r in streaming_events.session_rollup(real).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_dedup_within_watermark(spark, events_dir):
    """Built-in dropDuplicatesWithinWatermark: exactly one row per key
    survives (count matches the batch countDistinct), and unique keys pass
    through untouched."""

    def dedup(keys, query_name):
        return streaming_events.run_to_memory(
            spark,
            streaming_events.dedup_within_watermark(_events(spark, events_dir), keys),
            query_name,
        )

    out = dedup(["user_id", "event_type"], "t_dedup")
    batch = spark.read.parquet(f"{SF}/events.parquet")
    want = batch.select("user_id", "event_type").distinct().count()
    assert out.count() == want
    # unique key -> passthrough
    out2 = dedup(["event_id"], "t_dedup_id")
    assert out2.count() == batch.count()


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Stream-stream interval join (watermark-bounded state) == the same
    join expression over the batch table."""
    from pyspark.sql import functions as F

    ev1 = _events(spark, events_dir)
    ev2 = _events(spark, events_dir)
    out = streaming_events.run_to_memory(
        spark,
        streaming_events.interval_join(
            ev1.where(F.col("event_type") == "purchase"),
            ev2.where(F.col("event_type") == "signup"),
        ),
        "events_ssjoin",
    )
    got = {(r.user_id, r.purchase_id, r.signup_id) for r in out.collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    want_df = streaming_events.interval_join(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "signup"),
    )
    want = {(r.user_id, r.purchase_id, r.signup_id) for r in want_df.collect()}
    assert got == want
    assert len(got) > 0


def test_streaming_foreach_batch_to_store(spark, events_dir, tmp_path):
    """Update-mode aggregate rows land in the store with lineage, and a
    rerun of the whole stream is a no-op (every epoch already committed ->
    zero new snapshots, same rows)."""
    store = SnapshotStore(tmp_path / "ckpt")

    def run():
        sx.run_increment_maintenance(
            spark,
            streaming_events.windowed_rollup(_events(spark, events_dir)),
            store,
            "stream_rollup",
            lambda batch: batch,
        )

    def rows():
        return sorted(map(tuple, store.read_stage(spark, "stream_rollup").collect()))

    run()
    landed = rows()
    assert len(landed) > 0
    assert store.snapshots("stream_rollup")  # lineage/snapshot rows landed

    n_snaps = len(store.snapshots("stream_rollup"))
    run()
    assert len(store.snapshots("stream_rollup")) == n_snaps
    assert rows() == landed


def test_streaming_extent_maintenance_equals_batch(spark, tmp_path):
    """Streaming catalog maintenance: per-epoch algebraic extent increments
    merged at read time must equal the from-scratch batch recompute EXACTLY
    (same rows, same values), across multiple micro-batches."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore
    from stac_catalog_builder_spark.operators.grouping import (
        collection_extents,
        merge_extent_summaries,
    )

    keys = ["collection_id", "tile_id"]
    cols = keys + ["image_id", "fp_w", "fp_s", "fp_e", "fp_n", "datetime"]
    assigned = e._assigned(spark, "/root/testdata/sf0.001").select(*cols)
    src = str(tmp_path / "assigned_stream")
    # several files -> several micro-batch epochs at maxFilesPerTrigger=1
    assigned.repartition(4).write.mode("overwrite").parquet(src)

    store = SnapshotStore(str(tmp_path / "ckpt"))

    def maintain():
        _maintain(
            spark, src, assigned.schema, store, "extent_increments",
            lambda b: collection_extents(b, keys),
        )

    def current():
        return merge_extent_summaries(
            keys, _increments(spark, store, "extent_increments")
        )

    maintain()
    assert len(store.snapshots("extent_increments")) >= 2  # multi-epoch run

    def canon(df):
        return sorted(
            (
                r.collection_id,
                r.tile_id,
                r.n_assets,
                round(r.ext_w, 9),
                round(r.ext_s, 9),
                round(r.ext_e, 9),
                round(r.ext_n, 9),
                r.dt_min,
                r.dt_max,
            )
            for r in df.collect()
        )

    live = canon(current())
    batch = canon(collection_extents(spark.read.parquet(src), keys))
    assert live == batch and len(live) > 0

    # re-running the whole stream over the same source must be a no-op
    # (every epoch already committed -> zero new snapshots, same extents)
    n_snaps = len(store.snapshots("extent_increments"))
    maintain()
    assert len(store.snapshots("extent_increments")) == n_snaps
    assert canon(current()) == batch


def test_streaming_hll_maintenance_equals_batch(spark, tmp_path):
    """Streaming cardinality maintenance: per-epoch HLL register increments
    max-merged at read time must equal the from-scratch batch sketch EXACTLY
    (registers are integers — no tolerance), and a full stream replay is a
    no-op (idempotent max + epoch lineage)."""
    import __spark_entry__ as e
    from stac_catalog_builder_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_merge,
        hll_registers,
    )
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    assigned = e._assigned(spark, "/root/testdata/sf0.001").select(
        "collection_id", "phash"
    )
    src = str(tmp_path / "assigned_hll_stream")
    assigned.repartition(4).write.mode("overwrite").parquet(src)

    store = SnapshotStore(str(tmp_path / "ckpt"))
    g = ["collection_id"]

    def maintain():
        _maintain(
            spark, src, assigned.schema, store, "hll_increments",
            lambda b: hll_registers(b, g, "phash"),
        )

    def current():
        regs = _increments(spark, store, "hll_increments")
        return hll_estimate(hll_merge(regs, g), g)

    maintain()
    assert len(store.snapshots("hll_increments")) >= 2  # multi-epoch run

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    live = canon(current())
    batch = canon(hll_distinct(spark.read.parquet(src), ["collection_id"], "phash"))
    assert live == batch and len(live) > 0

    n_snaps = len(store.snapshots("hll_increments"))
    maintain()
    assert len(store.snapshots("hll_increments")) == n_snaps
    assert canon(current()) == batch


def test_streaming_cms_maintenance_equals_batch(spark, tmp_path):
    """Streaming frequency maintenance: per-epoch CMS register increments
    sum-merged at read time must equal the from-scratch batch sketch EXACTLY,
    and a full stream replay is a no-op — which for a SUM-merging sketch is
    the whole exactly-once claim (a double-landed epoch would double-count,
    unlike the HLL's idempotent max)."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from stac_catalog_builder_spark.operators.sketches import cms_merge, cms_registers
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    keyed = e._assigned(spark, "/root/testdata/sf0.001").select(
        "collection_id",
        F.when(F.col("phash") % 4 < 2, F.col("phash") % 97)
        .otherwise(F.col("phash"))
        .alias("k"),
    )
    src = str(tmp_path / "keyed_cms_stream")
    keyed.repartition(4).write.mode("overwrite").parquet(src)

    store = SnapshotStore(str(tmp_path / "ckpt"))
    g = ["collection_id"]

    def maintain():
        _maintain(
            spark, src, keyed.schema, store, "cms_increments",
            lambda b: cms_registers(b, g, "k"),
        )

    def current():
        return cms_merge(_increments(spark, store, "cms_increments"), g)

    maintain()
    assert len(store.snapshots("cms_increments")) >= 2  # multi-epoch run

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    live = canon(current())
    batch = canon(cms_registers(spark.read.parquet(src), ["collection_id"], "k"))
    assert live == batch and len(live) > 0

    n_snaps = len(store.snapshots("cms_increments"))
    maintain()
    assert len(store.snapshots("cms_increments")) == n_snaps
    assert canon(current()) == batch


def test_streaming_hist_maintenance_equals_batch(spark, tmp_path):
    """Streaming histogram maintenance: per-epoch register increments
    sum-merged at read time == the from-scratch batch histogram exactly;
    quantiles over the live state == quantiles over the batch registers;
    replay is a no-op."""
    from pyspark.sql import functions as F
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators.sketches import (
        hist_merge,
        hist_quantiles,
        hist_registers,
    )
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    vals = synth.images(spark, "/root/testdata/sf0.001").select(
        "asset_type", F.length("caption").alias("v")
    )
    src = str(tmp_path / "vals_hist_stream")
    vals.repartition(4).write.mode("overwrite").parquet(src)

    store = SnapshotStore(str(tmp_path / "ckpt"))
    args = (["asset_type"], "v", 0, 128, 64)

    def maintain():
        _maintain(
            spark, src, vals.schema, store, "hist_increments",
            lambda b: hist_registers(b, *args),
        )

    maintain()
    assert len(store.snapshots("hist_increments")) >= 2

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    live = hist_merge(_increments(spark, store, "hist_increments"), ["asset_type"])
    batch = hist_registers(spark.read.parquet(src), *args)
    assert canon(live) == canon(batch) and live.count() > 0
    assert canon(
        hist_quantiles(live, ["asset_type"], [500_000], 0, 128, 64)
    ) == canon(hist_quantiles(batch, ["asset_type"], [500_000], 0, 128, 64))

    n_snaps = len(store.snapshots("hist_increments"))
    maintain()
    assert len(store.snapshots("hist_increments")) == n_snaps


def test_streaming_moment_maintenance_equals_batch(spark, tmp_path):
    """Streaming moments maintenance: per-epoch power-sum increments
    sum-merged at read time == the from-scratch batch state exactly
    (mean/variance included — integer fixed-point, no tolerance); replay
    is a no-op (the sum-merge would double-count without the store's
    exactly-once guards)."""
    from pyspark.sql import functions as F
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators.sketches import (
        moment_registers,
        moment_stats,
    )
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    vals = synth.images(spark, "/root/testdata/sf0.001").select(
        "asset_type", F.length("caption").alias("v")
    )
    src = str(tmp_path / "vals_moment_stream")
    vals.repartition(4).write.mode("overwrite").parquet(src)

    store = SnapshotStore(str(tmp_path / "ckpt"))
    g = ["asset_type"]

    def maintain():
        _maintain(
            spark, src, vals.schema, store, "moment_increments",
            lambda b: moment_registers(b, g, "v"),
        )

    def current():
        return moment_stats(_increments(spark, store, "moment_increments"), g)

    maintain()
    assert len(store.snapshots("moment_increments")) >= 2

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    live = canon(current())
    batch = canon(
        moment_stats(
            moment_registers(spark.read.parquet(src), ["asset_type"], "v"),
            ["asset_type"],
        )
    )
    assert live == batch and len(live) > 0

    n_snaps = len(store.snapshots("moment_increments"))
    maintain()
    assert len(store.snapshots("moment_increments")) == n_snaps
    assert canon(current()) == batch


def test_streaming_fixity_maintenance_equals_batch(spark, tmp_path):
    """Streaming integrity maintenance: per-epoch fixity register
    increments lane-merged at read time must equal the from-scratch batch
    digest EXACTLY, and a full stream replay is a no-op — the sum lane
    adds and the xor lane xors, so neither tolerates a double-landed
    epoch (same exactly-once reliance as the CMS)."""
    from stac_catalog_builder_spark.operators.sketches import (
        fixity_merge,
        fixity_registers,
    )
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", "source", "text"
    )
    src = str(tmp_path / "docs_fixity_stream")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    store = SnapshotStore(str(tmp_path / "ckpt"))
    g = ["lang", "source"]

    def maintain():
        _maintain(
            spark, src, docs.schema, store, "fixity_increments",
            lambda b: fixity_registers(b, g, ["doc_id", "text"]),
        )

    def current():
        return fixity_merge(_increments(spark, store, "fixity_increments"), g)

    maintain()
    assert len(store.snapshots("fixity_increments")) >= 2  # multi-epoch run

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    live = canon(current())
    batch = canon(
        fixity_registers(
            spark.read.parquet(src), ["lang", "source"], ["doc_id", "text"]
        )
    )
    assert live == batch and len(live) > 0

    n_snaps = len(store.snapshots("fixity_increments"))
    maintain()
    assert len(store.snapshots("fixity_increments")) == n_snaps
    assert canon(current()) == batch


def test_streaming_composite_maintenance_equals_batch(spark, tmp_path):
    """Streaming mosaic maintenance: per-epoch composite-state increments
    merged+rendered at read time must equal the from-scratch batch mosaic
    BYTE-EXACTLY, and a full stream replay is a no-op (canvas merge is
    addition — a double-landed epoch would skew every shared pixel)."""
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators import multimodal
    from stac_catalog_builder_spark.operators.composite import (
        composite_merge,
        composite_render,
        composite_state,
        composite_tiles,
    )
    from stac_catalog_builder_spark.operators.footprints import with_footprint
    from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore

    imgs = multimodal.with_encoded_bytes(
        with_footprint(synth.images(spark, "/root/testdata/sf0.001")).where(
            "img_key < 40"
        )
    ).select("image_id", "bytes", "fmt", "fp_w", "fp_s", "fp_e", "fp_n")
    src = str(tmp_path / "scenes_stream")
    imgs.repartition(4).write.mode("overwrite").parquet(src)

    store = SnapshotStore(str(tmp_path / "ckpt"))

    def maintain():
        _maintain(
            spark, src, imgs.schema, store, "composite_increments", composite_state
        )

    def current():
        return composite_render(
            composite_merge(_increments(spark, store, "composite_increments"))
        )

    maintain()
    assert len(store.snapshots("composite_increments")) >= 2  # multi-epoch

    def canon(df):
        return sorted(
            (r.tile_x, r.tile_y, r.n_scenes, r.covered_px, bytes(r.bytes))
            for r in df.collect()
        )

    live = canon(current())
    batch = canon(composite_tiles(spark.read.parquet(src)))
    assert live == batch and len(live) > 0

    n_snaps = len(store.snapshots("composite_increments"))
    maintain()
    assert len(store.snapshots("composite_increments")) == n_snaps
    assert canon(current()) == batch
