"""Multimodal operator tests: the input_hint per-row invariants (decoded-pixel
allclose + caption equality) over the encode->decode Spark pipeline, resize
and embedding plumbing, stub gating."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stac_catalog_builder_spark import synth
from stac_catalog_builder_spark.functions.codecs import decode_raw
from stac_catalog_builder_spark.operators import multimodal
from stac_catalog_builder_spark.operators.footprints import with_footprint

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def images_small(spark):
    return with_footprint(synth.images(spark, SF)).limit(60)


@pytest.fixture(scope="module")
def encoded(images_small):
    df = multimodal.with_encoded_bytes(images_small)
    df.cache().count()
    return df


def test_encoded_bytes_schema(encoded):
    row = encoded.select("bytes", "fmt").first()
    assert isinstance(row.bytes, (bytes, bytearray))
    assert row.fmt in ("raw", "png")


def test_pixel_and_caption_invariants(encoded):
    """The driver gate (BASELINE.json input_hint): decoded pixels match the
    reference raster exactly for lossless formats; captions match exactly."""
    stats = multimodal.decode_stats(encoded).collect()
    assert len(stats) == 60
    assert all(r.pixel_ok for r in stats)
    assert all(r.caption_ok for r in stats)
    # decoded dims come from the payload, not the metadata columns
    by_id = {r.image_id: r for r in stats}
    for r in encoded.select("image_id", "w", "h").collect():
        assert (by_id[r.image_id].px_w, by_id[r.image_id].px_h) == (r.w, r.h)


def test_decode_stats_detects_corruption(spark, encoded):
    """Flip the payload -> pixel_ok must go false (the invariant is real)."""
    corrupted = encoded.withColumn(
        "bytes",
        F.when(F.col("fmt") == "raw", F.concat(F.col("bytes"), F.lit(b"x"))).otherwise(
            F.col("bytes")
        ),
    ).withColumn("phash", F.col("phash") + 1)  # wrong reference raster
    stats = multimodal.decode_stats(corrupted).collect()
    assert not any(r.pixel_ok for r in stats)


def test_resize_images(encoded):
    out = multimodal.resize_images(encoded, 32, 32).collect()
    assert len(out) == 60
    arr = decode_raw(out[0].bytes)
    assert arr.shape == (32, 32)


def test_image_embedding_normalized(encoded):
    rows = multimodal.image_embedding(encoded, dim=16).collect()
    assert len(rows) == 60
    v = np.array(rows[0].embedding)
    assert v.shape == (16,)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-5


def test_audio_features_invariants(spark):
    """PCM round-trip is lossless on every row; duration matches the synth
    length; dominant frequency lands on one of the two seeded tones."""
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators import multimodal

    imgs = multimodal.with_audio_bytes(
        synth.images(spark, "/root/testdata/sf0.001").limit(40), seconds=0.5
    )
    rows = multimodal.audio_features(imgs).collect()
    assert len(rows) == 40
    assert all(r.pcm_ok for r in rows)
    assert all(r.duration_ms == 500 for r in rows)
    assert all(100 <= r.dominant_hz <= 1500 for r in rows)
    assert all(r.rms_x1000 > 100 for r in rows)  # tones, not silence


def test_audio_dominant_frequency_tracks_seed(spark):
    """dominant_hz must equal the stronger seeded tone (f1) within one FFT
    bin for a pure synthetic seed."""
    import numpy as np

    from stac_catalog_builder_spark.functions.codecs import (
        WAV_RATE,
        decode_wav,
        encode_wav,
        make_waveform,
    )

    seed = 987654
    f1 = 200.0 + (seed % 1200)
    samples, rate = decode_wav(encode_wav(make_waveform(seed, WAV_RATE)))
    spec = np.abs(np.fft.rfft(samples.astype(np.float64)))
    spec[0] = 0
    dom = np.argmax(spec) * rate / len(samples)
    assert abs(dom - f1) <= rate / len(samples) + 0.5


def test_video_frame_sampling_exact(spark):
    """Sampled frames decode bit-exactly to the synthesized clip frames, in
    order, with correct timestamps; the re-encoded raw payload feeds the
    image decoder."""
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.functions.codecs import decode_image, make_video
    from stac_catalog_builder_spark.operators import multimodal
    import numpy as np

    imgs = multimodal.with_video_bytes(
        synth.images(spark, "/root/testdata/sf0.001").limit(10),
        n_frames=24, w=32, h=20,
    )
    out = multimodal.video_frame_sample(imgs, every_n=8)
    rows = out.orderBy("image_id", "frame_idx").collect()
    assert len(rows) == 10 * 3  # frames 0, 8, 16
    by_img = {}
    for r in rows:
        by_img.setdefault(r.image_id, []).append(r)
    phash = {r.image_id: r.phash for r in imgs.select("image_id", "phash").collect()}
    for image_id, rs in by_img.items():
        assert [r.frame_idx for r in rs] == [0, 8, 16]
        assert [r.ts_ms for r in rs] == [0, 800, 1600]
        clip = make_video(int(phash[image_id]), 24, 32, 20)
        for r in rs:
            assert np.array_equal(decode_image(r.frame_bytes, "raw"), clip[r.frame_idx])


def test_decode_quarantine_permissive(spark):
    """A corrupt payload must not kill the task: the row comes back flagged
    with decode_ok=false and the error string, every other row unaffected;
    permissive=False fails fast instead."""
    import pytest
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators import multimodal
    from stac_catalog_builder_spark.operators.footprints import with_footprint

    imgs = multimodal.with_encoded_bytes(
        with_footprint(synth.images(spark, "/root/testdata/sf0.001")).limit(20)
    )
    corrupted = imgs.withColumn(
        "bytes",
        F.when(F.col("image_id") == "img_00000003", F.lit(b"\x00garbage")).otherwise(
            F.col("bytes")
        ),
    )
    rows = {r.image_id: r for r in multimodal.decode_stats(corrupted).collect()}
    assert len(rows) == 20
    bad = rows["img_00000003"]
    assert not bad.decode_ok and bad.decode_error and bad.mean_x1000 is None
    good = [r for k, r in rows.items() if k != "img_00000003"]
    assert all(r.decode_ok and r.pixel_ok for r in good)

    with pytest.raises(Exception):
        multimodal.decode_stats(corrupted, permissive=False).collect()


def test_content_derived_media_type_demotes_corrupt(spark):
    """VERDICT r2 #7 (reference mapper.py:157-164): media_type derives from
    content validity — a corrupt payload demotes to application/octet-stream,
    valid payloads map fmt -> media type."""
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators import multimodal
    from stac_catalog_builder_spark.operators.footprints import with_footprint

    imgs = multimodal.with_encoded_bytes(
        with_footprint(synth.images(spark, "/root/testdata/sf0.001")).limit(20)
    )
    corrupted = imgs.withColumn(
        "bytes",
        F.when(F.col("image_id") == "img_00000003", F.lit(b"\x00garbage")).otherwise(
            F.col("bytes")
        ),
    )
    stats = multimodal.with_content_media_type(multimodal.decode_stats(corrupted))
    rows = {r.image_id: r for r in stats.collect()}
    assert rows["img_00000003"].media_type == "application/octet-stream"
    for k, r in rows.items():
        if k == "img_00000003":
            continue
        assert r.media_type == multimodal.MEDIA_TYPES[r.fmt], (k, r.media_type)


def test_caption_embedding_deterministic_unit_norm(spark):
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators import multimodal

    docs = synth.images(spark, "/root/testdata/sf0.001").limit(50).select(
        "image_id", "caption"
    )
    a = multimodal.caption_embedding(docs).orderBy("image_id").collect()
    b = multimodal.caption_embedding(docs).orderBy("image_id").collect()
    assert [r.cap_emb for r in a] == [r.cap_emb for r in b]  # deterministic
    import numpy as np

    for r in a:
        n = float(np.linalg.norm(np.asarray(r.cap_emb)))
        assert abs(n - 1.0) < 1e-5


def test_cross_modal_topk_contract(spark):
    """Caption->image retrieval plumbing: k ranked image ids per caption
    query, deterministic across runs (the encoders are stubs; the retrieval
    contract is what is pinned)."""
    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators import multimodal
    from stac_catalog_builder_spark.operators.footprints import with_footprint

    imgs = multimodal.with_encoded_bytes(
        with_footprint(synth.images(spark, "/root/testdata/sf0.001")).limit(40)
    )
    out = multimodal.cross_modal_topk(imgs, k=3).toPandas()
    assert set(out.columns) == {"query_id", "rank", "image_id"}
    per_q = out.groupby("query_id")["rank"].agg(["count", "max"])
    assert (per_q["count"] == 3).all() and (per_q["max"] == 3).all()
    assert len(per_q) == 40
    out2 = multimodal.cross_modal_topk(imgs, k=3).toPandas()
    assert out.sort_values(["query_id", "rank"]).reset_index(drop=True).equals(
        out2.sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


def test_zonal_stats_matches_numpy_oracle(spark):
    """Raster->vector zonal statistics: per-zone aggregates of decoded pixel
    means must match a driver-side numpy oracle that decodes every payload
    independently."""
    import numpy as np
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.functions.codecs import make_raster
    from stac_catalog_builder_spark.operators import multimodal
    from stac_catalog_builder_spark.operators.footprints import with_footprint
    from stac_catalog_builder_spark.operators.spatial_join import spatial_join_pip

    SF = "/root/testdata/sf0.001"
    imgs = with_footprint(synth.images(spark, SF)).limit(200)
    assigned = spatial_join_pip(imgs, synth.boundary_polygons(SF))
    assigned = multimodal.with_encoded_bytes(assigned)
    out = {
        (r.collection_id, r.tile_id): r
        for r in multimodal.zonal_stats(assigned).collect()
    }

    # driver oracle
    rows = assigned.select(
        "collection_id", "tile_id", "phash", "w", "h"
    ).collect()
    zones: dict = {}
    for r in rows:
        m = make_raster(int(r.phash), int(r.w), int(r.h)).mean()
        zones.setdefault((r.collection_id, r.tile_id), []).append(
            int(np.floor(m * 1000.0 + 0.5))
        )
    assert set(out) == set(zones)
    for key, means in zones.items():
        got = out[key]
        assert got.n_images == len(means)
        assert got.n_decode_failed == 0
        assert got.min_mean_x1000 == min(means)
        assert got.max_mean_x1000 == max(means)
        assert abs(got.mean_of_means_x1000 - sum(means) / len(means)) < 1e-6


def test_zonal_stats_multi_zone_assignment(spark):
    """ADVICE r3 (medium): an image assigned to N>1 zones (overlap-style
    spatial joins duplicate image_id) must count ONCE per zone — the naive
    stats-to-zones join would produce N x N rows per image and inflate every
    per-zone aggregate N-fold."""
    from pyspark.sql import functions as F

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.operators import multimodal
    from stac_catalog_builder_spark.operators.footprints import with_footprint
    from stac_catalog_builder_spark.operators.spatial_join import spatial_join_pip

    SF = "/root/testdata/sf0.001"
    imgs = with_footprint(synth.images(spark, SF)).limit(60)
    one_zone = spatial_join_pip(imgs, synth.boundary_polygons(SF))
    # assign EVERY image to a second zone (same collection, shifted tile id)
    two_zone = one_zone.unionByName(
        one_zone.withColumn("tile_id", F.concat(F.col("tile_id"), F.lit("_dup")))
    )
    assigned = multimodal.with_encoded_bytes(two_zone)
    out = multimodal.zonal_stats(assigned).toPandas()

    base = out[~out["tile_id"].str.endswith("_dup")].set_index(
        ["collection_id", "tile_id"]
    )
    dup = out[out["tile_id"].str.endswith("_dup")].copy()
    dup["tile_id"] = dup["tile_id"].str.removesuffix("_dup")
    dup = dup.set_index(["collection_id", "tile_id"])

    n_imgs = one_zone.count()
    assert int(out["n_images"].sum()) == 2 * n_imgs  # once per zone, no N^2
    # each shifted zone mirrors its base zone exactly
    assert set(base.index) == set(dup.index)
    # align on the zone key — toPandas row order is partitioning-dependent
    # (with_encoded_bytes fans out below the encode since r6)
    dup = dup.reindex(base.index)
    for col in ("n_images", "min_mean_x1000", "max_mean_x1000"):
        assert (base[col] == dup[col]).all(), col


def test_augment_images_numpy_oracle_and_determinism(spark):
    """Augmented payloads must decode to exactly the numpy transform of the
    decoded original (per op), be byte-identical across runs (no RNG), and
    respect involution/composition properties."""
    import numpy as np

    from stac_catalog_builder_spark import synth
    from stac_catalog_builder_spark.functions.codecs import decode_image, make_raster
    from stac_catalog_builder_spark.operators import multimodal

    SF = "/root/testdata/sf0.001"
    imgs = multimodal.with_encoded_bytes(synth.images(spark, SF).limit(40))
    ops = ("hflip", "vflip", "rot90", "rot270", "crop0.5", "bright-30")
    out = multimodal.augment_images(imgs, ops=ops).toPandas()
    assert len(out) == 40 * len(ops)

    src = {
        r.image_id: make_raster(int(r.phash), int(r.w), int(r.h))
        for r in imgs.select("image_id", "phash", "w", "h").collect()
    }
    for r in out.itertuples(index=False):
        got = decode_image(r.bytes, r.fmt)
        want = multimodal._apply_augment(src[r.image_id], r.aug_op)
        assert got.shape == (r.h, r.w)
        assert np.array_equal(got, want), (r.image_id, r.aug_op)

    # determinism: second run byte-identical
    out2 = multimodal.augment_images(imgs, ops=ops).toPandas()
    a = out.sort_values(["image_id", "aug_op"]).reset_index(drop=True)
    b = out2.sort_values(["image_id", "aug_op"]).reset_index(drop=True)
    assert (a["bytes"] == b["bytes"]).all()

    # involution: hflip twice == identity
    one = imgs.limit(1)
    flipped = multimodal.augment_images(one, ops=("hflip",)).select(
        "image_id", "bytes", "fmt"
    )
    back = multimodal.augment_images(flipped, ops=("hflip",)).toPandas()
    orig = src[back["image_id"].iloc[0]]
    assert np.array_equal(decode_image(back["bytes"].iloc[0], "raw"), orig)

    # invalid ops raise driver-side, before any job runs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown augmentation"):
        multimodal.augment_images(imgs, ops=("zoom2x",))
    with _pytest.raises(ValueError, match="crop fraction"):
        multimodal.augment_images(imgs, ops=("crop1.5",))


# --- overview pyramid --------------------------------------------------------


def test_overview_pyramid_exact_vs_numpy(spark):
    """Every emitted level must decode to exactly the repeated 2x2
    integer box decimation of its source image — and be byte-identical
    across two runs (determinism)."""
    import numpy as np

    from stac_catalog_builder_spark.functions.codecs import decode_image
    from stac_catalog_builder_spark.operators.multimodal import (
        _box_decimate,
        overview_pyramid,
        with_encoded_bytes,
    )
    from stac_catalog_builder_spark import synth

    imgs = with_encoded_bytes(
        synth.images(spark, "/root/testdata/sf0.001").where("img_key < 40")
    )
    src = {r.image_id: decode_image(bytes(r.bytes), r.fmt) for r in imgs.collect()}
    out = overview_pyramid(imgs, max_levels=3, min_dim=8).collect()
    seen = {}
    for r in out:
        want = src[r.image_id]
        for _ in range(r.level):
            want = _box_decimate(want)
        got = decode_image(bytes(r.bytes), r.fmt)
        assert got.shape == (r.h, r.w) == want.shape
        assert np.array_equal(got, want), (r.image_id, r.level)
        seen.setdefault(r.image_id, []).append(r.level)
    # levels are a dense 1..k chain per image, k capped by min_dim
    for iid, levels in seen.items():
        assert sorted(levels) == list(range(1, len(levels) + 1))
        h, w = src[iid].shape
        # the chain stops exactly when the next level would dip below min_dim
        k = len(levels)
        assert (h >> k) // 2 < 8 or (w >> k) // 2 < 8 or k == 3
    # 64x64 sources support 3 levels at min_dim=8 (64->32->16->8)
    assert any(len(v) == 3 for v in seen.values())
    rerun = overview_pyramid(imgs, max_levels=3, min_dim=8).collect()
    assert sorted((r.image_id, r.level, bytes(r.bytes)) for r in rerun) == sorted(
        (r.image_id, r.level, bytes(r.bytes)) for r in out
    )


def test_overview_pyramid_guards(spark):
    from stac_catalog_builder_spark.operators.multimodal import (
        overview_pyramid,
        with_encoded_bytes,
    )
    from stac_catalog_builder_spark import synth

    imgs = with_encoded_bytes(
        synth.images(spark, "/root/testdata/sf0.001").where("img_key < 4")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        overview_pyramid(imgs, max_levels=0)
    with _pytest.raises(ValueError):
        overview_pyramid(imgs, min_dim=1)


def test_contrast_stretch_matches_numpy_twin(spark):
    """Every stretched payload must decode to exactly the numpy transform
    under the GROUP's (not the image's) min/max, byte-identical across
    runs; constant-valued groups map to 0 without dividing by zero."""
    import numpy as np

    from stac_catalog_builder_spark.functions.codecs import decode_image, encode_raw
    from stac_catalog_builder_spark.operators.multimodal import contrast_stretch

    rng = np.random.RandomState(5)
    rows = []
    arrays = {}
    for g, lo, hi in (("a", 30, 180), ("b", 100, 101)):
        for i in range(6):
            arr = rng.randint(lo, hi + 1, size=(8, 10)).astype(np.uint8)
            arr.flat[0] = lo if i == 0 else arr.flat[0]  # pin group extremes
            arr.flat[1] = hi if i == 1 else arr.flat[1]
            iid = f"{g}{i}"
            arrays[iid] = (g, arr)
            rows.append((g, iid, bytearray(encode_raw(arr)), "raw"))
    rows.append(("c", "c0", bytearray(encode_raw(np.full((4, 4), 7, np.uint8))), "raw"))
    arrays["c0"] = ("c", np.full((4, 4), 7, np.uint8))
    df = spark.createDataFrame(
        rows, "asset_type string, image_id string, bytes binary, fmt string"
    )
    out = {r.image_id: r for r in contrast_stretch(df).collect()}
    glo = {g: min(a.min() for gg, a in arrays.values() if gg == g) for g in "abc"}
    ghi = {g: max(a.max() for gg, a in arrays.values() if gg == g) for g in "abc"}
    for iid, (g, arr) in arrays.items():
        r = out[iid]
        assert (r.lo, r.hi) == (glo[g], ghi[g])
        want = (
            (arr.astype(np.int64) - glo[g]) * 255 // max(ghi[g] - glo[g], 1)
        ).astype(np.uint8)
        assert np.array_equal(decode_image(bytes(r.bytes), r.fmt), want), iid
    assert decode_image(bytes(out["c0"].bytes), "raw").max() == 0  # constant group
    rerun = {r.image_id: bytes(r.bytes) for r in contrast_stretch(df).collect()}
    assert rerun == {k: bytes(v.bytes) for k, v in out.items()}
