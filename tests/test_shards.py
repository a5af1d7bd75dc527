"""WebDataset shard sink: round-trip fidelity, byte-determinism across
runs, exactly-once skip on re-run, and partial-failure resume."""

from __future__ import annotations

import hashlib
import json
import tarfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from stac_catalog_builder_spark import synth
from stac_catalog_builder_spark.operators.multimodal import with_encoded_bytes
from stac_catalog_builder_spark.sources.shards import write_webdataset_shards

SF = "/root/testdata/sf0.001"
N_SHARDS = 8
META = ["caption", "fmt", "w", "h"]


@pytest.fixture(scope="module")
def images(spark):
    df = with_encoded_bytes(
        synth.images(spark, SF).where(F.col("img_key") < 400)
    ).cache()
    yield df
    df.unpersist()


def _write(images, out):
    return write_webdataset_shards(
        images,
        str(out),
        n_shards=N_SHARDS,
        key_col="image_id",
        payload_col="bytes",
        payload_ext="img",
        meta_cols=META,
    ).collect()


def test_shards_round_trip_exact(spark, images, tmp_path):
    out = tmp_path / "wds"
    manifest = _write(images, out)
    src = {
        r["image_id"]: r
        for r in images.select("image_id", "bytes", *META).collect()
    }
    assert sum(m["n_members"] for m in manifest) == len(src)
    assert {m["shard_id"] for m in manifest} <= set(range(N_SHARDS))

    seen = {}
    for m in manifest:
        path = out / f"shard-{m['shard_id']:05d}.tar"
        assert hashlib.sha256(path.read_bytes()).hexdigest() == m["sha256"]
        with tarfile.open(path) as tf:
            names = tf.getnames()
            # sorted by key, payload immediately followed by its json twin
            stems = [n[:-4] for n in names if n.endswith(".img")]
            assert stems == sorted(stems)
            for stem in stems:
                payload = tf.extractfile(f"{stem}.img").read()
                meta = json.loads(tf.extractfile(f"{stem}.json").read())
                seen[stem] = (payload, meta)
    assert set(seen) == set(src)
    for key, (payload, meta) in seen.items():
        assert payload == bytes(src[key]["bytes"])
        assert meta == {c: src[key][c] for c in META}


def test_shards_byte_deterministic_and_exactly_once(spark, images, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    man_a = {m["shard_id"]: m for m in _write(images, a)}
    man_b = {m["shard_id"]: m for m in _write(images, b)}
    assert set(man_a) == set(man_b)
    for sid in man_a:
        fa = (a / f"shard-{sid:05d}.tar").read_bytes()
        fb = (b / f"shard-{sid:05d}.tar").read_bytes()
        assert fa == fb  # byte-identical across runs
        assert not man_a[sid]["skipped"] and not man_b[sid]["skipped"]

    # re-run into the SAME dir: every shard already committed -> all skipped
    rerun = _write(images, a)
    assert all(m["skipped"] for m in rerun)


def test_shards_partial_failure_resume(spark, images, tmp_path):
    out = tmp_path / "wds"
    first = {m["shard_id"]: m for m in _write(images, out)}
    victim = sorted(first)[0]
    (out / f"shard-{victim:05d}.tar").unlink()  # simulate a lost shard
    second = {m["shard_id"]: m for m in _write(images, out)}
    assert not second[victim]["skipped"]  # rewritten
    assert all(m["skipped"] for s, m in second.items() if s != victim)
    assert (
        hashlib.sha256((out / f"shard-{victim:05d}.tar").read_bytes()).hexdigest()
        == first[victim]["sha256"]
    )


def test_shard_reader_round_trips_the_sink(spark, tmp_path):
    """write -> read must reproduce every sample exactly: payload bytes,
    metadata JSON, and the deterministic shard assignment."""
    import json

    from pyspark.sql import functions as F

    from stac_catalog_builder_spark.sources.shards import (
        read_webdataset_shards,
        shard_id_col,
        write_webdataset_shards,
    )

    rows = [
        (f"s{i:04d}", bytes([i % 251, (i * 7) % 251]) * (i % 5 + 1), f"cap {i}", i)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, caption string, n int")
    out = str(tmp_path / "shards")
    write_webdataset_shards(
        df, out, n_shards=7, meta_cols=["caption", "n"]
    ).collect()
    back = read_webdataset_shards(spark, out).collect()
    assert len(back) == 200
    got = {r.key: r for r in back}
    want_shard = {
        r.image_id: r.s
        for r in df.select(
            "image_id", shard_id_col(F.col("image_id"), 7).alias("s")
        ).collect()
    }
    for key, payload, caption, n in rows:
        r = got[key]
        assert bytes(r.payload) == payload, key
        meta = json.loads(r.meta_json)
        assert meta == {"caption": caption, "n": n}
        assert r.shard_id == want_shard[key]
