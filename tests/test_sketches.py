"""HLL sketch tests: fmix32 kernel vs numpy murmur3 reference, merge
algebra (rollup == direct, batch-union == direct), estimate accuracy vs
exact COUNT(DISTINCT), and the partial-aggregation plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stac_catalog_builder_spark.operators.sketches import (
    M_REG,
    fmix32,
    hll_distinct,
    hll_estimate,
    hll_merge,
    hll_registers,
)

SF = "/root/testdata/sf0.001"


def _fmix32_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    x ^= x >> np.uint64(16)
    x = (x * np.uint64(0x85EBCA6B)) & np.uint64(0xFFFFFFFF)
    x ^= x >> np.uint64(13)
    x = (x * np.uint64(0xC2B2AE35)) & np.uint64(0xFFFFFFFF)
    x ^= x >> np.uint64(16)
    return x


def test_fmix32_matches_numpy_reference(spark):
    vals = [0, 1, 2, 42, 65535, 65536, 2**31 - 1, 2**31, 2**32 - 1, 123456789]
    got = (
        spark.createDataFrame([(v,) for v in vals], "x long")
        .select(fmix32(F.col("x")).alias("h"))
        .toPandas()["h"]
        .to_numpy()
    )
    want = _fmix32_np(np.array(vals)).astype(np.int64)
    assert (got == want).all()


@pytest.fixture(scope="module")
def assigned(spark):
    import __spark_entry__ as e

    df = e._assigned(spark, SF).select("collection_id", "tile_id", "phash").cache()
    yield df
    df.unpersist()


def test_merge_rollup_equals_direct(spark, assigned):
    """Registers built per (collection, tile) then max-merged to collection
    must equal registers built directly per collection — the algebraic-merge
    property incremental rollups rely on."""
    fine = hll_registers(assigned, ["collection_id", "tile_id"], "phash")
    merged = hll_merge(fine, ["collection_id"]).orderBy("collection_id", "bucket")
    direct = hll_registers(assigned, ["collection_id"], "phash").orderBy(
        "collection_id", "bucket"
    )
    assert merged.collect() == direct.collect()


def test_batch_union_merge_equals_direct(spark, assigned):
    """Sketch state unioned across two disjoint batches and merged == the
    sketch of the full input: the incremental-maintenance path (store
    registers, fold new batches in) loses nothing."""
    b1 = assigned.where(F.col("phash") % 2 == 0)
    b2 = assigned.where(F.col("phash") % 2 != 0)
    r1 = hll_registers(b1, ["collection_id"], "phash")
    r2 = hll_registers(b2, ["collection_id"], "phash")
    folded = hll_merge(r1.unionByName(r2), ["collection_id"]).orderBy(
        "collection_id", "bucket"
    )
    direct = hll_registers(assigned, ["collection_id"], "phash").orderBy(
        "collection_id", "bucket"
    )
    assert folded.collect() == direct.collect()


def test_estimate_accuracy_vs_exact(spark, assigned):
    est = {
        r["collection_id"]: r["est_e3"] / 1000.0
        for r in hll_distinct(assigned, ["collection_id"], "phash").collect()
    }
    exact = {
        r["collection_id"]: r["d"]
        for r in assigned.groupBy("collection_id")
        .agg(F.countDistinct("phash").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for cid, d in exact.items():
        # 3x the theoretical 1.04/sqrt(m) std error; measured max 1.3%
        assert abs(est[cid] - d) / d < 3 * 1.04 / (M_REG**0.5), (cid, est[cid], d)


def test_registers_bounded_and_plan_partial(spark, assigned):
    regs = hll_registers(assigned, ["collection_id"], "phash")
    counts = regs.groupBy("collection_id").count().collect()
    assert all(r["count"] <= M_REG for r in counts)
    # map-side combine: the aggregate appears as partial + final around ONE
    # exchange, and the estimate adds exactly one more — raw keys never
    # shuffle, register rows do
    plan = hll_estimate(regs, ["collection_id"])._jdf.queryExecution().executedPlan().toString()
    # shuffle exchanges only — the upstream PIP join's BroadcastExchanges
    # move the dimension, not the fact table
    assert plan.count("Exchange hashpartitioning") == 2, plan


# --- Count-Min sketch ------------------------------------------------------

from collections import Counter

from stac_catalog_builder_spark.operators.sketches import (
    CMS_D,
    CMS_SEEDS,
    CMS_W,
    cms_estimate,
    cms_lane_bucket,
    cms_merge,
    cms_registers,
)


def _heavy_keys(assigned):
    """Skewed key column: half the rows collapse onto 97 heavy keys."""
    return assigned.select(
        "collection_id",
        F.when(F.col("phash") % 4 < 2, F.col("phash") % 97)
        .otherwise(F.col("phash"))
        .alias("k"),
    )


def _cms_np(keys: np.ndarray, seed: int, w: int) -> np.ndarray:
    lo = (keys.astype(np.uint64) & np.uint64(0xFFFFFFFF)) ^ np.uint64(seed)
    a = _fmix32_np(lo)
    b = _fmix32_np((keys.astype(np.uint64) >> np.uint64(32)) ^ a)
    return (b % np.uint64(w)).astype(np.int64)


def test_cms_lane_bucket_matches_numpy(spark):
    vals = np.array([0, 1, 42, 2**20, 2**32 - 1, 2**32, 2**51 + 12345, 96], dtype=np.int64)
    df = spark.createDataFrame([(int(v),) for v in vals], "k long")
    for seed in CMS_SEEDS:
        got = (
            df.select(cms_lane_bucket(F.col("k"), seed).alias("b"))
            .toPandas()["b"].to_numpy()
        )
        assert (got == _cms_np(vals, seed, CMS_W)).all(), hex(seed)


def test_cms_overestimates_never_under(spark, assigned):
    """The CMS one-sided guarantee: est >= true for EVERY key, per group."""
    df = _heavy_keys(assigned)
    regs = cms_registers(df, ["collection_id"], "k")
    keys = df.distinct()
    est = {
        (r["collection_id"], r["k"]): r["est_cnt"]
        for r in cms_estimate(regs, keys, ["collection_id"], "k").collect()
    }
    true = Counter((r["collection_id"], r["k"]) for r in df.collect())
    assert set(est) == set(true)
    over = sum(1 for kk, t in true.items() if est[kk] > t)
    for kk, t in true.items():
        assert est[kk] >= t, (kk, est[kk], t)
    # with ~1k distinct keys in 4x2048 cells, collisions are rare on this
    # corpus — deterministic, so the observed bound is stable
    assert over / len(true) < 0.05


def test_cms_merge_equals_direct(spark, assigned):
    """Register tables summed across disjoint batches == the sketch of the
    whole input, and rollup (collection -> global) == direct global build."""
    df = _heavy_keys(assigned)
    b1, b2 = df.where(F.col("k") % 2 == 0), df.where(F.col("k") % 2 != 0)
    folded = cms_merge(
        cms_registers(b1, ["collection_id"], "k").unionByName(
            cms_registers(b2, ["collection_id"], "k")
        ),
        ["collection_id"],
    ).orderBy("collection_id", "lane", "bucket")
    direct = cms_registers(df, ["collection_id"], "k").orderBy(
        "collection_id", "lane", "bucket"
    )
    assert folded.collect() == direct.collect()
    rollup = cms_merge(cms_registers(df, ["collection_id"], "k"), []).orderBy(
        "lane", "bucket"
    )
    global_direct = cms_registers(df, [], "k").orderBy("lane", "bucket")
    assert rollup.collect() == global_direct.collect()


def test_cms_weighted_and_bounds(spark, assigned):
    """Weighted registers == unweighted scaled when all weights equal; the
    register table never exceeds d*w rows; absent-cell queries estimate 0."""
    df = _heavy_keys(assigned).withColumn("wt", F.lit(3).cast("bigint"))
    rw = cms_registers(df, [], "k", weight_col="wt").orderBy("lane", "bucket")
    r1 = cms_registers(df, [], "k").orderBy("lane", "bucket")
    a, b = rw.collect(), r1.collect()
    assert [(x["lane"], x["bucket"], x["cnt"]) for x in a] == [
        (x["lane"], x["bucket"], 3 * x["cnt"]) for x in b
    ]
    assert len(b) <= CMS_D * CMS_W
    ghost = spark.createDataFrame([(10**17 + 7,)], "k long")
    est = cms_estimate(r1.sparkSession.createDataFrame(b, r1.schema), ghost, [], "k").collect()
    # a never-seen key may still collide into occupied cells, but min() over
    # 4 lanes of a sparse table is overwhelmingly 0 here — and never negative
    assert est[0]["est_cnt"] >= 0


# --- histogram quantile sketch ---------------------------------------------

from stac_catalog_builder_spark.operators.sketches import (
    hist_merge,
    hist_quantiles,
    hist_registers,
)

H_LO, H_HI, H_BINS = 0, 128, 64
QS = [250_000, 500_000, 900_000, 990_000]


@pytest.fixture(scope="module")
def caplen(spark):
    from stac_catalog_builder_spark import synth

    df = synth.images(spark, SF).select(
        "asset_type", F.length("caption").alias("v")
    ).cache()
    yield df
    df.unpersist()


def test_hist_bracket_contains_true_quantile(spark, caplen):
    """The returned [bin_lo, bin_hi) bracket must contain the exact
    ceil-rank quantile of the raw values, for every group and q."""
    regs = hist_registers(caplen, ["asset_type"], "v", H_LO, H_HI, H_BINS)
    out = hist_quantiles(regs, ["asset_type"], QS, H_LO, H_HI, H_BINS).collect()
    raw = caplen.toPandas()
    assert len(out) == raw["asset_type"].nunique() * len(QS)
    for r in out:
        vals = np.sort(raw[raw.asset_type == r["asset_type"]]["v"].to_numpy())
        vals = np.clip(vals, H_LO, H_HI - 1)
        rank = max(1, -(-len(vals) * r["q_e6"] // 1_000_000))  # ceil
        true_q = vals[rank - 1]
        assert r["bin_lo"] <= true_q < r["bin_hi"], (dict(r.asDict()), true_q)
        assert r["n"] == len(vals)


def test_hist_merge_equals_direct(spark, caplen):
    b1 = caplen.where(F.col("v") % 2 == 0)
    b2 = caplen.where(F.col("v") % 2 != 0)
    folded = hist_merge(
        hist_registers(b1, ["asset_type"], "v", H_LO, H_HI, H_BINS).unionByName(
            hist_registers(b2, ["asset_type"], "v", H_LO, H_HI, H_BINS)
        ),
        ["asset_type"],
    ).orderBy("asset_type", "bin")
    direct = hist_registers(caplen, ["asset_type"], "v", H_LO, H_HI, H_BINS).orderBy(
        "asset_type", "bin"
    )
    assert folded.collect() == direct.collect()


def test_hist_clamps_and_validates(spark):
    df = spark.createDataFrame([(-5,), (0,), (127,), (500,), (None,)], "v int")
    regs = {r["bin"]: r["cnt"] for r in hist_registers(df, [], "v", H_LO, H_HI, H_BINS).collect()}
    # -5 clamps to bin 0; 500 clamps with 127 into the last bin; NULL dropped
    assert regs == {0: 2, H_BINS - 1: 2}
    with pytest.raises(ValueError):
        hist_registers(df, [], "v", 10, 10, 4)
    with pytest.raises(ValueError):
        hist_quantiles(hist_registers(df, [], "v", H_LO, H_HI, H_BINS), [], [2_000_000], H_LO, H_HI, H_BINS)


def test_hist_extreme_quantiles(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    regs = hist_registers(df, [], "v", 0, 10, 10)  # one bin per value
    out = {r["q_e6"]: r for r in hist_quantiles(regs, [], [0, 1_000_000], 0, 10, 10).collect()}
    assert out[0]["bin"] == 0            # q=0 -> rank clamps to 1 -> min
    assert out[1_000_000]["bin"] == 9    # q=1 -> rank n -> max


# --- KMV bottom-k sketch ---------------------------------------------------

from stac_catalog_builder_spark.operators.sketches import (
    KMV_M63,
    kmv_estimate,
    kmv_hash63,
    kmv_pair_overlap,
    kmv_registers,
)


def _kmv_hash_np(keys: np.ndarray) -> np.ndarray:
    """numpy replay of kmv_hash63 (cross-coupled fmix32 lanes, 63-bit)."""
    lo = keys.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    a = _fmix32_np(lo)
    b = _fmix32_np((keys.astype(np.uint64) >> np.uint64(32)) ^ a)
    return (a.astype(np.int64) << np.int64(31)) + (b >> np.uint64(1)).astype(np.int64)


def test_kmv_hash_matches_numpy(spark):
    vals = [0, 1, 42, 2**20, 2**31 - 1, 2**31, 2**52 + 12345, 2**62]
    got = (
        spark.createDataFrame([(v,) for v in vals], "x long")
        .select(kmv_hash63(F.col("x")).alias("h"))
        .toPandas()["h"]
        .to_numpy()
    )
    want = _kmv_hash_np(np.array(vals, dtype=np.int64))
    assert (got == want).all()
    assert (got >= 0).all() and (got < 2**63).all()


@pytest.fixture(scope="module")
def two_corpora(spark):
    """Two groups over a shared universe: keys 0..999 in A, 500..1499 in B
    (plus duplicates and NULLs) -> exact |A|=1000, |B|=1000, |A∩B|=500,
    |A∪B|=1500."""
    a = spark.range(0, 1000).select(F.lit("A").alias("g"), F.col("id").alias("k"))
    b = spark.range(500, 1500).select(F.lit("B").alias("g"), F.col("id").alias("k"))
    dups = spark.range(0, 300).select(F.lit("A").alias("g"), F.col("id").alias("k"))
    nulls = spark.createDataFrame([("A", None), ("B", None)], "g string, k long")
    df = a.unionAll(b).unionAll(dups).unionAll(nulls).cache()
    yield df
    df.unpersist()


def test_kmv_exact_branch(spark, two_corpora):
    """Groups smaller than k hold every distinct hash: estimates and the
    pairwise Jaccard are EXACT (duplicates and NULLs ignored)."""
    regs = kmv_registers(two_corpora, ["g"], "k", k=4096)
    est = {r["g"]: r for r in kmv_estimate(regs, ["g"], k=4096).collect()}
    assert est["A"]["k_used"] == 1000 and est["A"]["est_e3"] == 1000_000
    assert est["B"]["k_used"] == 1000 and est["B"]["est_e3"] == 1000_000
    pair = kmv_pair_overlap(regs, "g", k=4096).collect()
    assert len(pair) == 1
    p = pair[0]
    assert p["k_used"] == 1500 and p["n_common"] == 500
    assert p["jaccard_e6"] == 500 * 1_000_000 // 1500
    assert p["est_union_e3"] == 1500_000
    assert p["est_inter_e3"] == 1500_000 * 500 // 1500


def test_kmv_estimator_branch_accuracy(spark, two_corpora):
    """k=128 forces the kth-min estimator; the union/intersection/Jaccard
    estimates must land within 5 standard errors of the exact values
    (sigma_J = sqrt(J(1-J)/k), sigma_n ~ n/sqrt(k-2))."""
    k = 128
    regs = kmv_registers(two_corpora, ["g"], "k", k=k)
    p = kmv_pair_overlap(regs, "g", k=k).collect()[0]
    assert p["k_used"] == k
    j_true, n_union_true = 500 / 1500, 1500
    sig_j = (j_true * (1 - j_true) / k) ** 0.5
    assert abs(p["jaccard_e6"] / 1e6 - j_true) <= 5 * sig_j
    sig_n = n_union_true / (k - 2) ** 0.5
    assert abs(p["est_union_e3"] / 1e3 - n_union_true) <= 5 * sig_n
    est = {r["g"]: r for r in kmv_estimate(regs, ["g"], k=k).collect()}
    for g in ("A", "B"):
        assert abs(est[g]["est_e3"] / 1e3 - 1000) <= 5 * (1000 / (k - 2) ** 0.5)


def test_kmv_union_merge_equals_direct(spark, two_corpora):
    """bottom-k(A ∪ B) rebuilt from the two register sets == bottom-k built
    directly over the concatenated input — the subset property the pairwise
    overlap relies on."""
    k = 128
    regs = kmv_registers(two_corpora, ["g"], "k", k=k)
    p = kmv_pair_overlap(regs, "g", k=k).collect()[0]
    direct = kmv_registers(
        two_corpora.select(F.lit("U").alias("g"), "k"), ["g"], "k", k=k
    )
    d = kmv_estimate(direct, ["g"], k=k).collect()[0]
    assert p["k_used"] == d["k_used"]
    assert p["est_union_e3"] == d["est_e3"]


def test_kmv_prefilter_equals_full(spark, two_corpora):
    """An accurate expected_distinct statistic changes the PLAN (map-side
    hash prefilter) but not one output row."""
    full = kmv_registers(two_corpora, ["g"], "k", k=256).orderBy("g", "hv")
    fast = kmv_registers(
        two_corpora, ["g"], "k", k=256, expected_distinct=1000
    ).orderBy("g", "hv")
    assert [r.asDict() for r in full.collect()] == [
        r.asDict() for r in fast.collect()
    ]
    with pytest.raises(ValueError):
        kmv_registers(two_corpora, ["g"], "k", expected_distinct=0)


def test_kmv_plan_windowgrouplimit(spark, two_corpora):
    """The rank-k filter must compile to WindowGroupLimit (map-side partial
    limiting), so each task forwards at most k rows per group."""
    plan = (
        kmv_registers(two_corpora, ["g"], "k", k=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


# --- algebraic moments -----------------------------------------------------

from stac_catalog_builder_spark.operators.sketches import (
    moment_merge,
    moment_registers,
    moment_stats,
)


def test_moments_match_numpy_exact(spark, assigned):
    """Power sums and the fixed-point mean/variance vs exact python-int
    arithmetic on the same values — no tolerance."""
    vals = assigned.select("collection_id", (F.col("phash") % 1000).alias("v"))
    got = {r["collection_id"]: r for r in
           moment_stats(moment_registers(vals, ["collection_id"], "v"),
                        ["collection_id"]).collect()}
    rows = vals.collect()
    from collections import defaultdict
    by = defaultdict(list)
    for r in rows:
        by[r["collection_id"]].append(int(r["v"]))
    for cid, vs in by.items():
        n, s1, s2 = len(vs), sum(vs), sum(v * v for v in vs)
        r = got[cid]
        assert (r["n"], r["s1"], r["s2"]) == (n, s1, s2)
        assert (r["vmin"], r["vmax"]) == (min(vs), max(vs))
        assert r["mean_e3"] == 1000 * s1 // n
        assert r["var_e3"] == 1000 * (n * s2 - s1 * s1) // (n * n)


def test_moments_merge_equals_direct(spark, assigned):
    """Registers per (collection, tile) merged to collection == registers
    built directly per collection; and a two-batch union merged == direct —
    the algebraic property the streaming maintenance relies on."""
    vals = assigned.select(
        "collection_id", "tile_id", (F.col("phash") % 1000).alias("v")
    )
    fine = moment_registers(vals, ["collection_id", "tile_id"], "v")
    merged = moment_merge(fine, ["collection_id"]).orderBy("collection_id")
    direct = moment_registers(vals, ["collection_id"], "v").orderBy("collection_id")
    assert [r.asDict() for r in merged.collect()] == [
        r.asDict() for r in direct.collect()
    ]
    b1 = vals.where(F.col("v") % 2 == 0)
    b2 = vals.where(F.col("v") % 2 == 1)
    unioned = moment_merge(
        moment_registers(b1, ["collection_id"], "v").unionByName(
            moment_registers(b2, ["collection_id"], "v")
        ),
        ["collection_id"],
    ).orderBy("collection_id")
    assert [r.asDict() for r in unioned.collect()] == [
        r.asDict() for r in direct.collect()
    ]


# --- fixity digests ----------------------------------------------------------

from stac_catalog_builder_spark.operators.sketches import (  # noqa: E402
    FIXITY_P,
    fixity_merge,
    fixity_registers,
    with_sha256,
)


@pytest.fixture(scope="module")
def fixity_rows(spark):
    rows = [
        ("c1", f"id_{i}", f"caption {i}", i % 100 if i % 7 else None)
        for i in range(200)
    ] + [("c2", f"id_{i}", f"other {i}", i) for i in range(50)]
    return spark.createDataFrame(rows, "coll string, id string, cap string, n int")


def test_sha256_matches_hashlib(spark, fixity_rows):
    """The canonical serialization (NULL -> \\x00, \\x1f-joined, ints as
    decimal strings) must hash to exactly what hashlib computes."""
    import hashlib

    got = with_sha256(fixity_rows, ["id", "cap", "n"]).collect()
    for r in got:
        canon = "\x1f".join(
            "\x00" if v is None else str(v) for v in (r.id, r.cap, r.n)
        )
        assert r.sha256 == hashlib.sha256(canon.encode()).hexdigest(), r


def test_fixity_python_twin_and_invariance(spark, fixity_rows):
    import hashlib
    from collections import defaultdict
    from functools import reduce as _reduce

    regs = {
        r.coll: r for r in fixity_registers(fixity_rows, ["coll"], ["id", "cap", "n"]).collect()
    }
    lanes = defaultdict(list)
    for row in fixity_rows.collect():
        canon = "\x1f".join(
            "\x00" if v is None else str(v) for v in (row.id, row.cap, row.n)
        )
        lanes[row.coll].append(int(hashlib.sha256(canon.encode()).hexdigest()[:12], 16))
    for coll, ls in lanes.items():
        assert regs[coll].n_items == len(ls)
        assert regs[coll].fixity_sum == sum(ls) % FIXITY_P
        assert regs[coll].fixity_xor == _reduce(lambda a, b: a ^ b, ls)
    # order/partitioning cannot change the digest
    re = {
        r.coll: r
        for r in fixity_registers(
            fixity_rows.repartition(17), ["coll"], ["id", "cap", "n"]
        ).collect()
    }
    for coll in regs:
        assert (re[coll].fixity_sum, re[coll].fixity_xor) == (
            regs[coll].fixity_sum,
            regs[coll].fixity_xor,
        )


def test_fixity_merge_equals_direct(spark, fixity_rows):
    """Digesting per-batch then merging == digesting the union: the
    incremental-maintenance contract."""
    a = fixity_rows.where("n IS NULL OR n < 30")
    b = fixity_rows.exceptAll(a)
    merged = fixity_merge(
        fixity_registers(a, ["coll"], ["id", "cap", "n"]).unionAll(
            fixity_registers(b, ["coll"], ["id", "cap", "n"])
        ),
        ["coll"],
    )
    direct = fixity_registers(fixity_rows, ["coll"], ["id", "cap", "n"])
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    # rollup to the catalog level (empty group list via constant key)
    rollup = fixity_merge(
        fixity_registers(fixity_rows, ["coll"], ["id", "cap", "n"]).withColumn(
            "all", F.lit(1)
        ),
        ["all"],
    )
    direct_all = fixity_registers(
        fixity_rows.withColumn("all", F.lit(1)), ["all"], ["id", "cap", "n"]
    )
    assert [tuple(r) for r in rollup.collect()] == [
        tuple(r) for r in direct_all.collect()
    ]


def test_fixity_detects_corruption_and_duplication(spark, fixity_rows):
    """A single flipped character changes the digest; a duplicated row is
    invisible to the xor lane (A xor A = 0) but caught by sum and count —
    the reason there are two lanes."""
    base = {r.coll: r for r in fixity_registers(fixity_rows, ["coll"], ["id", "cap", "n"]).collect()}
    corrupt = fixity_rows.withColumn(
        "cap",
        F.when(
            (F.col("id") == "id_42") & (F.col("coll") == "c1"),
            F.concat(F.col("cap"), F.lit("!")),
        ).otherwise(F.col("cap")),
    )
    c = {r.coll: r for r in fixity_registers(corrupt, ["coll"], ["id", "cap", "n"]).collect()}
    assert c["c1"].fixity_sum != base["c1"].fixity_sum
    assert c["c1"].fixity_xor != base["c1"].fixity_xor
    assert (c["c2"].fixity_sum, c["c2"].fixity_xor) == (
        base["c2"].fixity_sum,
        base["c2"].fixity_xor,
    )
    # an EVEN number of extra copies cancels in the xor lane — the sum lane
    # and the count are what catch it (an odd count flips xor too)
    dup_row = fixity_rows.where("id = 'id_42' AND coll = 'c1'")
    dup = fixity_registers(
        fixity_rows.unionAll(dup_row).unionAll(dup_row),
        ["coll"],
        ["id", "cap", "n"],
    ).where("coll = 'c1'").collect()[0]
    assert dup.fixity_xor == base["c1"].fixity_xor  # xor lane blind to the pair
    assert dup.fixity_sum != base["c1"].fixity_sum  # sum lane catches it
    assert dup.n_items == base["c1"].n_items + 2


# --- equi-depth buckets ------------------------------------------------------


def test_equi_depth_buckets_balance_and_semantics(spark):
    """Bucket populations balanced within bin-width resolution; the
    boundary rule (value >= b thresholds -> bucket b) replayed exactly in
    python from the same sketch thresholds; repartition-invariant."""
    from stac_catalog_builder_spark.operators.sketches import (
        equi_depth_buckets,
        hist_quantiles,
        hist_registers,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = equi_depth_buckets(
        docs, ["lang"], "n_chars", n_buckets=4, lo=0, hi=4096, n_bins=512
    )
    rows = out.collect()
    assert len(rows) == docs.count()
    # python twin: thresholds from the same sketch, same >= rule
    regs = hist_registers(docs, ["lang"], "n_chars", 0, 4096, 512)
    th = hist_quantiles(
        regs, ["lang"], [250_000, 500_000, 750_000], 0, 4096, 512
    ).collect()
    by_lang: dict = {}
    for t in th:
        by_lang.setdefault(t.lang, []).append(t.bin_hi)
    for v in by_lang.values():
        v.sort()
    for r in rows:
        want = sum(1 for t in by_lang[r.lang] if r.n_chars >= t)
        assert r.bucket == want, (r.lang, r.n_chars)
    # balance: every bucket within 2x of perfect quarter per group
    from collections import Counter

    per = Counter((r.lang, r.bucket) for r in rows)
    total = Counter(r.lang for r in rows)
    for (lang, b), cnt in per.items():
        assert 0 <= b <= 3
        assert cnt <= 2 * (total[lang] / 4 + 1), (lang, b, cnt)
    re = {
        (r.doc_id, r.bucket)
        for r in equi_depth_buckets(
            docs.repartition(13), ["lang"], "n_chars",
            n_buckets=4, lo=0, hi=4096, n_bins=512,
        ).collect()
    }
    assert re == {(r.doc_id, r.bucket) for r in rows}
    with pytest.raises(ValueError):
        equi_depth_buckets(docs, ["lang"], "n_chars", n_buckets=1, lo=0, hi=10)
