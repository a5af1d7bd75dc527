"""Mergeable cardinality sketches (HyperLogLog) as pure JVM column algebra.

The reference counts collection membership by materializing every item and
grouping (stacbuilder/builder.py:733 logs per-10,000-item progress; the
GeodataframeExporter dumps full item sets to disk to inspect them).  At
10^12 images an exact COUNT(DISTINCT) is a full shuffle of the distinct keys;
the catalog statistics a user actually wants ("how many distinct scenes /
captions / perceptual hashes does this collection hold?") tolerate ~1.6%
error, which an HLL sketch with m=4096 registers delivers from a
constant-size, algebraically mergeable state.

Design (100 TB shape):
- registers are a ``(group_keys..., bucket, register)`` table of at most
  ``m`` rows per group — ``groupBy().max()`` computes them with map-side
  partial aggregation, so the shuffle carries at most ``m`` rows per group
  per input partition, never the raw keys;
- merge across groups IS ``max()`` again (register-wise), so rollups
  (tile -> collection -> catalog) and incremental maintenance (new batch ->
  max-merge with stored registers) are one aggregate each, exactly like the
  algebraic extent merges in ``operators.grouping.incremental_extents``;
- the hash is murmur3's ``fmix32`` finalizer over the two 32-bit halves of
  the key, cross-coupled — exact integer arithmetic both engines replay
  bit-for-bit (tests/test_parity_rowsonly.py): XOR/shift are native int64
  ops, and the 32-bit wraparound multiplies split the constant at 16 bits so
  every product stays < 2^49 (ANSI-safe).  An affine hash mod 2^31-1 was
  measured first and left +/-6% lattice bias in the bucket occupancy of the
  structured phash keys; fmix32 sits at the Poisson expectation;
- rho (leading-zero rank of the 32-bit ``a`` lane) comes from
  ``length(bin(a))`` — both engines print minimal binary strings, so the
  count is exact, never ``log2`` floating-point;
- the harmonic estimate divides a Python-literal constant by an exactly
  computed int64 (register sum pre-scaled by 2^33 so every term is an
  integer; the total is <= 4096 * 2^33 = 2^45), one IEEE double division
  both engines round identically.

The estimator is Flajolet et al.'s HLL (AoFA 2007): harmonic mean of
register loads with the small-range linear-counting correction.  The two
``ln()``-bearing output columns are the only place cross-engine bit-equality
is not guaranteed (libm may differ by 1 ulp); the parity test compares them
at +/-1 after the e3 floor and everything else exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

P_BITS = 12
M_REG = 1 << P_BITS  # 4096 registers -> ~1.04/sqrt(m) = 1.6% std error
RHO_MAX = 33  # leading-zero rank of a 32-bit lane, +1, w=0 -> 33
SCALE_BITS = RHO_MAX  # sum(2^(SCALE_BITS - reg)) stays integral for reg >= 1
ALPHA = 0.7213 / (1.0 + 1.079 / M_REG)  # alpha_m for m >= 128
# harmonic numerator: alpha * m^2 * 2^SCALE_BITS, one Python double literal
# shared with the DuckDB oracle so both engines divide the same constant
HARMONIC_NUM = ALPHA * M_REG * M_REG * float(1 << SCALE_BITS)
M32 = 1 << 32
FMIX_C1, FMIX_C2 = 0x85EBCA6B, 0xC2B2AE35


def _mul32(x: Column, c: int) -> Column:
    """(x * c) mod 2^32 for 0 <= x < 2^32 without int64 overflow: split the
    constant at 16 bits so both partial products stay below 2^49."""
    cl, ch = c & 0xFFFF, c >> 16
    return F.pmod(x * F.lit(cl) + F.pmod(x * F.lit(ch), F.lit(1 << 16)) * F.lit(1 << 16), F.lit(M32))


def fmix32(x: Column) -> Column:
    """murmur3 32-bit finalizer, exact int64 column arithmetic."""
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = _mul32(x, FMIX_C1)
    x = x.bitwiseXOR(F.shiftright(x, 13))
    x = _mul32(x, FMIX_C2)
    return x.bitwiseXOR(F.shiftright(x, 16))


def hll_lanes(key: Column) -> tuple[Column, Column]:
    """Two cross-coupled 32-bit hash lanes of a non-negative int64 key:
    ``a = fmix32(lo)``, ``b = fmix32(hi XOR a)``. The (a, b) pair spans the
    full 64-bit input, so distinct keys collide with probability ~n^2/2^64,
    not n^2/2^32."""
    lo = F.pmod(key, F.lit(M32))
    hi = F.shiftright(key, 32)
    a = fmix32(lo)
    b = fmix32(hi.bitwiseXOR(a))
    return a, b


def hll_registers(df: DataFrame, group_cols: list[str], key_col: str) -> DataFrame:
    """Per-group HLL register table: (group_cols..., bucket, register).

    At most ``M_REG`` rows per group regardless of input size; the
    ``groupBy().max()`` runs with map-side partial aggregation so raw keys
    never shuffle. Output IS the sketch state: store it, union it with a
    later batch's registers and ``hll_merge`` — max() — to maintain counts
    incrementally without rescanning history. ``key_col`` must be a
    non-negative int64 (hash strings upstream first).
    """
    a, b = hll_lanes(F.col(key_col))
    bucket = F.pmod(b, F.lit(M_REG))
    rho = F.when(a == 0, F.lit(RHO_MAX)).otherwise(
        F.lit(RHO_MAX) - F.length(F.bin(a))
    )
    return (
        # NULL keys are excluded, matching COUNT(DISTINCT) semantics — left
        # in, a NULL-register row would inflate n_present while contributing
        # nothing to s_present, silently biasing the estimate upward
        df.where(F.col(key_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches to a coarser grouping: register-wise max. Algebraic —
    merging (collection, tile) sketches up to collection is EXACTLY the
    sketch that would have been built from the raw rows (max is associative,
    commutative, idempotent), which tests/test_sketches.py asserts."""
    return registers.groupBy(*group_cols, "bucket").agg(
        F.max("register").alias("register")
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cardinality estimate per group from a register table.

    Emits exact integer sketch state plus the two estimator branches:
    - ``s_scaled``: sum over all m registers of 2^(SCALE_BITS - register)
      (absent registers count as 2^SCALE_BITS), an exact int64 <= 2^45;
    - ``v_zero``: number of empty registers;
    - ``est_harmonic_e3``: floor(1000 * alpha * m^2 * 2^33 / s_scaled);
    - ``est_linear_e3``: floor(1000 * m * ln(m / v_zero)) when v_zero > 0
      (the small-range correction), else NULL;
    - ``est_e3``: the standard selector — linear when v_zero > 0 and the
      harmonic estimate is below 2.5m, else harmonic.
    """
    per_group = registers.groupBy(*group_cols).agg(
        F.count("*").alias("n_present"),
        # shiftleft by a COLUMN needs the SQL form (the pyspark wrapper only
        # accepts a literal shift amount)
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), cast({SCALE_BITS} - register as int))")
        ).alias("s_present"),
    )
    s_scaled = (
        F.col("s_present")
        + (F.lit(M_REG) - F.col("n_present")) * F.lit(1 << SCALE_BITS)
    ).alias("s_scaled")
    out = per_group.select(
        *group_cols,
        s_scaled,
        (F.lit(M_REG) - F.col("n_present")).alias("v_zero"),
    )
    harmonic = F.floor(F.lit(1000.0) * F.lit(HARMONIC_NUM) / F.col("s_scaled"))
    linear = F.when(
        F.col("v_zero") > 0,
        F.floor(
            F.lit(1000.0 * M_REG)
            * F.log(F.lit(float(M_REG)) / F.col("v_zero").cast("double"))
        ),
    )
    use_linear = (F.col("v_zero") > 0) & (
        harmonic <= F.lit(int(2.5 * M_REG * 1000))
    )
    return out.select(
        *group_cols,
        "s_scaled",
        "v_zero",
        harmonic.alias("est_harmonic_e3"),
        linear.alias("est_linear_e3"),
        F.when(use_linear, linear).otherwise(harmonic).alias("est_e3"),
    )


def hll_distinct(
    df: DataFrame, group_cols: list[str], key_col: str
) -> DataFrame:
    """One-shot estimate: registers -> estimate, single shuffle pair whose
    exchanged rows are bounded by m per group per input partition."""
    return hll_estimate(hll_registers(df, group_cols, key_col), group_cols)


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable frequency statistics (the sum-merge sibling of
# the HLL's max-merge). The reference has no frequency surface at all — it
# logs per-10,000-item progress counts (stacbuilder/builder.py:733) and
# nothing else; the catalogue question "which scenes / perceptual hashes
# recur most, and roughly how often?" needs per-key counts over 10^12 rows,
# where an exact groupBy on the raw key shuffles every distinct key. The CMS
# register table is d x w cells regardless of input size: partial-aggregated
# map-side, summed across batches/partitions/days, and point-queried with a
# guaranteed one-sided error (est >= true; est <= true + eps*N w.h.p. —
# Cormode & Muthukrishnan, J.Alg 2005).
# ---------------------------------------------------------------------------

CMS_D = 4  # lanes (delta = e^-d ~ 1.8%)
CMS_W = 2048  # buckets per lane (eps = e/w ~ 0.13% of total mass)
# lane seeds: arbitrary distinct 32-bit odd constants (golden ratio, murmur3
# finalizer constants, splitmix64 increment low word)
CMS_SEEDS = (0x9E3779B9, 0x85EBCA6B, 0xC2B2AE35, 0x7F4A7C15)


def cms_lane_bucket(key: Column, seed: int, w: int = CMS_W) -> Column:
    """Bucket of a non-negative int64 key in one seeded lane: the fmix32
    cross-coupled pair from the HLL hash, seeded by XOR on the low lane.
    Exact int64 column algebra — replayed bit-for-bit in DuckDB."""
    lo = F.pmod(key, F.lit(M32)).bitwiseXOR(F.lit(seed))
    a = fmix32(lo)
    b = fmix32(F.shiftright(key, 32).bitwiseXOR(a))
    return F.pmod(b, F.lit(w))


def cms_registers(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group CMS register table: (group_cols..., lane, bucket, cnt).

    At most ``CMS_D * CMS_W`` rows per group regardless of input size; the
    lane expansion is a JVM inline explode (no shuffle) and the
    ``groupBy().sum()`` partial-aggregates map-side, so the exchange carries
    register cells, never raw keys. NULL keys are excluded (GROUP BY
    semantics). ``weight_col`` counts each row with an int64 weight
    (e.g. byte sizes) instead of 1.
    """
    wcol = F.col(weight_col) if weight_col else F.lit(1).cast("bigint")
    lanes = F.array(
        *[
            F.struct(
                F.lit(i).alias("lane"),
                cms_lane_bucket(F.col(key_col), CMS_SEEDS[i]).alias("bucket"),
            )
            for i in range(CMS_D)
        ]
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(*group_cols, F.explode(lanes).alias("lb"), wcol.alias("wt"))
        .groupBy(*group_cols, F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket"))
        .agg(F.sum("wt").alias("cnt"))
    )


def cms_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches (across batches or to a coarser grouping): cell-wise
    sum. Algebraic — identical to the sketch built from the concatenated
    input (sum is associative/commutative), asserted in tests. NOT
    idempotent (unlike the HLL max-merge): exactly-once delivery matters,
    which the SnapshotStore epoch lineage provides on the streaming path."""
    return registers.groupBy(*group_cols, "lane", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_estimate(
    registers: DataFrame,
    keys: DataFrame,
    group_cols: list[str],
    key_col: str,
) -> DataFrame:
    """Point-query estimates: min over the ``CMS_D`` lane cells of each key.

    ``keys`` is a (group_cols..., key_col) frame — candidate keys are always
    dimension-sized (a sample, a watchlist, yesterday's heavy hitters), so
    the join is keys x (d cells each) against a register table bounded by
    d*w rows per group; AQE picks the strategy. A key hitting an absent cell
    estimates 0 (left join + coalesce) — correct: absent cell means no mass
    landed there."""
    expanded = keys.select(
        *group_cols,
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("lane"),
                        cms_lane_bucket(F.col(key_col), CMS_SEEDS[i]).alias("bucket"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("lb"),
    ).select(*group_cols, key_col, "lb.lane", "lb.bucket")
    j = expanded.join(registers, [*group_cols, "lane", "bucket"], "left")
    return j.groupBy(*group_cols, key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("bigint"))).alias("est_cnt")
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram sketch: mergeable distribution statistics. Completes
# the algebraic-state family (extents: min/max, HLL: distinct, CMS:
# frequency) with quantiles: the register table is at most n_bins rows per
# group, sum-mergeable across batches/epochs, and any quantile is answered
# read-side with error bounded by ONE BIN WIDTH — deterministic, not
# probabilistic. An exact distributed quantile (sort or quantile_cont) is a
# full shuffle of the value column at 10^12 rows; percentile_approx is
# neither mergeable-as-a-table nor engine-replayable. All arithmetic is
# int64 (ceil-rank selection, integer bin edges), so DuckDB replays the
# whole chain value-exactly.
# ---------------------------------------------------------------------------


def hist_registers(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    lo: int,
    hi: int,
    n_bins: int,
) -> DataFrame:
    """Per-group histogram register table: (group_cols..., bin, cnt).

    ``val_col`` must be integer-valued; values are clamped into [lo, hi)
    BEFORE binning (out-of-range mass lands in the edge bins, the standard
    saturating histogram), which also keeps the bin arithmetic on
    non-negative operands where Spark ``div`` == DuckDB ``//``. NULLs are
    excluded. Caller bound: ``(hi - lo) * n_bins < 2^63``.
    """
    if hi <= lo or n_bins <= 0:
        raise ValueError(f"need hi > lo and n_bins > 0, got [{lo}, {hi}) x {n_bins}")
    return (
        df.where(F.col(val_col).isNotNull())
        .select(
            *group_cols,
            F.expr(
                f"(least(greatest(cast({val_col} as bigint), {lo}), {hi - 1})"
                f" - {lo}) * {n_bins} div {hi - lo}"
            ).alias("bin"),
        )
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge histograms (across batches or to a coarser grouping):
    bin-wise sum — algebraic, identical to the histogram of the
    concatenated input."""
    return registers.groupBy(*group_cols, "bin").agg(F.sum("cnt").alias("cnt"))


# ---------------------------------------------------------------------------
# KMV (bottom-k minimum values) sketch: mergeable SET-OPERATION cardinality.
# The HLL answers "how many distinct?" per group but cannot answer "how much
# do two corpora OVERLAP?" — inclusion-exclusion over HLL union estimates
# amplifies error catastrophically for small intersections. The KMV sketch
# (Bar-Yossef et al. RANDOM'02; Beyer et al. SIGMOD'07) keeps the k smallest
# hash values per group; because the k smallest of A ∪ B are a subset of
# (bottom-k of A) ∪ (bottom-k of B), the union sketch is computable from the
# two register sets alone, and the fraction of union-sketch members present
# in BOTH register sets estimates the Jaccard similarity directly. That is
# the sketch complement of ``textops.decontaminate`` (exact n-gram match):
# estimate cross-corpus / cross-collection overlap at 10^12 rows without
# joining raw keys — train-vs-benchmark leakage triage, collection drift,
# dedup-rate forecasting between acquisition campaigns.
#
# Everything is exact int64 column algebra on the fmix32 lane hash (63-bit
# combined), so DuckDB replays the whole chain value-exactly; the single
# floating-point step (the kth-min distinct estimator) is one literal-over-
# int64 division + floor, identical in both engines.
# ---------------------------------------------------------------------------

KMV_K = 1024  # bottom-k size -> Jaccard std err ~ sqrt(J(1-J)/k) <= 1.6%
KMV_M63 = 1 << 63  # hash space: a * 2^31 + (b >> 1) spans [0, 2^63)
# distinct estimator numerator 1000 * (k-1) * 2^63 — exactly representable
# (1023000 = 127875 * 2^3, mantissa < 2^53); shared with the DuckDB oracle
KMV_EST_NUM = 1000.0 * (KMV_K - 1) * float(KMV_M63)


def kmv_hash63(key: Column) -> Column:
    """63-bit uniform hash of a non-negative int64 key from the cross-coupled
    fmix32 lanes: ``a * 2^31 + (b >> 1)`` — a < 2^32 keeps the product below
    2^63 (ANSI-safe), and dropping one bit of ``b`` costs nothing at k=1024."""
    a, b = hll_lanes(key)
    return a * F.lit(1 << 31) + F.shiftright(b, 1)


def kmv_registers(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int = KMV_K,
    expected_distinct: int | None = None,
) -> DataFrame:
    """Per-group KMV register table: (group_cols..., hv) — the k smallest
    distinct 63-bit key hashes of each group.

    Two-stage shape: a ``groupBy(group, hv)`` dedup (map-side partial, so
    within-partition duplicates never shuffle) then a rank-k window filter
    that Spark rewrites to WindowGroupLimit — each map task forwards at most
    k rows per group, so the final exchange carries <= k rows per group per
    partition, never the distinct key set.

    ``expected_distinct`` (from lake statistics) additionally prefilters to
    ``hv < 8k/expected * 2^63`` MAP-SIDE — at 10^12 rows this is the lever
    that keeps even the dedup exchange dimension-sized. The expectation must
    be within ~8x of the true per-group distinct count; too LOW an estimate
    risks fewer than k survivors (registers silently degrade toward a
    smaller effective k). tests/test_sketches.py proves the filtered path
    equals the full path when the statistic is accurate. NULL keys are
    excluded (COUNT DISTINCT semantics).
    """
    from pyspark.sql import Window

    hv = kmv_hash63(F.col(key_col))
    base = df.where(F.col(key_col).isNotNull()).select(
        *group_cols, hv.alias("hv")
    )
    if expected_distinct is not None:
        if expected_distinct <= 0:
            raise ValueError(f"expected_distinct must be > 0, got {expected_distinct}")
        thresh = min(KMV_M63 - 1, (8 * k * KMV_M63) // expected_distinct)
        base = base.where(F.col("hv") < F.lit(thresh))
    dedup = base.groupBy(*group_cols, "hv").agg(F.lit(1).alias("_one")).drop("_one")
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("hv")
    return (
        dedup.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate(
    registers: DataFrame, group_cols: list[str], k: int = KMV_K
) -> DataFrame:
    """Distinct-count estimate per group from a register table.

    A group holding fewer than k registers has ALL its distinct hashes, so
    the count is exact; a full group uses the unbiased kth-minimum estimator
    ``(k-1) * 2^63 / h_(k)`` (Beyer et al. SIGMOD'07). Output columns:
    group_cols..., k_used, kth_hv, est_e3 (estimate x1000, floored int64 —
    exact-branch groups emit k_used * 1000).
    """
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("k_used"), F.max("hv").alias("kth_hv")
    )
    est = F.when(
        F.col("k_used") < k, F.col("k_used") * F.lit(1000)
    ).otherwise(
        F.floor(
            F.lit(1000.0 * (k - 1) * float(KMV_M63))
            / F.col("kth_hv").cast("double")
        )
    )
    return agg.select(*group_cols, "k_used", "kth_hv", est.alias("est_e3"))


def kmv_pair_overlap(
    registers: DataFrame, group_col: str, k: int = KMV_K
) -> DataFrame:
    """All-pairs overlap estimates between the groups of a register table.

    For every unordered group pair (ga < gb): rebuild the UNION sketch (the
    k smallest of the merged register sets — valid because bottom-k(A ∪ B)
    ⊆ bottom-k(A) ∪ bottom-k(B)), count its members present in both sides,
    and emit
    - ``k_used``:     union-sketch size (< k only when |A ∪ B| < k — then
                      everything downstream is EXACT, not an estimate);
    - ``n_common``:   union-sketch members in both register sets;
    - ``jaccard_e6``: (n_common * 10^6) div k_used — exact integer division;
    - ``est_union_e3``: kth-min distinct estimate of |A ∪ B| (x1000);
    - ``est_inter_e3``: |A ∩ B| estimate = est_union * jaccard, computed as
                        exact int64 ``(est_union_e3 * n_common) div k_used``.

    Scale shape: registers are <= k rows per group, so every join here is
    dimension-sized whatever the input corpus was; the pair frame is G^2/2
    rows for G groups (collections/campaigns/snapshots — always small). The
    per-pair window orders <= 2k rows. Groups absent from ``pairs`` share no
    register — emitting nothing — so callers wanting explicit zeros outer-
    join the pair universe.
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    groups = registers.select(g.alias("_g")).distinct()
    pairs = (
        groups.select(F.col("_g").alias("ga"))
        .crossJoin(groups.select(F.col("_g").alias("gb")))
        .where(F.col("ga") < F.col("gb"))
    )
    side_a = registers.join(
        F.broadcast(pairs), on=g == F.col("ga"), how="inner"
    ).select("ga", "gb", "hv", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    side_b = registers.join(
        F.broadcast(pairs), on=g == F.col("gb"), how="inner"
    ).select("ga", "gb", "hv", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    merged = (
        side_a.unionAll(side_b)
        .groupBy("ga", "gb", "hv")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("hv")
    topk = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
    )
    agg = topk.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(F.col("ia") * F.col("ib")).alias("n_common"),
        F.max("hv").alias("union_kth"),
    )
    est_union = F.when(
        F.col("k_used") < k, F.col("k_used") * F.lit(1000)
    ).otherwise(
        F.floor(
            F.lit(1000.0 * (k - 1) * float(KMV_M63))
            / F.col("union_kth").cast("double")
        )
    )
    return agg.select(
        "ga",
        "gb",
        "k_used",
        "n_common",
        F.expr("n_common * 1000000 div k_used").alias("jaccard_e6"),
        est_union.alias("est_union_e3"),
    ).select(
        "*",
        F.expr("est_union_e3 * n_common div k_used").alias("est_inter_e3"),
    )


def hist_quantiles(
    registers: DataFrame,
    group_cols: list[str],
    qs_e6: list[int],
    lo: int,
    hi: int,
    n_bins: int,
) -> DataFrame:
    """Quantile brackets from a register table.

    For each group and each requested quantile ``q_e6`` (parts-per-million),
    selects the first bin whose cumulative count reaches the ceil-rank
    ``max(1, ceil(n * q_e6 / 1e6))`` — the standard lower-quantile
    definition, so the TRUE q-quantile of the underlying values lies inside
    the returned ``[bin_lo, bin_hi)`` bracket (tests pin this against
    numpy on the raw data). Output: group_cols..., q_e6, n, bin, bin_lo,
    bin_hi. The cumulative window runs over at most ``n_bins`` rows per
    group — dimension-sized, reusing the registers' own partitioning.
    """
    from pyspark.sql import Window

    qs = sorted(set(int(q) for q in qs_e6))
    if not qs or qs[0] < 0 or qs[-1] > 1_000_000:
        raise ValueError(f"qs_e6 must be within [0, 1e6], got {qs_e6}")
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = registers.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(*[F.col(c) for c in group_cols]).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    qdf = local_frame(registers.sparkSession, [(q,) for q in qs], "q_e6 bigint")
    target = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("(n * q_e6 + 999999) div 1000000"),
    )
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("cum") >= target)
        .groupBy(*group_cols, "q_e6", "n")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.select(
        *group_cols,
        "q_e6",
        "n",
        "bin",
        F.expr(f"{lo} + (bin * {hi - lo}) div {n_bins}").alias("bin_lo"),
        F.expr(f"{lo} + ((bin + 1) * {hi - lo}) div {n_bins}").alias("bin_hi"),
    )


# ---------------------------------------------------------------------------
# Algebraic moments: mergeable mean/variance state. Completes the mergeable-
# state family (extents: min/max; HLL: distinct; CMS: frequency; histogram:
# quantiles) with the normalization statistics a training pipeline computes
# over every numeric feature (channel means/stds, caption-length z-scores).
# With INTEGER inputs the raw power sums (n, sum, sum of squares) are EXACT
# int64 — the floating-point cancellation that motivates Welford/Chan
# streaming updates does not exist — so the state is three numbers per
# group, merge is component-wise sum (one map-side-combined aggregate), and
# mean/variance come out as exact fixed-point integer divisions both
# engines replay bit-for-bit.
# ---------------------------------------------------------------------------


def moment_registers(
    df: DataFrame, group_cols: list[str], val_col: str
) -> DataFrame:
    """Per-group moment state: (group_cols..., n, s1, s2, vmin, vmax).

    ``val_col`` must be integer-valued; NULLs are excluded. Caller bounds
    (documented, not checked row-wise): ``n * vmax^2 < 2^63`` keeps s2
    exact, and the stats step further needs ``1000 * n * s2 < 2^63``.
    One aggregate, map-side combined — the exchange carries 5 numbers per
    group per partition whatever the input size.
    """
    v = F.col(val_col).cast("long")
    return (
        df.where(F.col(val_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
        )
    )


def moment_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge moment states (across batches/epochs or to a coarser
    grouping): component-wise sum/min/max — algebraic, identical to the
    state built from the concatenated input. Sum-merged like the CMS, so
    the streaming path relies on the exactly-once store guards."""
    return registers.groupBy(*group_cols).agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def moment_stats(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Mean and population variance from a (possibly finer) register table,
    as exact fixed-point integers: ``mean_e3 = 1000 * s1 div n`` and
    ``var_e3 = 1000 * (n*s2 - s1^2) div n^2`` — the textbook one-pass
    identity, exact here because every operand is an int64 (no float
    cancellation). Output: group_cols..., n, s1, s2, vmin, vmax, mean_e3,
    var_e3."""
    merged = moment_merge(registers, group_cols)
    return merged.select(
        *group_cols,
        "n",
        "s1",
        "s2",
        "vmin",
        "vmax",
        F.expr("1000 * s1 div n").alias("mean_e3"),
        F.expr("1000 * (n * s2 - s1 * s1) div (n * n)").alias("var_e3"),
    )


# --- fixity: mergeable content-integrity digests ---------------------------

FIXITY_P = 2305843009213693951  # 2^61 - 1, the sum-lane modulus
_FIXITY_SEP = "\x1f"  # US control char: cannot appear in catalog text fields
_FIXITY_NULL = "\x00"  # distinguishes NULL from empty string in the canon


def with_sha256(
    df: DataFrame, content_cols: list[str], out_col: str = "sha256"
) -> DataFrame:
    """Per-row content digest: sha256 over the canonical serialization of
    ``content_cols`` (values cast to string, NULL encoded as ``\\x00``,
    joined on ``\\x1f``). Pure JVM (``sha2``), no UDF; the canon is
    engine-independent, so DuckDB's ``sha256`` reproduces it bit-for-bit.
    The separator is a control character that cannot occur in catalog text
    fields — callers hashing raw binary payloads should hash the payload
    column alone (sha2 accepts binary directly)."""
    canon = F.concat_ws(
        _FIXITY_SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_FIXITY_NULL))
            for c in content_cols
        ],
    )
    return df.withColumn(out_col, F.sha2(canon, 256))


def _fixity_lane(sha_col: str) -> Column:
    # first 12 hex digits -> int64 < 2^48: small enough that a decimal(38)
    # sum holds 10^12 rows with 2^40 headroom, big enough that a forged
    # collision needs 2^24 attempts per MULTISET (birthday bound) on top of
    # breaking the two independent combining lanes
    return F.conv(F.substring(F.col(sha_col), 1, 12), 16, 10).cast("bigint")


def fixity_registers(
    df: DataFrame, group_cols: list[str], content_cols: list[str]
) -> DataFrame:
    """Per-group multiset fixity digest: ``n_items`` plus two order-invariant
    combining lanes over each row's sha256 prefix — ``fixity_sum`` (sum mod
    2^61-1) and ``fixity_xor`` (bitwise xor). The catalog-integrity audit
    at 10^12 rows: recompute after any migration/compaction/replication and
    compare three numbers per collection instead of 10^12 hashes.

    Why two lanes: xor alone cancels duplicated items (A xor A = 0 — a
    double-ingest would go unseen); sum alone is weaker against crafted
    bit-flips. A corruption must preserve BOTH to hide, plus the count.

    Scale shape: one ``groupBy`` with map-side combine — the shuffle carries
    one partial register row per (group, input partition), never hashes.
    The sum lane accumulates in decimal(38,0) (2^126 headroom: 10^12 rows x
    2^48 lane max = 2^88) and reduces mod 2^61-1 AFTER the aggregate, so
    ANSI mode cannot overflow mid-combine. Order-invariant by construction:
    any partitioning, any retry, same digest. Mergeable: see
    ``fixity_merge`` — append-only ingest folds new batches in without
    rescanning history (same contract as the HLL/CMS/moment families)."""
    lane = _fixity_lane("_sha")
    return (
        with_sha256(df, content_cols, "_sha")
        .select(*group_cols, lane.alias("_lane"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(F.col("_lane").cast("decimal(38,0)")) % F.lit(FIXITY_P))
            .cast("bigint")
            .alias("fixity_sum"),
            F.expr("bit_xor(_lane)").alias("fixity_xor"),
        )
    )


def fixity_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge fixity registers to coarser keys (or across batches/epochs):
    counts and sum lanes add (mod 2^61-1), xor lanes xor. Exact — merging
    per-batch registers equals digesting the union (pytest-pinned), so
    incremental maintenance never rescans history."""
    return registers.groupBy(*group_cols).agg(
        F.sum("n_items").alias("n_items"),
        (F.sum(F.col("fixity_sum").cast("decimal(38,0)")) % F.lit(FIXITY_P))
        .cast("bigint")
        .alias("fixity_sum"),
        F.expr("bit_xor(fixity_xor)").alias("fixity_xor"),
    )


def equi_depth_buckets(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    n_buckets: int,
    lo: int,
    hi: int,
    n_bins: int = 2048,
    out_col: str = "bucket",
) -> DataFrame:
    """Assign every row its equi-depth (quantile) bucket within its group —
    curriculum ordering, difficulty stratification, length-balanced eval
    slices — WITHOUT a global sort: bucket thresholds come from the
    mergeable histogram sketch (``hist_quantiles``: deterministic, error
    bounded by one bin width), and the assignment given the thresholds is
    an exact codegen comparison.

    Why not ``ntile()``: a per-group ntile window sorts every group in one
    task — a hot group serializes at 10^12 rows. Here the fact table is
    touched twice, both map-friendly: once reduced to at most ``n_bins``
    register rows per group (map-side combine), once filtered against the
    broadcast dimension-sized threshold table. Bucket populations are
    equal up to bin-width resolution (pytest bounds the imbalance and pins
    the boundary semantics: a row lands in bucket b iff value >= b
    thresholds, thresholds = the ceil-rank quantile bins' UPPER edges, so
    ties at a threshold go to the higher bucket deterministically).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    regs = hist_registers(df, group_cols, val_col, lo, hi, n_bins)
    qs = [i * 1_000_000 // n_buckets for i in range(1, n_buckets)]
    th = hist_quantiles(regs, group_cols, qs, lo, hi, n_bins)
    ths = th.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("bin_hi")).alias("_ths")
    )
    bucket = F.size(
        F.filter(
            F.col("_ths"), lambda t: F.col(val_col).cast("bigint") >= t
        )
    )
    return (
        df.join(F.broadcast(ths), group_cols)
        .withColumn(out_col, bucket)
        .drop("_ths")
    )
