"""Deduplication operators for large-scale training-data pipelines.

Five strategies over the ``documents`` table, scale-shaped for 100 TB:

- **exact**: md5-hash groupBy (one shuffle on the hash — never on the text;
  map-side partial agg collapses duplicates before the exchange).
- **minhash LSH**: shingle -> minhash signature (Arrow pandas UDF) -> band
  keys -> explode -> *equi-join on band bucket* (the only shuffle is on small
  band keys; candidate verification is per-pair and local).
- **simhash**: 64-bit near-dup sketch; Hamming-ball candidates via 4x16-bit
  block keys (pigeonhole: hamming<=3 pairs share at least one exact block).
- **n-gram Jaccard**: exact token-set similarity for candidate verification
  (pure JVM array ops: split/array_distinct/array_intersect — no UDF).
- **embedding cosine**: random-hyperplane LSH buckets, within-bucket
  verification (see operators/similarity.py for the ANN search variants).

Reference parity: the reference's only dedup is drop-first-by-product-id
(stacbuilder/terracatalog.py:617-619) == ``dedup_exact`` on a key column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache
from ..functions.hashes import (
    batch_minhash_bands,
    batch_minhash_sigs,
    batch_rolling_fingerprint,
    batch_simhash64,
    hyperplane_sketch,
)
from .similarity import cosine_col


def dedup_exact(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: one row per distinct content hash with the kept
    representative (min key — deterministic 'first wins', the reference's
    keep='first' at terracatalog.py:617-619) and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(key_col))
        .groupBy("content_hash")
        .agg(F.min(key_col).alias("kept_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def with_minhash(df: DataFrame, text_col: str = "text", bands: int = 16) -> DataFrame:
    """Add minhash band-bucket keys (array) — one vectorized numpy pass per
    Arrow batch (packed-shingle sliding window + segmented min), zero
    per-document Python."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bandkeys(texts: pd.Series) -> pd.Series:
        keys = batch_minhash_bands(batch_minhash_sigs(texts.tolist()), bands)
        return pd.Series(list(keys))

    # Nondeterministic, so Catalyst evaluates it only where it is written: a
    # consumer's explode(band_keys) infers size(band_keys) > 0, and that
    # filter, pushed below this projection, carried a second copy of the
    # UDF (two ArrowEvalPython nodes, every text's keys computed twice).
    return df.withColumn("band_keys", bandkeys.asNondeterministic()(F.col(text_col)))


def _exact_collapse(
    df: DataFrame, key_col: str, payload_col: str, tag: str, hash_expr=None
) -> tuple[DataFrame, DataFrame]:
    """Collapse exactly-identical payloads to one representative (min key).

    -> (reps, star_pairs): ``reps`` has one row per distinct payload;
    ``star_pairs`` links each representative to its other group members
    (id_a=rep < id_b=member). Star expansion preserves duplicate-group
    connectivity with O(group) rows instead of the O(group^2) an LSH bucket
    of identical payloads would emit — THE hot-bucket pathology at 100 TB.
    ``hash_expr`` customizes the identity hash (default: md5 of the payload
    column; sketches and embeddings hash their string form). It must be null
    exactly when the payload is: null payloads are dropped.

    CONTRACT NOTE: downstream candidate sets become CONNECTIVITY-PRESERVING
    (rep-expanded), not the full bucket-pair set — a duplicate-group member
    pairs only with its representative, so a (member, external-near-dup)
    pair is represented transitively via (rep, member) + (rep, external).
    Correct for connected-components dedup (the consumer this engine
    targets); consumers that score every raw pair directly should expand
    member pairs from the star before scoring.
    """
    if hash_expr is None:
        hash_expr = F.md5(F.col(payload_col))
    text_col = payload_col
    # an inner join on a nullable _ch makes Catalyst infer isnotnull(_ch)
    # and push it below this projection: a second hash of every payload.
    # Only null payloads hash to null, and the join drops those rows anyway:
    # filter them first, and the coalesce declares _ch non-nullable, so no
    # filter is inferred
    hashed = df.where(F.col(text_col).isNotNull()).select(
        key_col, text_col, F.coalesce(hash_expr, F.lit("")).alias("_ch")
    )
    # groupBy + join back, NOT a whole-group window: the aggregate combines
    # map-side (a 10^9-row duplicate group ships one partial per task, not
    # 10^9 rows into one window task) and AQE skew-join splits the hot _ch
    # on the join; collect_list of members would not survive either
    reps_key = hashed.groupBy("_ch").agg(F.min(key_col).alias("_rep"))
    # persist the collapse output: it feeds both reps (-> the signature
    # table) and star (-> the result union). Measured at 4 cores, a
    # minhash + simhash + dedup_groups pass without this cache costs about
    # 2 cpu-s more (3 of 3 alternating rounds). The scope keeps one cache
    # per plan: a repeat call, or another tag collapsing the same payload,
    # reads this cache instead of rebuilding it
    members = cache.scoped_persist(f"{tag}_members", hashed.join(reps_key, "_ch"))
    star = members.where(F.col(key_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(key_col).alias("id_b")
    )
    reps = members.where(F.col(key_col) == F.col("_rep")).select(key_col, text_col)
    return reps, star


def _salt_hot_buckets(
    bucketed: DataFrame, key_col: str, max_bucket: int, tag: str
) -> DataFrame:
    """Split buckets larger than ``max_bucket`` into deterministic salted
    sub-buckets (pairs survive only within a sub-bucket). Bounds
    within-bucket pair output at O(n * max_bucket) instead of O(n^2) — the
    hot-bucket guard at 100 TB. Exact duplicates never reach here (collapsed
    upstream), so oversized buckets are *distinct* payloads colliding.

    One plan for every input, and no Spark job at call time: the oversized
    bucket sizes (a map-side-combined aggregate) are left-joined back
    without a hint, so AQE picks broadcast or shuffle from their runtime
    size, and ``salt = pmod(xxhash64(key), ceil(coalesce(_bn, 1) /
    max_bucket))`` is 0 for every bucket that is not oversized. The recall
    trade is recorded as the decision ``salt.<tag>``, a lazy one-row
    summary over the same aggregate (0 oversized => candidates exact)."""
    over = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn")).where(
        F.col("_bn") > max_bucket
    )
    summary = over.agg(
        F.count(F.lit(1)).alias("oversized_buckets"),
        F.coalesce(F.sum("_bn"), F.lit(0)).alias("rows_in_oversized"),
        F.lit(max_bucket).alias("max_bucket"),
    )
    cache.record(f"salt.{tag}", summary)
    n_sub = F.ceil(F.coalesce(F.col("_bn"), F.lit(1)) / max_bucket)
    salt = F.pmod(F.xxhash64(F.col(key_col)), n_sub).cast("int")
    return bucketed.join(over, "bucket", "left").withColumn("salt", salt).drop("_bn")


def _bucket_pairs(
    table: DataFrame, key_col: str, max_bucket: int, tag: str, *score: Column
) -> DataFrame:
    """The guarded LSH self-join shared by every pair operator:
    ``(key, bucket, ...)`` -> ``(id_a, id_b, *score)`` with id_a < id_b.

    ``table`` is persisted under ``tag`` BEFORE salting: the bucket-size
    aggregate and both self-join sides read it, so the UDF or explode that
    built it is not run again for each of those subtrees. Without the fence
    Catalyst also pushes inferred filters (an explode's ``size(..) > 0``)
    below the collapse join and evaluates the UDF in several subtrees (the
    minhash band-key UDF then processed 4x the rows at sf0.01). A repeat
    call on the same input reuses the live cache (one cache per plan), a
    call on another input replaces it; ``cache.release()`` frees it.
    ``score`` columns read the two sides as ``l.<col>`` / ``r.<col>``."""
    b = _salt_hot_buckets(
        cache.scoped_persist(tag, table), key_col, max_bucket, tag=tag
    )
    return (
        b.alias("l")
        .join(b.alias("r"), ["bucket", "salt"])
        .where(F.col(f"l.{key_col}") < F.col(f"r.{key_col}"))
        .select(
            F.col(f"l.{key_col}").alias("id_a"),
            F.col(f"r.{key_col}").alias("id_b"),
            *score,
        )
    )


def minhash_candidate_parts(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 16,
    max_bucket: int = 256,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """LSH candidate generation, decomposed -> ``(reps, rep_pairs, star)``.

    ``reps`` is one row per DISTINCT text (the collapse representatives);
    ``rep_pairs`` are LSH candidate pairs between reps (id_a < id_b,
    distinct, self-loop-free); ``star`` links each representative to its
    exact-duplicate group members (id_a=rep < id_b=member). Consumers that
    verify candidates (``graph.dedup_groups``) want the parts: star pairs
    are identical texts BY CONSTRUCTION (Jaccard exactly 1), so only
    ``rep_pairs`` ever needs scoring — at web scale the boilerplate-dup star
    edges are the bulk of the candidate set, and skipping their
    verification (and their n-gram tokenize/join) is a structural win, not
    a toy-scale shortcut.
    """
    reps, star = _exact_collapse(
        df.select(key_col, text_col), key_col, text_col, tag="minhash_pairs"
    )
    table = with_minhash(reps, text_col, bands).select(
        key_col, F.explode("band_keys").alias("bucket")
    )
    rep_pairs = _bucket_pairs(
        table, key_col, max_bucket, "minhash_pairs"
    ).distinct()  # docs sharing several bands; star pairs are unique already
    return reps, rep_pairs, star


def minhash_candidate_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 16,
    max_bucket: int = 256,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), CONNECTIVITY-PRESERVING: distinct
    texts sharing >=1 band bucket pair directly; members of an exact-duplicate
    group pair only with their group representative (star expansion — see
    ``_exact_collapse``), which preserves connected components without the
    quadratic identical-text bucket.

    100 TB shape: (1) exact-duplicate collapse first — identical texts (the
    classic boilerplate bucket) contribute star pairs, never quadratic bucket
    pairs; (2) explode(band_keys) -> self equi-join on the bucket over
    *distinct* texts only; (3) buckets still larger than ``max_bucket`` are
    salted into sub-buckets, capping within-bucket blowup (AQE skew-join
    splits the shuffle but NOT the O(b^2) pair output — this does). Salting
    makes recall approximate for pairs whose ONLY shared band lands in an
    oversized bucket; the decision ``salt.minhash_pairs`` reports exactly
    how much salting each call did (0 oversized buckets => exact candidates).
    """
    _, rep_pairs, star = minhash_candidate_parts(
        df, key_col=key_col, text_col=text_col, bands=bands, max_bucket=max_bucket
    )
    return rep_pairs.unionByName(star)


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    toks: DataFrame | None = None,
) -> DataFrame:
    """Exact whitespace-token Jaccard for candidate pairs — verification stage
    after LSH. Pure JVM array functions; docs join is two broadcast-or-shuffle
    hash joins on the id. Callers verifying many pair batches against the
    same corpus pass a persisted ``toks`` table ((key, toks array) — see
    ``dedup_groups``) so tokenization runs once, not once per join side."""
    if toks is None:
        toks = docs.select(
            F.col(key_col),
            F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
        )
    return (
        pairs.join(toks.withColumnRenamed(key_col, "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
        .join(toks.withColumnRenamed(key_col, "id_b").withColumnRenamed("toks", "toks_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
            F.size(F.array_union("toks_a", "toks_b")).alias("n_union"),
            (
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
    )


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(batch_simhash64(texts.tolist()))

    return df.withColumn("simhash", sh(F.col(text_col)))


def simhash_candidate_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup candidates with Hamming distance <= 3 (CONNECTIVITY-PRESERVING,
    see ``_exact_collapse``): by pigeonhole, distinct texts at hamming <= 3
    agree exactly on >=1 of the 4 16-bit blocks -> equi-join per block,
    verify with bit_count (JVM). Same 100 TB guards as minhash: exact
    duplicates are collapsed to star pairs (hamming 0 by definition) before
    the block join, and oversized (blk, val) buckets are salted.

    RECALL CONTRACT: the pigeonhole guarantee is exact only while every
    (blk, val) bucket fits ``max_bucket``; a qualifying pair whose only
    agreeing block lands in an oversized bucket is dropped when its keys salt
    into different sub-buckets. The trade is observable, not silent:
    the decision ``salt.simhash_pairs`` records oversized-bucket and
    affected row counts per call (0 oversized => the pigeonhole guarantee
    holds exactly)."""
    # collapse on the TEXT before hashing: the sketch UDF (the dominant
    # cost) runs once per DISTINCT text, and identical texts star-collapse
    # at hamming 0 exactly as identical sketches would
    reps, star = _exact_collapse(
        df.select(key_col, text_col), key_col, text_col, tag="simhash_pairs"
    )
    sh = with_simhash(reps, text_col).select(key_col, "simhash")
    rep_pairs = hamming_candidate_pairs(
        sh,
        key_col=key_col,
        sketch_col="simhash",
        max_hamming=3,
        max_bucket=max_bucket,
        tag="simhash_pairs",
        collapse_identical=False,  # star handled here, on the text
    )
    return rep_pairs.unionByName(star.withColumn("hamming", F.lit(0).cast("int")))


def hamming_candidate_pairs(
    df: DataFrame,
    key_col: str,
    sketch_col: str,
    max_hamming: int = 3,
    max_bucket: int = 256,
    tag: str = "hamming_pairs",
    collapse_identical: bool = True,
    sketch_bits: int = 64,
) -> DataFrame:
    """Near-dup candidate pairs for ANY 64-bit sketch column at Hamming
    distance <= ``max_hamming`` (CONNECTIVITY-PRESERVING, see
    ``_exact_collapse``) — the engine's generic Hamming-ball self-join,
    shared by text simhash and image perceptual hashes.

    Generalized pigeonhole (Manku et al., "Detecting Near-Duplicates for
    Web Crawling", WWW'07): the sketch splits into ``max_hamming + t``
    blocks and buckets on every combination of ``t`` blocks' values — two
    sketches within the ball have errors in <= max_hamming blocks, so at
    least one t-combination agrees exactly. ``t`` is 1 for small balls
    (h <= 3: 4+ blocks of 16 bits are entropy-rich) and 2 for h >= 4,
    where single blocks shrink to <= 9 bits (= <= 512 bucket values) and
    EVERY bucket goes hot at ~10^5 rows — round-5 growth
    measurement caught exactly that: key-random salting then silently cost
    ~35% of planted recall. Pairing blocks multiplies bucket entropy
    (C(h+2, 2) keys of ~2x the bits) so salting — the only recall trade in
    this operator — stays a pathological-input backstop instead of the
    common case. Same 100 TB guards as the text LSH family: byte-identical
    sketches collapse to star pairs (hamming 0) before the block join, and
    residual oversized buckets are salted — the decision ``salt.<tag>``
    records the (observable) recall trade.

    ``collapse_identical=False`` skips the sketch-level star collapse for
    callers that already collapsed upstream on the raw payload (simhash
    collapses on the TEXT so its sketch UDF runs once per distinct text);
    such callers union their own star pairs.

    ``sketch_bits``: the populated bit width. Blocks span [0, sketch_bits)
    — bits above MUST be zero on every row (caller contract). A narrower
    sketch in the default 64-bit layout leaves its top blocks constant-zero:
    one giant bucket per zero block, pure salting waste. Distances are
    still verified over all 64 bits, so a violated contract can only lose
    recall, never emit a wrong pair.
    """
    if not 1 <= max_hamming <= 15:
        # 0 would mean exact sketch equality — that is dedup_exact /
        # _exact_collapse territory, and its single 64-bit "block" mask
        # does not even fit an int64 literal
        raise ValueError(
            f"max_hamming must be in [1, 15] (0 == exact match: use "
            f"dedup_exact): {max_hamming}"
        )
    t = 1 if max_hamming <= 3 else 2
    n_blocks = max_hamming + t
    # validate every scalar BEFORE any DataFrame work: _exact_collapse
    # registers a scoped-persist tag, and erroring after that would leave
    # a dangling live cache entry until the next same-tag call
    if not n_blocks <= sketch_bits <= 64:
        raise ValueError(f"sketch_bits must be in [{n_blocks}, 64]: {sketch_bits}")
    if collapse_identical:
        reps, star = _exact_collapse(
            df.select(key_col, sketch_col),
            key_col,
            sketch_col,
            hash_expr=F.md5(F.col(sketch_col).cast("string")),
            tag=tag,
        )
    else:
        reps, star = df.select(key_col, sketch_col), None
    # block i covers bits [i*W//n, (i+1)*W//n), W = sketch_bits — widths
    # differ by at most one bit when W % n_blocks != 0; shiftright
    # sign-extends but the mask truncates to the block width, so negative
    # sketches are handled
    bounds = [
        (i * sketch_bits // n_blocks, (i + 1) * sketch_bits // n_blocks)
        for i in range(n_blocks)
    ]

    def block_val(lo: int, hi: int):
        return F.shiftright(sketch_col, lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))

    if t == 1:
        keys = [
            F.struct(F.lit(i).alias("blk"), block_val(lo, hi).alias("val"))
            for i, (lo, hi) in enumerate(bounds)
        ]
        bucket = F.col("b.blk").cast("bigint") * F.lit(2**33) + F.col("b.val")
    else:
        # every 2-combination of blocks: combo id in the high bits, the two
        # block values concatenated below (combined width <= 2*ceil(64/n)
        # <= 44 bits for n >= 3, so the packed id fits int64)
        from itertools import combinations

        keys = []
        for cid, (i, j) in enumerate(combinations(range(n_blocks), 2)):
            lo_i, hi_i = bounds[i]
            lo_j, hi_j = bounds[j]
            keys.append(
                F.struct(
                    F.lit(cid).alias("blk"),
                    (
                        block_val(lo_i, hi_i) * F.lit(1 << (hi_j - lo_j))
                        + block_val(lo_j, hi_j)
                    ).alias("val"),
                )
            )
        bucket = F.col("b.blk").cast("bigint") * F.lit(2**44) + F.col("b.val")
    blocks = reps.select(
        key_col,
        sketch_col,
        F.explode(F.array(*keys)).alias("b"),
    ).select(key_col, sketch_col, bucket.alias("bucket"))
    hamming = F.bit_count(
        F.col(f"l.{sketch_col}").bitwiseXOR(F.col(f"r.{sketch_col}"))
    ).alias("hamming")
    rep_pairs = (
        _bucket_pairs(blocks, key_col, max_bucket, tag, hamming)
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # sketches sharing several blocks; star pairs unique already
    )
    if star is None:
        return rep_pairs
    return rep_pairs.unionByName(star.withColumn("hamming", F.lit(0).cast("int")))


def phash_neardup_pairs(
    images: DataFrame,
    key_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 6,
    max_bucket: int = 1024,
    sketch_bits: int = 64,
) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGE pairs — the image-payload
    counterpart of ``simhash_candidate_pairs``, over the lake table's
    precomputed ``phash:int64`` column (the input contract carries it, so
    no pixel decode happens here at all: candidate generation is pure
    sketch arithmetic on 10^12 rows). ``max_hamming=6`` is the usual
    near-duplicate band for 64-bit perceptual hashes (re-encodes, small
    crops); identical frames collapse to star pairs first. A lake whose
    pHash populates fewer than 64 bits passes ``sketch_bits`` so block
    entropy covers only real bits (see ``hamming_candidate_pairs``)."""
    return hamming_candidate_pairs(
        images.select(key_col, phash_col),
        key_col=key_col,
        sketch_col=phash_col,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
        tag="phash_neardup",
        sketch_bits=sketch_bits,
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint (min 8-gram hash), batch-vectorized."""

    @F.pandas_udf(T.LongType())
    def fp(texts: pd.Series) -> pd.Series:
        return pd.Series(batch_rolling_fingerprint(texts.tolist()))

    return df.withColumn("fingerprint", fp(F.col(text_col)))


def embedding_neardup_pairs(
    emb: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    max_bucket: int = 1024,
) -> DataFrame:
    """Embedding near-duplicates: hyperplane-LSH bucket, verify cosine within
    bucket. Bucket join is an equi-join (shuffle on 2^n_planes keys). Same
    100 TB guards as the text LSH ops: byte-identical vectors (e.g. the
    all-zeros failure-mode embedding) collapse to star pairs at cosine 1.0
    instead of an O(b^2) bucket, and residual oversized buckets are salted."""
    reps, star0 = _exact_collapse(
        emb.select(key_col, vec_col),
        key_col,
        vec_col,
        hash_expr=F.md5(F.col(vec_col).cast("string")),
        tag="embedding_neardup",
    )
    star = star0.withColumn("cosine", F.lit(1.0))

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.map(np.asarray).to_numpy())
        return pd.Series(hyperplane_sketch(m, n_planes))

    table = reps.select(key_col, vec_col, bucket(F.col(vec_col)).alias("bucket"))
    cosine = cosine_col(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")).alias("cosine")
    rep_pairs = _bucket_pairs(
        table, key_col, max_bucket, "embedding_neardup", cosine
    ).where(F.col("cosine") >= threshold)
    return rep_pairs.unionByName(star)
