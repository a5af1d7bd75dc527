"""Portable deterministic hashing kernels for dedup / fingerprinting.

Pure numpy/stdlib — the same values everywhere (no JVM/xxhash dependency), so
pytest oracles can recompute them. Used by operators/dedup.py via Arrow
pandas UDFs.

Design notes for 100 TB scale: everything here is per-row bounded work (a few
hundred shingles x 64 permutations in int64 numpy), no cross-row state; the
heavy lifting (candidate pair generation) happens in Spark via band-bucket
equi-joins, not in Python.
"""

from __future__ import annotations

import numpy as np

MERSENNE31 = (1 << 31) - 1  # modulus: products of two <2^31 values fit int64
SHINGLE_BASE = 257

# Deterministic permutation parameters (seeded once, module-level: identical
# on driver and every executor).
_rng = np.random.default_rng(42)
NUM_PERM = 64
MINHASH_A = _rng.integers(1, MERSENNE31, NUM_PERM, dtype=np.int64)
MINHASH_B = _rng.integers(0, MERSENNE31, NUM_PERM, dtype=np.int64)


def char_shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Distinct k-gram (character shingle) hashes of a string, int64 in
    [0, 2^31). Vectorized: sliding windows dotted with base powers mod p."""
    raw = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(raw) < k:
        raw = np.pad(raw, (0, k - len(raw)), constant_values=32)
    win = np.lib.stride_tricks.sliding_window_view(raw.astype(np.int64), k)
    powers = np.array(
        [pow(SHINGLE_BASE, k - 1 - i, MERSENNE31) for i in range(k)], dtype=np.int64
    )
    return np.unique((win * powers).sum(axis=1) % MERSENNE31)


def minhash_signature(text: str, k: int = 5, num_perm: int = NUM_PERM) -> np.ndarray:
    """MinHash signature (num_perm int64 values) over char k-shingles."""
    sh = char_shingle_hashes(text, k)
    # (S, P) permuted values; min over shingles per permutation
    vals = (sh[:, None] * MINHASH_A[None, :num_perm] + MINHASH_B[None, :num_perm]) % (
        MERSENNE31
    )
    return vals.min(axis=0)


def minhash_bands(sig: np.ndarray, bands: int) -> np.ndarray:
    """Fold a signature into ``bands`` band-bucket keys (int64): docs sharing
    any band key are LSH candidates."""
    rows = len(sig) // bands
    out = np.empty(bands, dtype=np.int64)
    for b in range(bands):
        acc = np.int64(b + 1)
        for v in sig[b * rows : (b + 1) * rows]:
            acc = (acc * SHINGLE_BASE + np.int64(v)) % MERSENNE31
        out[b] = acc + b * MERSENNE31  # disjoint key space per band
    return out


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over a token list: sign of per-bit weight sums.
    Single-doc wrapper of the batch kernel (identical values)."""
    if not tokens:
        return 0
    hs = _batch_token_hashes([t.encode("utf-8", "ignore") for t in tokens])
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
    weights = (2 * bits - 1).sum(axis=0)
    packed = ((weights > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
    return int(np.asarray([packed], dtype=np.uint64).view(np.int64)[0])


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def rolling_fingerprint(text: str, k: int = 8) -> int:
    """Document fingerprint: minimum k-gram rolling hash (1-perm MinHash) —
    stable under small edits away from the minimizing window."""
    return int(char_shingle_hashes(text, k).min())


# ---------------------------------------------------------------------------
# Batch (whole-Arrow-batch) kernels: one numpy pass over ALL documents of a
# batch — no per-document Python in the UDF hot path. Values are identical to
# the per-document functions above (same int64 arithmetic, and min/fold are
# order-independent), which the tests assert.
# ---------------------------------------------------------------------------


def _pack_texts(texts: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate utf-8 bytes of all texts (each padded to >= k with spaces,
    like ``char_shingle_hashes``); -> (packed int64 bytes, per-doc lengths)."""
    bufs: list[bytes] = []
    lens = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        raw = (t or "").encode("utf-8", "ignore")
        if len(raw) < k:
            raw = raw + b" " * (k - len(raw))
        bufs.append(raw)
        lens[i] = len(raw)
    packed = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.int64)
    return packed, lens


def batch_shingle_hashes(texts: list[str], k: int = 5) -> tuple[np.ndarray, np.ndarray]:
    """k-gram hashes for ALL texts in one vectorized pass.

    Returns (hashes, n_per_doc): hashes are grouped contiguously per doc
    (duplicates included — irrelevant for min-based consumers). One sliding
    window over the packed byte array; windows straddling document boundaries
    are dropped by position arithmetic, never per-doc Python.
    """
    if not texts:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    packed, lens = _pack_texts(texts, k)
    win = np.lib.stride_tricks.sliding_window_view(packed, k)
    powers = np.array(
        [pow(SHINGLE_BASE, k - 1 - i, MERSENNE31) for i in range(k)], dtype=np.int64
    )
    h = (win * powers).sum(axis=1) % MERSENNE31
    n_win = lens - (k - 1)
    starts = np.cumsum(lens) - lens
    total = int(n_win.sum())
    out_off = np.repeat(np.cumsum(n_win) - n_win, n_win)
    within = np.arange(total, dtype=np.int64) - out_off
    pos = np.repeat(starts, n_win) + within
    return h[pos], n_win


def _mod_mersenne31(x: np.ndarray) -> np.ndarray:
    """x mod (2^31 - 1) without integer division (exact for 0 <= x < 2^62):
    fold the high bits twice, then one conditional subtract. int64 remainder
    in numpy is division-based and ~10x slower than these shifts."""
    x = (x & MERSENNE31) + (x >> 31)
    x = (x & MERSENNE31) + (x >> 31)
    return np.where(x >= MERSENNE31, x - MERSENNE31, x)


def batch_minhash_sigs(
    texts: list[str], k: int = 5, num_perm: int = NUM_PERM
) -> np.ndarray:
    """MinHash signatures for a whole batch.

    Shape of the computation (all vectorized, no per-doc Python):
    1. one packed sliding-window pass hashes every k-gram of every doc;
    2. shingles dedupe globally (corpora share most k-grams) and per doc;
    3. per permutation p: ``(a_p * uniq + b_p) mod M`` over the UNIQUE
       shingles only (divisionless Mersenne fold), a 1-D cache-resident
       gather back to the per-doc pair list, and one ``minimum.reduceat``.
    Transient memory is O(pairs) per permutation (not pairs x perms — a 2-D
    row gather measured 8x slower than 64 column passes). Values are
    identical to ``minhash_signature`` per doc.
    """
    if not texts:
        return np.zeros((0, num_perm), dtype=np.int64)
    sh, n_win = batch_shingle_hashes(texts, k)
    doc_of = np.repeat(np.arange(len(texts), dtype=np.int64), n_win)
    uniq, inv = np.unique(sh, return_inverse=True)
    # per-doc unique (doc, shingle) pairs, sorted by doc then shingle index
    pairs = np.unique((doc_of << np.int64(32)) | inv)
    pair_doc = pairs >> np.int64(32)
    pair_inv = pairs & np.int64(0xFFFFFFFF)
    starts = np.searchsorted(pair_doc, np.arange(len(texts), dtype=np.int64))
    out = np.empty((len(texts), num_perm), dtype=np.int64)
    for p in range(num_perm):
        vals_p = _mod_mersenne31(uniq * MINHASH_A[p] + MINHASH_B[p])
        out[:, p] = np.minimum.reduceat(vals_p[pair_inv], starts)
    return out


def batch_minhash_bands(sigs: np.ndarray, bands: int) -> np.ndarray:
    """Band-bucket keys for a (N, num_perm) signature matrix — the fold over
    rows-per-band runs as ``rows`` vector ops, not a per-doc Python loop.
    Values identical to ``minhash_bands`` per row."""
    n, p = sigs.shape
    rows = p // bands
    resh = sigs.reshape(n, bands, rows)
    acc = np.broadcast_to(np.arange(1, bands + 1, dtype=np.int64), (n, bands)).copy()
    for i in range(rows):
        acc = (acc * SHINGLE_BASE + resh[:, :, i]) % MERSENNE31
    return acc + np.arange(bands, dtype=np.int64)[None, :] * MERSENNE31


def batch_rolling_fingerprint(texts: list[str], k: int = 8) -> np.ndarray:
    """Per-doc min k-gram hash for a whole batch (== rolling_fingerprint)."""
    if not texts:
        return np.zeros(0, np.int64)
    sh, n_win = batch_shingle_hashes(texts, k)
    seg = np.cumsum(n_win) - n_win
    return np.minimum.reduceat(sh, seg)


_SPLITMIX_C1 = np.uint64(0x9E3779B97F4A7C15)
_SPLITMIX_C2 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C3 = np.uint64(0x94D049BB133111EB)


def _mix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — full-avalanche bit diffusion for the polynomial
    token hash (vectorized uint64, wrapping arithmetic)."""
    z = (z + _SPLITMIX_C1).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * _SPLITMIX_C2
    z = (z ^ (z >> np.uint64(27))) * _SPLITMIX_C3
    return z ^ (z >> np.uint64(31))


def _batch_token_hashes(tokens: list[bytes]) -> np.ndarray:
    """64-bit hash per token, vectorized: Horner polynomial over byte
    positions (max-token-length iterations of whole-array ops) + splitmix64
    finalizer. Replaces per-token blake2b (which forced a Python loop)."""
    if not tokens:
        return np.zeros(0, np.uint64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    flat = np.frombuffer(b"".join(tokens), dtype=np.uint8).astype(np.uint64)
    starts = np.cumsum(lens) - lens
    acc = np.full(len(tokens), np.uint64(1469598103934665603), dtype=np.uint64)
    base = np.uint64(1099511628211)
    maxlen = int(lens.max()) if len(lens) else 0
    old = np.seterr(over="ignore")
    try:
        for p in range(maxlen):
            m = lens > p
            acc[m] = acc[m] * base + flat[starts[m] + p]
        return _mix64(acc)
    finally:
        np.seterr(**old)


def batch_simhash64(texts: list[str]) -> np.ndarray:
    """64-bit SimHash per text (whitespace tokens) for a whole batch:
    token hashes -> per-doc bit-weight sums via ``np.add.reduceat`` -> sign
    bits. Doc-chunked to bound the (tokens x 64) transient."""
    if not texts:
        return np.zeros(0, np.int64)
    token_lists = [(t or "").split(" ") for t in texts]
    n_tok = np.fromiter((len(tl) for tl in token_lists), dtype=np.int64, count=len(texts))
    all_tokens = [w.encode("utf-8", "ignore") for tl in token_lists for w in tl]
    hs = _batch_token_hashes(all_tokens)
    seg = np.cumsum(n_tok) - n_tok
    shifts = np.arange(64, dtype=np.uint64)
    out = np.empty(len(texts), dtype=np.int64)
    budget = 1 << 19
    d0 = 0
    while d0 < len(texts):
        d1 = d0 + 1
        budget_end = seg[d0] + budget
        while d1 < len(texts) and seg[d1] + n_tok[d1] <= budget_end:
            d1 += 1
        s0, s1 = int(seg[d0]), int(seg[d1 - 1] + n_tok[d1 - 1])
        bits = ((hs[s0:s1, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
        weights = np.add.reduceat(2 * bits - 1, seg[d0:d1] - s0, axis=0)
        packed = (
            (weights > 0).astype(np.uint64) << shifts[None, :]
        ).sum(axis=1, dtype=np.uint64)
        out[d0:d1] = packed.view(np.int64)
        d0 = d1
    return out


def hyperplane_sketch(vecs: np.ndarray, n_planes: int = 16, seed: int = 7) -> np.ndarray:
    """Random-hyperplane LSH bucket ids for rows of ``vecs`` (N, D):
    sign-bit sketch packed into int64. Cosine-similar vectors collide."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((vecs.shape[1], n_planes))
    bits = (vecs @ planes) > 0
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    return (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
