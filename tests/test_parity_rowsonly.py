"""DuckDB exact-parity tests for rows-only driver entries (VERDICT r4 #2).

The driver's exact-compare window is capped at 50 queries, so the newest
entries are rows-only there. The SQL-replayable ones get the same
rows+schema+value-exact comparison HERE, at sf0.001, following the
`test_sampling.py` replay pattern and the reference's golden-output
discipline (/root/reference/tests/test_commandapi.py:20-57):

- ``decontaminate``  — the 13-gram overlap rule replayed as exact n-gram
  STRING overlap (hash-free: equality of the outputs also certifies the
  xxhash64 window had no collisions on this corpus);
- ``phash_neardup``  — the pigeonhole Hamming-ball join vs a brute-force
  bit_count self-join;
- ``incremental_extents`` — the three-batch algebraic merge vs one flat
  aggregation over all assigned rows;
- ``data_mixture`` — the full two-source weighted mixture (per-source crc32
  salts, the 31-bit scramble, rate thresholds, the summary aggregate)
  replayed end to end, not just the scramble primitive;
- ``doc_fingerprint`` — the min-8-gram rolling hash (Horner polynomial,
  base 257 mod 2^31-1) replayed as a character-window polynomial with the
  per-position powers pre-reduced mod M (every product stays < 2^42, so
  both engines do exact int64 arithmetic);
- ``sequence_pack`` — the whole chunk->pack->summarize pipeline replayed:
  chunking in SQL, and first-fit-decreasing as a RECURSIVE CTE that
  threads the bin-capacity list through one row per chunk (proving the
  segment-tree FFD is bit-identical to the sequential definition);
- ``minhash_pairs`` — the ENTIRE MinHash-LSH pipeline replayed: exact-dup
  star collapse, 5-gram shingle hashes, all 64 permutations (a*h+b mod
  2^31-1, constants imported from the kernel), the 16 band folds, and the
  share-a-bucket self-join. Valid whenever the ``salt.minhash_pairs``
  decision reports zero oversized buckets (asserted) — then the Spark
  candidate set is exact;
- ``simhash_pairs`` — the 64-bit SimHash kernel (FNV-style Horner token
  hash with wrap-around uint64 arithmetic, splitmix64 finalizer, per-bit
  sign weights) replayed via HUGEINT mod-2^64 list_reduce folds, with the
  pigeonhole block join checked against a brute-force bit_count self-join;
- ``dedup_groups`` — the ENTIRE flagship text-dedup pipeline (LSH
  candidates -> IEEE-identical Jaccard verify -> recursive-CTE connected
  components -> star contraction -> keep-first) in one comparison;
- ``knn_cellring_fixed`` / ``spatial_join_partitioned`` — exactness claims
  checked directly against the oracle SQL that backs their driver-window
  twins (previously only transitive row-identity pytests).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as e
from stac_catalog_builder_spark import cache, oracles

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("orders", "nation", "documents", "events"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _norm(p: pd.DataFrame) -> pd.DataFrame:
    p = p[sorted(p.columns)].copy()
    for c in p.columns:
        if p[c].dtype == object:
            p[c] = p[c].astype(str)
    return p.sort_values(by=list(p.columns), ignore_index=True)


def _assert_parity(spark_df, con, sql: str) -> None:
    got = _norm(spark_df.toPandas())
    want = _norm(con.sql(sql).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_decontaminate_exact_vs_duckdb(spark, con):
    # mirrors q_decontaminate: bench = doc_id < 10, n = 13; the summary row
    # (-1, clean count) rides along so the whole entry output is covered
    sql = """
WITH dt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS g
  FROM dt, UNNEST(range(1, len(t) - 11)) AS u(i)
  WHERE doc_id < 10
),
dg AS (
  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g
  FROM dt, UNNEST(range(1, len(t) - 11)) AS u(i)
),
report AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM dg JOIN bg USING (g) GROUP BY doc_id
)
SELECT doc_id, n_hits FROM report
UNION ALL
SELECT CAST(-1 AS BIGINT),
       CAST((SELECT COUNT(*) FROM documents)
            - (SELECT COUNT(*) FROM report) AS BIGINT)
"""
    out = e.q_decontaminate(spark, SF)
    _assert_parity(out, con, sql)
    # the overlap is non-trivial on this corpus (bench docs self-hit)
    assert out.where("doc_id >= 0").count() >= 10


def test_phash_neardup_exact_vs_duckdb(spark, con):
    # mirrors q_phash_neardup: planted 2-bit twins (xor 0b10001 = 17),
    # max_hamming=6; oracle is the full brute-force bit_count self-join
    sql = f"""
WITH {oracles.IMAGES_CTE.strip()},
base AS (
  SELECT image_id, phash FROM images
  UNION ALL
  SELECT 're_' || image_id, xor(phash, 17) FROM images
)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM base a, base b
WHERE a.image_id < b.image_id
  AND bit_count(xor(a.phash, b.phash)) <= 6
"""
    out = e.q_phash_neardup(spark, SF)
    _assert_parity(out, con, sql)
    # every planted twin found
    n_images = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert out.where("hamming = 2").count() >= n_images


def test_hex_cells_exact_vs_duckdb(spark, con):
    """The H3-like encoder replayed bit-for-bit in SQL: identical IEEE op
    order, round_even == np.rint, packed-id integer assembly. Promotes the
    hex_cells rows-only entry to a value-exact check."""
    _assert_parity(e.q_hex_cells(spark, SF), con, oracles.sql_hex_cells())


def test_s2_cells_exact_vs_duckdb(spark, con):
    """The S2-style encoder replayed bit-for-bit: face cube, quadratic ST,
    the 30-step Hilbert walk unrolled into integer-only CTEs, HUGEINT
    two's-complement assembly (faces 4/5 set bit 63)."""
    _assert_parity(e.q_s2_cells(spark, SF), con, oracles.sql_s2_cells())


def test_image_dedup_groups_exact_vs_duckdb(spark, con):
    """The whole image-grouping pipeline replayed in DuckDB: brute-force
    bit_count pairs (candidate generation is connectivity-preserving, so
    components match the full pair graph's) + min-label propagation through
    a recursive CTE (set-semantics union reaches the fixpoint; labels are
    min over everything each node ever saw)."""
    sql = f"""
WITH RECURSIVE {oracles.IMAGES_CTE.strip()},
base AS (
  SELECT image_id, phash FROM images
  UNION ALL
  SELECT 're_' || image_id, xor(phash, 17) FROM images
),
pairs AS (
  SELECT a.image_id AS ia, b.image_id AS ib
  FROM base a, base b
  WHERE a.image_id < b.image_id
    AND bit_count(xor(a.phash, b.phash)) <= 6
),
sym AS (SELECT ia AS u, ib AS v FROM pairs UNION ALL SELECT ib, ia FROM pairs),
lab(node, label) AS (
  SELECT image_id, image_id FROM base
  UNION
  SELECT s.u, l.label FROM sym s JOIN lab l ON l.node = s.v
),
comp AS (SELECT node, min(label) AS group_id FROM lab GROUP BY node)
SELECT b.image_id, c.group_id, b.image_id = c.group_id AS is_kept
FROM base b JOIN comp c ON c.node = b.image_id
"""
    out = e.q_image_dedup_groups(spark, SF)
    _assert_parity(out, con, sql)
    # every twin grouped with (at least) its source, source kept
    n_images = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert out.where("NOT is_kept").count() >= n_images


def test_data_mixture_exact_vs_duckdb(spark, con):
    """mirrors q_data_mixture end to end: 'primary' = all docs at 0.5,
    'upweight' = lang='en' docs at 0.9, each drawn with its own crc32-salted
    31-bit scramble, then the per-source count/sum summary. Extends the
    test_sampling.py replay from the scramble primitive to the whole entry."""
    import zlib

    from stac_catalog_builder_spark.operators.sampling import _MIX, _MOD, _SCRAMBLE

    def src_ctes(name: str, rate: float, where: str) -> str:
        salt = zlib.crc32(name.encode()) % _MOD
        thr = int(float(rate) * _MOD)
        return f"""
{name}_b1 AS (
  SELECT doc_id, ((k + {salt}) * {_SCRAMBLE}) % {_MOD} AS b FROM b0 {where}
),
{name}_b2 AS (
  SELECT doc_id, (xor(b, b >> 16) * {_MIX}) % {_MOD} AS b FROM {name}_b1
),
{name}_kept AS (
  SELECT '{name}' AS source, doc_id FROM {name}_b2 WHERE xor(b, b >> 13) < {thr}
)"""

    sql = f"""
WITH b0 AS (
  SELECT doc_id, lang,
         ((xor(doc_id >> 31, doc_id) % {_MOD}) + {_MOD}) % {_MOD} AS k
  FROM documents
),{src_ctes("primary", 0.5, "")},{src_ctes("upweight", 0.9, "WHERE lang = 'en'")},
mix AS (SELECT * FROM primary_kept UNION ALL SELECT * FROM upweight_kept)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM mix GROUP BY source
"""
    out = e.q_data_mixture(spark, SF)
    _assert_parity(out, con, sql)
    # both sources contribute (the draw is non-degenerate on this corpus)
    assert out.count() == 2


def test_deterministic_shuffle_exact_vs_duckdb(spark, con):
    """mirrors q_deterministic_shuffle: the engine computes the global rank
    block-wise (block counts + offset cumsum + within-block rank, no global
    sort); the replay IS the definition — ROW_NUMBER() OVER (ORDER BY
    bucket, key) - 1 on the same 31-bit scramble. Equality proves the
    block decomposition reconstructs the exact total order."""
    from stac_catalog_builder_spark.operators.sampling import _MIX, _MOD, _SCRAMBLE

    salt = 3
    sql = f"""
WITH b0 AS (
  SELECT doc_id,
         ((xor(doc_id >> 31, doc_id) % {_MOD}) + {_MOD}) % {_MOD} AS k
  FROM documents
), b1 AS (
  SELECT doc_id, ((k + {salt}) * {_SCRAMBLE}) % {_MOD} AS b FROM b0
), b2 AS (
  SELECT doc_id, (xor(b, b >> 16) * {_MIX}) % {_MOD} AS b FROM b1
), b3 AS (
  SELECT doc_id, xor(b, b >> 13) AS b FROM b2
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY b, doc_id) - 1 AS BIGINT) AS shuffle_pos
FROM b3
"""
    _assert_parity(e.q_deterministic_shuffle(spark, SF), con, sql)


def test_doc_fingerprint_exact_vs_duckdb(spark, con):
    """mirrors q_doc_fingerprint: fingerprint = min over all 8-char windows
    of the Horner polynomial hash (base 257, mod 2^31-1) of the window's
    utf-8 bytes. The corpus is ASCII (asserted), so DuckDB's char positions
    are the byte positions; powers are inlined pre-reduced mod M exactly as
    the numpy kernel holds them, keeping every partial product in exact
    int64 range for both engines."""
    from stac_catalog_builder_spark.functions.hashes import MERSENNE31, SHINGLE_BASE

    k = 8
    # the kernel hashes utf-8 BYTES; char arithmetic below is only valid
    # on an ASCII corpus — assert that precondition rather than assume it
    assert con.sql(
        "SELECT count(*) FROM documents WHERE length(text) <> strlen(text)"
    ).fetchone()[0] == 0
    powers = [pow(SHINGLE_BASE, k - 1 - j, MERSENNE31) for j in range(k)]
    poly = " + ".join(
        f"CAST(ascii(substr(t, i + {j}, 1)) AS BIGINT) * {p}"
        for j, p in enumerate(powers)
    )
    sql = f"""
WITH dt AS (
  SELECT doc_id,
         CASE WHEN length(text) < {k} THEN rpad(text, {k}, ' ') ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(MIN(({poly}) % {MERSENNE31}) AS BIGINT) AS fingerprint
FROM dt, UNNEST(range(1, length(t) - {k - 2})) AS u(i)
GROUP BY doc_id
"""
    _assert_parity(e.q_doc_fingerprint(spark, SF), con, sql)


def test_sequence_pack_exact_vs_duckdb(spark, con):
    """mirrors q_sequence_pack end to end: 64-token chunking, first-fit-
    decreasing into 256-token contexts, per-context summary. The corpus has
    < 4096 chunks (asserted), so the derived n_groups is 1 and the pack-group
    hash is degenerate — every semantic step (token counts, the FFD order
    ``n_tokens DESC, chunk_id ASC``, bin choice, context ids, the summary)
    is replayed in SQL. FFD itself runs as a recursive CTE whose state is
    the bin remaining-capacity LIST: first bin with capacity wins
    (list_position over a >=-mask), else a new bin opens. This certifies the
    engine's O(n log n) segment-tree FFD (packing._ffd_positions) is
    bit-identical to the sequential textbook definition."""
    n_chunks = con.sql(
        """SELECT SUM(greatest(CAST(ceil(len(string_split(text,' '))/64.0) AS BIGINT), 1))
           FROM documents"""
    ).fetchone()[0]
    assert n_chunks < 4096, "single-pack-group precondition broken"
    con.execute(
        "CREATE MACRO IF NOT EXISTS firstfit(caps, t) AS "
        "NULLIF(list_position(list_transform(caps, c -> c >= t), true), 0)"
    )
    sql = """
WITH RECURSIVE
dt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS chunk_id,
         least(64, len(toks) - i * 64) AS n_tokens
  FROM dt, UNNEST(range(0, greatest(CAST(ceil(len(toks) / 64.0) AS BIGINT), 1))) AS u(i)
),
ordered AS (
  SELECT chunk_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens DESC, chunk_id) AS rn
  FROM chunks
),
ffd(rn, caps, bin_id) AS (
  SELECT 0, CAST([] AS BIGINT[]), CAST(NULL AS BIGINT)
  UNION ALL
  SELECT o.rn,
         CASE WHEN firstfit(f.caps, o.n_tokens) IS NULL
              THEN list_append(f.caps, 256 - o.n_tokens)
              ELSE f.caps[1:firstfit(f.caps, o.n_tokens)-1]
                   || [f.caps[firstfit(f.caps, o.n_tokens)] - o.n_tokens]
                   || f.caps[firstfit(f.caps, o.n_tokens)+1:]
         END,
         CASE WHEN firstfit(f.caps, o.n_tokens) IS NULL
              THEN len(f.caps)
              ELSE firstfit(f.caps, o.n_tokens) - 1 END
  FROM ffd f JOIN ordered o ON o.rn = f.rn + 1
),
assign AS (
  SELECT o.chunk_id, o.n_tokens, f.bin_id
  FROM ffd f JOIN ordered o ON o.rn = f.rn
)
SELECT '0_' || CAST(bin_id AS VARCHAR) AS context_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM assign GROUP BY 1
"""
    out = e.q_sequence_pack(spark, SF)
    _assert_parity(out, con, sql)
    # non-degenerate packing: multiple chunks per context on this corpus
    assert out.where("n_chunks > 1").count() > 0


def _minhash_cte_chain() -> str:
    """CTE chain ``corpus -> grp/star -> shing -> perms -> sigs -> sigarr ->
    bandkeys -> rep_pairs`` replaying minhash_candidate_parts on the doubled
    corpus (shared by the minhash_pairs and dedup_groups replays)."""
    from stac_catalog_builder_spark.functions.hashes import (
        MERSENNE31,
        MINHASH_A,
        MINHASH_B,
        SHINGLE_BASE,
    )

    M = MERSENNE31
    k = 5
    powers = [pow(SHINGLE_BASE, k - 1 - j, M) for j in range(k)]
    poly = " + ".join(
        f"CAST(ascii(substr(text, i + {j}, 1)) AS BIGINT) * {p}"
        for j, p in enumerate(powers)
    )
    perm_rows = ", ".join(
        f"({p}, {int(a)}, {int(b)})"
        for p, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )

    def band_expr(i: int) -> str:
        acc = str(i + 1)
        for r in range(4):
            acc = f"(({acc}) * {SHINGLE_BASE} + s[{i * 4 + r + 1}]) % {M}"
        return f"({acc}) + {i * M}"

    bands = ", ".join(band_expr(i) for i in range(16))
    return f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
grp AS (SELECT text, MIN(doc_id) AS rep FROM corpus GROUP BY text),
star AS (
  SELECT g.rep AS id_a, c.doc_id AS id_b
  FROM corpus c JOIN grp g USING (text) WHERE c.doc_id <> g.rep
),
shing AS (
  SELECT DISTINCT rep AS doc_id, ({poly}) % {M} AS h
  FROM grp, UNNEST(range(1, length(text) - {k - 2})) AS u(i)
),
perms AS (SELECT * FROM (VALUES {perm_rows}) AS v(p, a, b)),
sigs AS (
  SELECT doc_id, p, MIN((h * a + b) % {M}) AS sv
  FROM shing, perms GROUP BY doc_id, p
),
sigarr AS (SELECT doc_id, list(sv ORDER BY p) AS s FROM sigs GROUP BY doc_id),
bandkeys AS (
  SELECT doc_id, bk FROM sigarr, UNNEST([{bands}]) AS u(bk)
),
rep_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkeys a JOIN bandkeys b ON a.bk = b.bk AND a.doc_id < b.doc_id
)"""


def test_minhash_pairs_exact_vs_duckdb(spark, con):
    """mirrors q_minhash_pairs: the corpus doubles every doc (+1e6 ids), so
    every text has an exact-duplicate group; the replay collapses groups on
    the raw TEXT (strictly stronger than the engine's md5 identity), hashes
    every 5-gram shingle (Horner base 257 mod 2^31-1), applies all 64
    permutations, folds 16 band keys, and self-joins on shared buckets —
    star pairs ride along. Exactness of the Spark side's candidate set
    requires zero salted buckets, which the salt decision certifies (asserted
    below); given that, the two engines must emit the SAME pair set."""
    sql = f"""
WITH {_minhash_cte_chain().strip()}
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b FROM rep_pairs
UNION ALL
SELECT id_a, id_b FROM star
"""
    out = e.q_minhash_pairs(spark, SF)
    _assert_parity(out, con, sql)
    # the exactness precondition: no bucket was salted on this corpus
    assert cache.decision("salt.minhash_pairs")["oversized_buckets"] == 0
    # star pairs alone would be exactly one per doc; LSH must add more
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert out.count() > n_docs


def _dedup_groups_ctes() -> str:
    """CTE chain replaying graph.dedup_groups end to end (LSH candidates ->
    Jaccard verify -> recursive-CTE connected components -> star members
    adopt their representative's component), through ``all_lab``; shared by
    the dedup_groups and leakage_safe_split parity tests."""
    return f"""{_minhash_cte_chain().strip()},
tokset AS (
  SELECT rep AS doc_id, list_distinct(string_split(text, ' ')) AS tk FROM grp
),
jac AS (
  SELECT p.id_a, p.id_b,
         len(list_filter(ta.tk, x -> list_contains(tb.tk, x))) AS ni,
         len(ta.tk) + len(tb.tk) AS st
  FROM rep_pairs p
  JOIN tokset ta ON ta.doc_id = p.id_a
  JOIN tokset tb ON tb.doc_id = p.id_b
),
verified AS (
  SELECT id_a, id_b FROM jac
  WHERE CAST(ni AS DOUBLE) / (st - ni) >= 0.8
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
),
lab(node, label) AS (
  SELECT rep, rep FROM grp
  UNION
  SELECT s.u, l.label FROM sym s JOIN lab l ON l.node = s.v
),
comp AS (SELECT node, MIN(label) AS component FROM lab GROUP BY node),
memb AS (
  SELECT s.id_b AS node, COALESCE(c.component, s.id_a) AS component
  FROM star s LEFT JOIN comp c ON c.node = s.id_a
),
all_lab AS (SELECT * FROM comp UNION ALL SELECT * FROM memb)"""


def test_dedup_groups_exact_vs_duckdb(spark, con):
    """THE flagship text-dedup pipeline (q_dedup_groups) replayed end to end:
    minhash LSH candidates (the shared CTE chain) -> exact whitespace-token
    Jaccard verification at >= 0.8 (the same IEEE double division on both
    sides) -> connected components on the verified rep graph (recursive-CTE
    min-label propagation to the fixpoint) -> star members adopt their
    representative's component -> (doc_id, group_id, is_kept). Matching the
    engine certifies candidates, verification, the large-star/small-star CC
    rounds, AND the star-contraction soundness argument (reps are group
    minima, so component minima survive contraction) in one comparison."""
    sql = f"""
WITH RECURSIVE {_dedup_groups_ctes().strip()}
SELECT cp.doc_id,
       COALESCE(al.component, cp.doc_id) AS group_id,
       COALESCE(al.component, cp.doc_id) = cp.doc_id AS is_kept
FROM corpus cp LEFT JOIN all_lab al ON al.node = cp.doc_id
"""
    out = e.q_dedup_groups(spark, SF)
    _assert_parity(out, con, sql)
    assert cache.decision("salt.minhash_pairs")["oversized_buckets"] == 0
    # the doubled corpus guarantees real near-dup groups: every original
    # doc must share its group with its +1e6 twin and not be kept twice
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert out.where("NOT is_kept").count() >= n_docs


def test_simhash_pairs_exact_vs_duckdb(spark, con):
    """mirrors q_simhash_pairs: the 64-bit SimHash kernel replayed in SQL —
    per-token FNV-style Horner fold over utf-8 bytes and the splitmix64
    finalizer, both in wrap-around uint64 arithmetic emulated as HUGEINT
    mod 2^64 (multiplications split at 32 bits: a full 2^64 x 2^64 product
    overflows even HUGEINT) — then per-bit sign weights, two's-complement
    packing, and a brute-force bit_count self-join at hamming <= 3. Matching
    the engine certifies both the sketch kernel AND that the pigeonhole
    block join (zero salted buckets asserted) lost no qualifying pair."""
    from stac_catalog_builder_spark.functions.hashes import (
        _SPLITMIX_C1,
        _SPLITMIX_C2,
        _SPLITMIX_C3,
    )
    W = 1 << 64
    FNV_OFFSET = 1469598103934665603
    FNV_BASE = 1099511628211
    con.execute(
        "CREATE MACRO IF NOT EXISTS mulmod64(a, c) AS "
        "((((a >> 32) * c) % 4294967296) * 4294967296"
        f" + (a % 4294967296) * c) % {W}"
    )
    # splitmix64 finalizer, stepwise over [0, 2^64) HUGEINTs
    con.execute(
        "CREATE MACRO IF NOT EXISTS mix64(z0) AS ("
        f"WITH s AS (SELECT (z0 + {int(_SPLITMIX_C1)}) % {W} AS z1), "
        f"t AS (SELECT mulmod64(xor(z1, z1 >> 30), {int(_SPLITMIX_C2)}) AS z2 FROM s), "
        f"u AS (SELECT mulmod64(xor(z2, z2 >> 27), {int(_SPLITMIX_C3)}) AS z3 FROM t) "
        "SELECT xor(z3, z3 >> 31) FROM u)"
    )
    sql = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
grp AS (SELECT text, MIN(doc_id) AS rep FROM corpus GROUP BY text),
star AS (
  SELECT g.rep AS id_a, c.doc_id AS id_b
  FROM corpus c JOIN grp g USING (text) WHERE c.doc_id <> g.rep
),
toks AS (
  SELECT rep AS doc_id, tok
  FROM grp, UNNEST(string_split(text, ' ')) AS u(tok)
),
thash AS (
  SELECT doc_id,
         mix64(list_reduce(
           list_prepend(CAST({FNV_OFFSET} AS HUGEINT),
                        list_transform(string_split(tok, ''),
                                       c -> CAST(ascii(c) AS HUGEINT))),
           (a, b) -> (a * {FNV_BASE} + b) % {W}
         )) AS h
  FROM toks
),
weights AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS w
  FROM thash, UNNEST(range(0, 64)) AS u(b)
  GROUP BY doc_id, b
),
sk AS (
  SELECT doc_id,
         CAST(
           CASE WHEN v >= {1 << 63} THEN v - {W} ELSE v END AS BIGINT
         ) AS sketch
  FROM (
    SELECT doc_id,
           SUM(CASE WHEN w > 0 THEN CAST(1 AS HUGEINT) << b ELSE 0 END) AS v
    FROM weights GROUP BY doc_id
  )
),
rep_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.sketch, b.sketch)) AS INT) AS hamming
  FROM sk a JOIN sk b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sketch, b.sketch)) <= 3
)
SELECT id_a, id_b, hamming FROM rep_pairs
UNION ALL
SELECT id_a, id_b, CAST(0 AS INT) FROM star
"""
    out = e.q_simhash_pairs(spark, SF)
    _assert_parity(out, con, sql)
    assert cache.decision("salt.simhash_pairs")["oversized_buckets"] == 0
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert out.count() > n_docs


def test_knn_cellring_fixed_exact_vs_duckdb(spark, con):
    """The fixed-radius cellring kNN is EXACT (pruning never drops a true
    neighbor at res=8/ring 16), so the brute-force oracle that already backs
    `knn`/`knn_cellring` in the driver window applies verbatim — this
    promotes the rows-only entry to a direct value-exact check rather than
    the transitive row-identity pytest alone."""
    _assert_parity(e.q_knn_cellring_fixed(spark, SF), con, oracles.sql_knn(k=5))


def test_spatial_join_partitioned_exact_vs_duckdb(spark, con):
    """The shuffle-path PIP join (non-broadcastable polygon dimension) must
    produce exactly the broadcast path's assignment, so the spatial_join
    oracle applies verbatim — a direct DuckDB value check on top of the
    existing row-identity pytest."""
    _assert_parity(
        e.q_spatial_join_partitioned(spark, SF), con, oracles.sql_spatial_join()
    )


def test_incremental_extents_exact_vs_duckdb(spark, con):
    # mirrors q_incremental_extents: three modular batches folded via the
    # algebraic merge == one flat GROUP BY over all assigned rows
    sql = f"""
WITH {oracles.IMAGES_CTE.strip()}, {oracles.FOOTPRINTS_CTE.strip()},
{oracles.BOUNDARIES_CTE.strip()}, {oracles.ASSIGNED_CTE.strip()}
SELECT collection_id, tile_id,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(FLOOR(MIN(fp_w) * 1000000.0 + 0.5) AS BIGINT) AS ext_w_e6,
       CAST(FLOOR(MAX(fp_n) * 1000000.0 + 0.5) AS BIGINT) AS ext_n_e6,
       CAST(epoch(MIN(datetime)) AS BIGINT) AS dt_min_s,
       CAST(epoch(MAX(datetime)) AS BIGINT) AS dt_max_s
FROM assigned
GROUP BY collection_id, tile_id
"""
    _assert_parity(e.q_incremental_extents(spark, SF), con, sql)


def test_temporal_coverage_exact_vs_duckdb(spark, con):
    """The single-pass running-max fold (union length, island count, largest
    gap) replayed as the identical window in DuckDB — exact int64 seconds."""
    _assert_parity(
        e.q_temporal_coverage(spark, SF), con, oracles.sql_temporal_coverage()
    )


def test_hll_distinct_vs_duckdb(spark, con):
    """The fmix32 lane hash, register build, rollup merge, and estimate
    replayed in DuckDB. Sketch state (s_scaled, v_zero) and the harmonic
    estimate are value-exact; the two ln()-bearing columns are compared at
    +/-1 after the e3 floor (cross-engine libm may differ by 1 ulp)."""
    got = _norm(e.q_hll_distinct(spark, SF).toPandas())
    want = _norm(con.sql(oracles.sql_hll_distinct()).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    ln_cols = ["est_linear_e3", "est_e3"]
    exact = [c for c in got.columns if c not in ln_cols]
    pd.testing.assert_frame_equal(
        got[exact], want[exact], check_dtype=False, check_exact=True
    )
    for c in ln_cols:
        diff = (got[c].astype("float") - want[c].astype("float")).abs()
        assert diff.max() <= 1, (c, diff.max())


def test_tile_pyramid_exact_vs_duckdb(spark, con):
    """Quadkey assembly (bit-interleave concat) + prefix rollup replayed in
    DuckDB — integer/string-exact at every pyramid level."""
    _assert_parity(e.q_tile_pyramid(spark, SF), con, oracles.sql_tile_pyramid())


def test_compact_cover_exact_vs_duckdb(spark, con):
    """The quadtree compact cover (integer containment divisions, correlated
    explodes, parent-not-contained filter) replayed in DuckDB bit-exactly."""
    _assert_parity(e.q_compact_cover(spark, SF), con, oracles.sql_compact_cover())


def test_leakage_safe_split_exact_vs_duckdb(spark, con):
    """The full leakage-safe pipeline — dedup grouping AND the split
    scramble keyed on group_id — replayed in DuckDB value-exactly: proves
    the split hashes the component label, not the row id."""
    from stac_catalog_builder_spark.operators.sampling import _MIX, _MOD, _SCRAMBLE

    t_train, t_val = int(0.8 * _MOD), int(0.9 * _MOD)
    sql = f"""
WITH RECURSIVE {_dedup_groups_ctes().strip()},
gsel AS (
  SELECT cp.doc_id, COALESCE(al.component, cp.doc_id) AS group_id
  FROM corpus cp LEFT JOIN all_lab al ON al.node = cp.doc_id
),
s0 AS (
  SELECT doc_id, group_id,
         ((xor(group_id >> 31, group_id) % {_MOD}) + {_MOD}) % {_MOD} AS k
  FROM gsel
),
s1 AS (SELECT doc_id, group_id, ((k + 7) * {_SCRAMBLE}) % {_MOD} AS b FROM s0),
s2 AS (SELECT doc_id, group_id, (xor(b, b >> 16) * {_MIX}) % {_MOD} AS b FROM s1),
s3 AS (SELECT doc_id, group_id, xor(b, b >> 13) AS b FROM s2)
SELECT doc_id, group_id,
       CASE WHEN b < {t_train} THEN 'train'
            WHEN b < {t_val} THEN 'val'
            ELSE 'test' END AS split
FROM s3
"""
    _assert_parity(e.q_leakage_safe_split(spark, SF), con, sql)


def test_best_scene_mosaic_exact_vs_duckdb(spark, con):
    """min_by-aggregate scene selection vs a ROW_NUMBER window replay —
    equality certifies the packed ordering struct reproduces the exact
    (clear-flag, cloud, recency, id) total order."""
    _assert_parity(
        e.q_best_scene_mosaic(spark, SF), con, oracles.sql_best_scene_mosaic()
    )


def test_geohash_cells_exact_vs_duckdb(spark, con):
    """The unrolled shift/mask geohash encode replayed bit-for-bit."""
    _assert_parity(e.q_geohash_cells(spark, SF), con, oracles.sql_geohash_cells())


def test_catalog_diff_exact_vs_duckdb(spark, con):
    """Full-outer-join snapshot diff (added/removed/changed, null-safe
    compares) replayed end to end."""
    _assert_parity(e.q_catalog_diff(spark, SF), con, oracles.sql_catalog_diff())


def test_temperature_sample_exact_vs_duckdb(spark, con):
    """counts -> sqrt(n_min/n_d) rates -> 31-bit scramble threshold, all
    replayed — including the DOUBLE sample_rate column (int64 division and
    sqrt are IEEE correctly-rounded in both engines)."""
    _assert_parity(
        e.q_temperature_sample(spark, SF), con, oracles.sql_temperature_sample(salt=11)
    )


def test_aspect_buckets_exact_vs_duckdb(spark, con):
    """Bucket argmin (integer cross-product distance) + per-bucket batch
    layout vs ROW_NUMBER — equality proves the block decomposition
    reconstructs the exact in-bucket total order AND that least()-over-
    structs matches the (dist, bucket_id) ordering."""
    _assert_parity(
        e.q_aspect_buckets(spark, SF),
        con,
        oracles.sql_aspect_buckets(e.ASPECT_BUCKETS, batch_size=32, salt=3),
    )


def test_footprint_iou_exact_vs_duckdb(spark, con):
    """Grid-bucketed IoU self-join replayed end to end: micro quantization,
    cell explode, canonical-cell single-report, integer IoU — equality also
    certifies the Spark plan's no-distinct dedup emitted each pair once."""
    out = e.q_footprint_iou(spark, SF)
    _assert_parity(out, con, oracles.sql_footprint_iou())
    assert out.count() > 0


def test_cms_heavy_hitters_exact_vs_duckdb(spark, con):
    """Seeded fmix32 lanes -> (lane, bucket) registers -> min-over-lanes
    estimates vs exact counts, replayed end to end in exact int64."""
    out = e.q_cms_heavy_hitters(spark, SF)
    _assert_parity(out, con, oracles.sql_cms_heavy_hitters())
    assert out.count() == 97


def test_catalog_merge_exact_vs_duckdb(spark, con):
    """MERGE roundtrip: the engine rebuilds the new snapshot via
    diff -> apply; DuckDB computes the target snapshot directly."""
    out = e.q_catalog_merge(spark, SF)
    _assert_parity(out, con, oracles.sql_catalog_merge())


def test_hist_quantiles_exact_vs_duckdb(spark, con):
    """Histogram registers -> cumulative window -> ceil-rank quantile
    brackets, replayed end to end in exact int64."""
    out = e.q_hist_quantiles(spark, SF)
    _assert_parity(out, con, oracles.sql_hist_quantiles())
    assert out.count() == 2 * 4  # two asset types x four quantiles


def test_focal_density_exact_vs_duckdb(spark, con):
    """Cell density -> scatter convolution -> own+focal one-pass aggregate,
    replayed end to end (wrap-x via pmod emulation, clamp-y)."""
    out = e.q_focal_density(spark, SF)
    _assert_parity(out, con, oracles.sql_focal_density())
    assert out.count() > 0


def test_revisit_stats_exact_vs_duckdb(spark, con):
    """Lag-window revisit gaps per grid cell, replayed end to end."""
    out = e.q_revisit_stats(spark, SF)
    _assert_parity(out, con, oracles.sql_revisit_stats())
    assert out.count() > 0


def test_corpus_overlap_exact_vs_duckdb(spark, con):
    """KMV bottom-k registers -> union-sketch pair overlap replayed end to
    end: the fmix32 63-bit hash, ROW_NUMBER bottom-k, merged membership
    flags, and the single floating-point kth-min estimator division."""
    _assert_parity(e.q_corpus_overlap(spark, SF), con, oracles.sql_corpus_overlap())


def test_hilbert_index_exact_vs_duckdb(spark, con):
    """The Hilbert xy->d fold replayed as a DuckDB recursive CTE — one
    iteration per bit plane, masked rotations, exact int64."""
    _assert_parity(e.q_hilbert_index(spark, SF), con, oracles.sql_hilbert_index())


def test_spatial_clusters_exact_vs_duckdb(spark, con):
    """Grid DBSCAN replayed end to end: cell counts, core selection,
    wrap-x neighbor edges, recursive-CTE min-label components, and
    min-cluster border adoption — exact int64."""
    _assert_parity(
        e.q_spatial_clusters(spark, SF), con, oracles.sql_spatial_clusters()
    )


def test_patch_grid_exact_vs_duckdb(spark, con):
    """The patch lattice explode (aligned grid + flush tails) and the
    integer pixel->geo affine replayed end to end — exact int64."""
    _assert_parity(e.q_patch_grid(spark, SF), con, oracles.sql_patch_grid())


def test_gap_fill_exact_vs_duckdb(spark, con):
    """Tick grid + (ts, side)-ordered forward fill replayed end to end —
    exact int64 grid/staleness, the DOUBLE value carried unchanged."""
    _assert_parity(e.q_gap_fill(spark, SF), con, oracles.sql_gap_fill())


def test_moment_stats_exact_vs_duckdb(spark, con):
    """Power sums + fixed-point mean/variance replayed — exact int64."""
    _assert_parity(e.q_moment_stats(spark, SF), con, oracles.sql_moment_stats())


def test_group_sample_exact_vs_duckdb(spark, con):
    """The scramble rank (ROW_NUMBER over bucket, key) and the k filter
    replayed end to end — exact int64."""
    _assert_parity(e.q_group_sample(spark, SF), con, oracles.sql_group_sample())


def test_scd2_history_exact_vs_duckdb(spark, con):
    """Change-point windows (null-safe lag compares) + interval close
    (lead) replayed end to end — exact int/string."""
    _assert_parity(e.q_scd2_history(spark, SF), con, oracles.sql_scd2_history())


def test_fixity_audit_exact_vs_duckdb(spark, con):
    """sha256 canon + sum-mod-P + xor lanes replayed end to end — exact."""
    _assert_parity(e.q_fixity_audit(spark, SF), con, oracles.sql_fixity_audit())


def test_union_area_exact_vs_duckdb(spark, con):
    """Grid clip + x-slab sweep + y-interval fold replayed end to end —
    exact int64 dissolved areas."""
    _assert_parity(e.q_union_area(spark, SF), con, oracles.sql_union_area())


def test_radius_join_exact_vs_duckdb(spark, con):
    """The grid-bucketed within-distance join vs a brute cross join with
    the same haversine — pair set and mm-floored distances identical."""
    _assert_parity(e.q_radius_join(spark, SF), con, oracles.sql_radius_join())


def test_inverted_postings_exact_vs_duckdb(spark, con):
    """tokenize -> tf -> df -> prune replayed end to end — exact int64."""
    _assert_parity(
        e.q_inverted_postings(spark, SF), con, oracles.sql_inverted_postings()
    )


def test_contrastive_negatives_exact_vs_duckdb(spark, con):
    """Shuffle rank + wrap-offset join replayed end to end — exact."""
    _assert_parity(
        e.q_contrastive_negatives(spark, SF),
        con,
        oracles.sql_contrastive_negatives(),
    )


def test_equi_depth_exact_vs_duckdb(spark, con):
    """Histogram registers -> ceil-rank thresholds -> bucket count replayed
    end to end — exact int64."""
    _assert_parity(e.q_equi_depth(spark, SF), con, oracles.sql_equi_depth())
