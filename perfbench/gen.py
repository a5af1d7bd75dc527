"""Seeded input generator for the benchmark workloads.

Everything the engine reads is written here from ``--seed`` alone; the same
seed always yields byte-identical tables.

- ``orders.parquet/`` is a lake-shaped directory with one file per replica.
  Each replica holds the sf0.1 key range ``0..149_999`` offset by
  ``200_000 * r`` for a seed-chosen replica index ``r < 17_000``. The bound
  keeps ``key * A_LON`` inside int64 under ANSI mode, and the offsets are
  multiples of 10 and even, so the 30% hot cluster (``key % 10 < 3``) and
  the two-assets-per-item pairing of the image derivation are preserved.
- ``nation.parquet`` is the fixed 25-row dimension (key ``j``, region
  ``j % 5``) that the boundary and kNN-query dimensions are derived from.
- ``documents.parquet`` is one file: a fixed base corpus over a 30-word
  vocabulary (5% near-duplicates that end in ``dup``), emitted under
  seed-chosen distinct Caesar rotations so each rotation is a disjoint
  token space. The base is the same for every seed, so the duplicate
  structure (and with it the work of the dedup pipeline) is too; the seed
  changes every token and hash. Doc ids stay below 1e6 because the queries
  add 1e6 for their exact copies.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLICA_STRIDE = 200_000
MAX_REPLICA = 17_000
N_NATIONS = 25

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DUP_SHARE = 0.05


def replica_offsets(seed: int, n_replicas: int) -> list[int]:
    rng = np.random.default_rng([seed, 1])
    reps = np.sort(rng.choice(MAX_REPLICA, size=n_replicas, replace=False))
    return [int(r) * REPLICA_STRIDE for r in reps]


def rotations(seed: int, n_rot: int) -> list[int]:
    rng = np.random.default_rng([seed, 2])
    return sorted(int(r) for r in rng.choice(np.arange(1, 26), size=n_rot, replace=False))


def _orders_table(rng: np.random.Generator, offset: int, n: int) -> pa.Table:
    key = np.arange(n, dtype=np.int64) + offset
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table(
        {
            "o_orderkey": key,
            "o_custkey": rng.integers(0, 15_000, n, dtype=np.int64),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n)
                ]
            ),
        }
    )


def write_images_inputs(out_dir: str, seed: int, n_replicas: int, per_replica: int) -> int:
    """orders (one file per replica) + nation. Returns the image count."""
    os.makedirs(f"{out_dir}/orders.parquet", exist_ok=True)
    for i, off in enumerate(replica_offsets(seed, n_replicas)):
        rng = np.random.default_rng([seed, 3, i])
        pq.write_table(
            _orders_table(rng, off, per_replica),
            f"{out_dir}/orders.parquet/part-{i:05d}.parquet",
        )
    nk = np.arange(N_NATIONS, dtype=np.int32)
    pq.write_table(
        pa.table(
            {
                "n_nationkey": nk,
                "n_name": [f"NATION_{j}" for j in nk],
                "n_regionkey": nk % 5,
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    return n_replicas * per_replica


def _caesar(text: str, k: int) -> str:
    return "".join(chr((ord(c) - 97 + k) % 26 + 97) if "a" <= c <= "z" else c for c in text)


def base_corpus(n_docs: int) -> list[str]:
    rng = np.random.default_rng(4)
    docs: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < DUP_SHARE:
            # near-duplicates copy only originals, so duplicate groups are
            # stars of one hop and the component count work is the same
            # for every seed
            toks = docs[originals[int(rng.integers(0, len(originals)))]].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            docs.append(" ".join(toks + ["dup"]))
        else:
            n_tok = int(rng.integers(10, 101))
            originals.append(i)
            docs.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    return docs


def write_documents(out_dir: str, seed: int, n_base: int, n_rot: int) -> int:
    """documents.parquet (single file). Returns the document count."""
    base = base_corpus(n_base)
    rng = np.random.default_rng([seed, 5])
    texts, langs, sources = [], [], []
    for k in rotations(seed, n_rot):
        texts += [_caesar(t, k) for t in base]
        langs += list(rng.choice(LANGS, size=n_base, p=LANG_P))
        sources += [f"src{i % N_SOURCES}" for i in range(n_base)]
    n = len(texts)
    if n >= 1_000_000:
        raise ValueError(f"{n} documents would collide with the queries' +1e6 copies")
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": langs,
                "source": sources,
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    return n
