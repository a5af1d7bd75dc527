"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k per query — the baseline. Queries
  are a broadcast-sized set; the dot product is a pure JVM expression
  (``zip_with`` + left-fold ``aggregate``), so the scan stays in whole-stage
  codegen with NO Python in the hot path. Top-k via window rank over the
  (|Q| x N) candidate set; at 100 TB you bound this with the LSH/IVF variant.
- ``ann_lsh_topk``: hyperplane-LSH bucketed approximate variant — candidates
  only from the query's bucket (plus optional multi-probe neighbors), then
  exact re-rank. The shuffle is an equi-join on bucket ids.
- ``ivf_topk``: IVF-style — k-means-lite centroids (deterministic seeded
  sample, Lloyd iterations in numpy on the driver over a sample), assign each
  vector to its nearest centroid (Arrow UDF), probe the closest ``nprobe``
  centroids per query.

The fold order of ``F.aggregate`` (left fold) matches DuckDB's
``list_reduce`` exactly, giving bit-identical doubles for the oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashes import hyperplane_sketch
from ..session import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, cosine): the ``k`` best-scored
    neighbors per query, ties broken by neighbor id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _leftfold_sq(m: np.ndarray) -> np.ndarray:
    """sum of squares per row with the SAME left-fold op order as
    ``F.aggregate``/DuckDB ``list_reduce`` (((0+v1^2)+v2^2)+...) — vectorized
    across rows, sequential over dims, so every double is bit-identical."""
    acc = np.zeros(m.shape[0])
    for d in range(m.shape[1]):
        acc = acc + m[:, d] * m[:, d]
    return acc


def _cosine_partial_topk_gen(
    qids: np.ndarray, qm: np.ndarray, key_col: str, vec_col: str, k: int
):
    qn = np.sqrt(_leftfold_sq(qm))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()]
            )
            ids = pdf[key_col].to_numpy()
            # left-fold dot product (matches the JVM/DuckDB fold bit-for-bit)
            acc = np.zeros((len(qm), len(nm)))
            for d in range(qm.shape[1]):
                acc = acc + qm[:, d][:, None] * nm[:, d][None, :]
            nn = np.sqrt(_leftfold_sq(nm))
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / (qn[:, None] * nn[None, :])
            # zero-norm vectors (the classic failure-mode embedding) produce
            # NaN cosines; left as NaN they poison np.partition's k-th
            # threshold and a batch would emit ZERO rows for that query —
            # demote them below every real candidate instead
            cos = np.where(np.isnan(cos), -np.inf, cos)
            cos = np.where(qids[:, None] == ids[None, :], -np.inf, cos)  # no self
            kk = min(k, cos.shape[1])
            kth = -np.partition(-cos, kk - 1, axis=1)[:, kk - 1]
            qi, bi = np.nonzero(cos >= kth[:, None])
            keep = np.isfinite(cos[qi, bi])
            qi, bi = qi[keep], bi[keep]
            yield pd.DataFrame(
                {"query_id": qids[qi], "neighbor_id": ids[bi], "cosine": cos[qi, bi]}
            )

    return gen


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must have (query_id, qvec) and be dimension-sized (collected
    once, like a broadcast var). Map-side partial top-k: each Arrow batch
    scores a (Q x B) cosine matrix in numpy and emits only its per-query
    top-k (plus exact ties), so the shuffle into the final window carries
    batches x Q x k rows instead of |Q| x N — the same treatment as
    ``knn_join``. Output: (query_id, rank, neighbor_id, cosine); self-matches
    excluded. The dot/norm folds replicate ``F.aggregate``'s left fold, so
    cosines stay bit-identical to the JVM/DuckDB expression.
    """
    qpdf = queries.select("query_id", "qvec").toPandas()
    qid_type = dict(queries.dtypes)["query_id"]
    nid_type = dict(emb.dtypes)[key_col]
    if qpdf.empty:
        # np.stack on zero queries raises; return an empty result with the
        # output schema instead (parity with the join-based formulation)
        return local_frame(
            emb.sparkSession,
            [],
            f"query_id {qid_type}, rank int, neighbor_id {nid_type}, cosine double",
        )
    qm = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["qvec"].to_numpy()])
    qids = qpdf["query_id"].to_numpy()
    schema = f"query_id {qid_type}, neighbor_id {nid_type}, cosine double"
    partials = emb.select(key_col, vec_col).mapInPandas(
        _cosine_partial_topk_gen(qids, qm, key_col, vec_col, k), schema=schema
    )
    return _top_k(partials, k)


def _bucket_udf(n_planes: int, n_tables: int):
    """Multi-table hyperplane LSH: one bucket id per table (different seeded
    hyperplane sets), namespaced so tables never collide with each other."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        per_table = [
            hyperplane_sketch(m, n_planes, seed=7 + t) + (t << 40)
            for t in range(n_tables)
        ]
        stacked = np.stack(per_table, axis=1)  # (N, L)
        return pd.Series(list(stacked.tolist()))

    return buckets


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share >=1 of the query's LSH buckets
    across ``n_tables`` independent hyperplane tables (the standard
    recall-vs-candidates dial: recall ~ 1-(1-p^planes)^tables).
    Same output schema as ``cosine_topk`` (recall measured in tests)."""
    buckets = _bucket_udf(n_planes, n_tables)
    fact = emb.select(
        F.col(key_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        F.explode(buckets(F.col(vec_col))).alias("bucket"),
    )
    q = queries.select(
        "query_id", "qvec", F.explode(buckets(F.col("qvec"))).alias("bucket")
    )
    # a pair sharing several buckets is one candidate: deduplicate before
    # scoring so each pair's d-length folds run once
    scored = (
        fact.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            cosine_col(F.col("qvec"), F.col("nvec")).alias("cosine"),
        )
    )
    return _top_k(scored, k)


def quantize_embeddings(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: 4x the storage (and shuffle
    bytes) of float32 at 10^12-vector scale. Pure JVM: per-row max-abs scale,
    ``transform`` to tinyint codes. ``dequantize_col`` restores approximate
    floats; cosine top-k recall on the synthetic corpus is pytest-gated."""
    scale = F.greatest(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
        ),
        F.lit(1e-30),
    ) / F.lit(127.0)
    return emb.withColumn("q_scale", scale).withColumn(
        "q_codes",
        F.transform(
            F.col(vec_col),
            lambda v: F.floor(v.cast("double") / F.col("q_scale") + 0.5).cast(
                "tinyint"
            ),
        ),
    )


def dequantize_col(codes: Column, scale: Column) -> Column:
    return F.transform(codes, lambda c: (c.cast("double") * scale).cast("float"))


def train_centroids_np(sample: np.ndarray, n_centroids: int, iters: int = 10) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample (IVF codebook)."""
    rng = np.random.default_rng(42)
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    cent = sample[idx].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                cent[c] = sample[m].mean(axis=0)
    return cent


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 2000,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to centroid lists, probe the
    ``nprobe`` nearest lists per query, exact re-rank within.

    At 100 TB the centroid assignment is the only full pass (Arrow UDF, one
    int per row) and queries touch ~nprobe/n_centroids of the data.
    """
    sample = np.stack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in emb.select(vec_col).limit(sample_rows).collect()
        ]
    )
    cent = train_centroids_np(sample, n_centroids)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        d = ((m[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        d = ((m[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(
            [row.argsort()[:nprobe].astype(np.int32).tolist() for row in d]
        )

    fact = emb.select(
        F.col(key_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        assign(F.col(vec_col)).alias("list_id"),
    )
    q = queries.select(
        "query_id", "qvec", F.explode(probes(F.col("qvec"))).alias("list_id")
    )
    scored = (
        fact.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_col(F.col("qvec"), F.col("nvec")).alias("cosine"),
        )
    )
    return _top_k(scored, k)
