"""Product-quantization (PQ) compressed ANN with ADC rerank.

The reference's *default* vector engine is a PQ/ADC index
(``reference include/yams/vector/vector_types.h:60-99``: m=32
subquantizers, k=256 centroids/subspace, train limit 4096, ADC rerank
factor 2, fixed seed). This module implements the published algorithm
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) Spark-first:

* **train** — k-means per subspace on a bounded sample, driver-side numpy
  (the codebook is a tiny model: m·k·(d/m) floats = d·k ≈ 64·256 values —
  a broadcast dictionary, not data).
* **encode** — one Arrow-batched mapInPandas pass: each vector becomes m
  uint8 codes (d·4 bytes → m bytes, 16× compression at d=64/m=16). The
  codes table is what lives in executor memory at 100 TB.
* **ADC search** — the query builds an (m × k) distance lookup table,
  broadcast; each partition scores its codes with numpy ``take`` + sum
  (no decompression), keeps a local top-(rerank·k); the global
  top-(rerank·k) candidates are then *exactly* re-scored against the
  uncompressed vectors (the reference's rerank_factor=2 contract) and the
  exact top-k returned. No full-corpus driver materialization anywhere.

Not SQL-expressible (k-means training), so correctness is pinned by
pytest: codebook determinism, reconstruction-error sanity, and recall ≥
exact-overlap thresholds on clustered fixtures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PQ_SUBQUANTIZERS = 32  # vector_types.h: simeon_pq_subquantizers
PQ_CENTROIDS = 256  # simeon_pq_centroids (1 byte per code)
PQ_TRAIN_LIMIT = 4096  # simeon_pq_train_limit
PQ_RERANK_FACTOR = 2  # simeon_pq_rerank_factor
PQ_SEED = 0xC0FFEE5EED5EEDC0  # simeon_pq_seed


def _kmeans(x: np.ndarray, k: int, iters: int, rng: np.random.Generator) -> np.ndarray:
    """Plain Lloyd's k-means (deterministic given rng); returns (k', dsub)
    centroids with k' = min(k, distinct points)."""
    uniq = np.unique(x, axis=0)
    if len(uniq) <= k:
        out = np.zeros((min(k, len(uniq)), x.shape[1]), dtype=np.float64)
        out[: len(uniq)] = uniq
        return out
    idx = rng.choice(len(x), size=k, replace=False)
    cent = x[idx].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                cent[j] = x[mask].mean(axis=0)
    return cent


def train_pq(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_SUBQUANTIZERS,
    k: int = PQ_CENTROIDS,
    train_limit: int = PQ_TRAIN_LIMIT,
    iters: int = 10,
    seed: int = PQ_SEED,
) -> list[np.ndarray]:
    """Codebooks: m arrays of (<=k, d/m) centroids, trained on a bounded
    deterministic sample (first train_limit rows by natural order of a
    limit — callers wanting strict determinism pass a sorted corpus)."""
    sample = np.stack(
        corpus.select(vec_col).limit(train_limit).toPandas()[vec_col].to_numpy()
    ).astype(np.float64)
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    rng = np.random.default_rng(seed)
    return [
        _kmeans(sample[:, j * dsub : (j + 1) * dsub], k, iters, rng)
        for j in range(m)
    ]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): m nearest-centroid indices per vector."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast([c.astype(np.float64) for c in codebooks])
    m = len(codebooks)

    def encode(iterator):
        books = bc.value
        dsub = books[0].shape[1]
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j, cb in enumerate(books):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # ||a-c||^2 = ||a||^2 - 2 a.c + ||c||^2 ; argmin over c
                d = (
                    -2.0 * (sub @ cb.T)
                    + np.einsum("ij,ij->i", cb, cb)[None, :]
                )
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": [list(map(int, c)) for c in codes]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, codes array<int>"
    )


def pq_adc_topk(
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: list[np.ndarray],
    query_vec,
    k: int = 5,
    rerank_factor: int = PQ_RERANK_FACTOR,
) -> DataFrame:
    """Asymmetric-distance top-k for one query: LUT scan over the codes
    table, global top-(rerank_factor·k) by approximate L2, exact cosine
    rerank against the uncompressed vectors, exact ordering of the final k.
    Returns (vec_id, adc_l2, cosine, rk)."""
    spark = codes.sparkSession
    q = np.asarray(query_vec, dtype=np.float64)
    m = len(codebooks)
    dsub = codebooks[0].shape[1]
    # (m, k') LUT of squared distances from the query subvector to centroids
    lut = [
        ((codebooks[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
        for j in range(m)
    ]
    bc = spark.sparkContext.broadcast(lut)
    pool = max(k * rerank_factor, k)

    def scan(iterator):
        tables = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            dist = np.zeros(len(c), dtype=np.float64)
            for j in range(len(tables)):
                dist += tables[j][c[:, j]]
            out = pd.DataFrame({"vec_id": pdf["vec_id"], "adc_l2": dist})
            yield out.nsmallest(pool, "adc_l2")

    approx = (
        codes.mapInPandas(scan, schema="vec_id long, adc_l2 double")
        .orderBy(F.col("adc_l2").asc(), F.col("vec_id").asc())
        .limit(pool)
    )
    # exact rerank: equi-join the candidate ids back to the vectors
    cand = approx.join(corpus.select("vec_id", "embedding"), "vec_id")

    def exact(iterator):
        qn = np.sqrt(q @ q)
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            denom = np.sqrt(np.einsum("ij,ij->i", x, x)) * qn
            denom[denom == 0.0] = np.inf
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "adc_l2": pdf["adc_l2"],
                    "cosine": (x @ q) / denom,
                }
            )

    reranked = cand.mapInPandas(
        exact, schema="vec_id long, adc_l2 double, cosine double"
    )
    from yams_spark.operators.search import global_rank

    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    topk = reranked.orderBy(*order).limit(k)
    return global_rank(topk, order, "rk")
