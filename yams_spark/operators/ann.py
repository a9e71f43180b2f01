"""Similarity search over embedding columns, scale-gated like the reference.

The reference switches between an exact all-pairs path and the ANN index at
|sources|x|corpus| <= 250k (EmbeddingService.cpp:556-558). Same shape here:

* **exact path** (corpus <= ``EXACT_MAX_CORPUS_ROWS``): *broadcast matmul*
  — the corpus is shipped to every executor as a numpy matrix and each
  Arrow batch of the query side computes a dense (batch x corpus) cosine
  block, pruning to top-k locally before the global top-k. No per-row JVM
  lambda evaluation, no quadratic shuffle — but the corpus must fit on the
  driver, so this path is explicitly size-gated.
* **bucketed path** (above the gate): deterministic sign-bit LSH over the
  embedding itself (``sign_lsh_bands``: each band is the sign pattern of a
  contiguous dim slice — axis-aligned random-hyperplane LSH, chosen over
  dense Gaussian planes because it is reproducible in plain SQL for the
  DuckDB oracle). Candidates are the within-band equi-join; exact cosine
  runs only inside buckets. Fully distributed — no driver materialization
  anywhere on the path. Approximate by design: per-band match probability
  for a pair at angle θ is (1-θ/π)^band_bits, ≈93% recall at cosine 0.9
  with 8x8 bands; documented trade-off of every LSH ANN.

``cosine_topk`` / ``near_dup_pairs_topn`` route between the two on
``corpus.count()`` — q19/q20-style small corpora keep exact results, a
100TB embedding table never touches the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: exact-vs-ANN switch, mirroring EmbeddingService.cpp:556-558
EXACT_MAX_CORPUS_ROWS = 250_000
N_LSH_BANDS = 8
LSH_BAND_BITS = 8


def round_half_away(x, decimals: int):
    """Round half away from zero — matches DuckDB ROUND and Spark F.round
    (HALF_UP); numpy's np.round is banker's rounding and can flip ranks on
    exact .xxxx5 boundaries across engines."""
    s = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * s + 0.5), x) / s


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    return ids, mat


def sign_lsh_bands(df: DataFrame) -> DataFrame:
    """Explode each row to ``N_LSH_BANDS`` deterministic LSH band keys:
    band i is ``"i:" + sign-bit string`` of embedding dims
    [i*LSH_BAND_BITS, (i+1)*LSH_BAND_BITS). Axis-aligned hyperplane LSH for
    cosine — pure Catalyst (no UDF) and byte-reproducible in DuckDB SQL."""
    keys = []
    for i in range(N_LSH_BANDS):
        bits = F.concat_ws(
            "",
            F.transform(
                F.slice("embedding", i * LSH_BAND_BITS + 1, LSH_BAND_BITS),
                lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
            ),
        )
        keys.append(F.concat(F.lit(f"{i}:"), bits))
    return df.withColumn("lsh_band", F.explode(F.array(*keys)))


def _pair_cosine(
    pairs_with_vecs: DataFrame,
    out_cols: tuple[str, str],
    round_to: int = 5,
) -> DataFrame:
    """(id_a, vec_a, id_b, vec_b) -> (id_a, id_b, cosine): Arrow-batched
    float64 einsum, half-away rounding — same math as the broadcast path."""
    a_col, b_col = out_cols

    def compute(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["vec_a"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["vec_b"].to_numpy()).astype(np.float64)
            dots = np.einsum("ij,ij->i", va, vb)
            denom = np.sqrt(np.einsum("ij,ij->i", va, va)) * np.sqrt(
                np.einsum("ij,ij->i", vb, vb)
            )
            denom[denom == 0.0] = np.inf
            yield pd.DataFrame(
                {
                    a_col: pdf[a_col],
                    b_col: pdf[b_col],
                    "cosine": round_half_away(dots / denom, round_to),
                }
            )

    return pairs_with_vecs.mapInPandas(
        compute, schema=f"{a_col} long, {b_col} long, cosine double"
    )


def lsh_bucketed_pair_candidates(corpus: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >=1 sign-LSH band —
    the scale path's candidate generation (shuffle on band key only)."""
    b = sign_lsh_bands(corpus.select("vec_id", "embedding")).select(
        "lsh_band", F.col("vec_id").alias("id")
    )
    left = b.select("lsh_band", F.col("id").alias("id_a"))
    right = b.select("lsh_band", F.col("id").alias("id_b"))
    return (
        left.join(right, "lsh_band")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def near_dup_pairs_bucketed(
    corpus: DataFrame,
    threshold: float = -1.0,
    n: int | None = None,
) -> DataFrame:
    """LSH-bucketed near-dup pairs: candidates from shared sign bands,
    exact cosine inside buckets, filtered to >= threshold; optional global
    top-n via TakeOrderedAndProject (never a global window)."""
    cand = lsh_bucketed_pair_candidates(corpus)
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    scored = _pair_cosine(
        cand.join(a, "id_a").join(b, "id_b"), ("id_a", "id_b")
    ).where(F.col("cosine") >= threshold)
    ordered = scored.orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    return ordered.limit(n) if n is not None else ordered


def cosine_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k per query over LSH candidates only; the rank
    window partitions by query_id (no global single-partition sort)."""
    qb = sign_lsh_bands(
        queries.select(F.col("query_id").cast("long"), "embedding"),
    ).select("lsh_band", "query_id", F.col("embedding").alias("vec_a"))
    cb = sign_lsh_bands(
        corpus.select(id_col, "embedding")
    ).select("lsh_band", id_col, F.col("embedding").alias("vec_b"))
    cand = (
        qb.join(cb, "lsh_band")
        .where(F.col("query_id") != F.col(id_col))
        .dropDuplicates(["query_id", id_col])
        .select(
            F.col("query_id").alias("id_a"), F.col("vec_a"),
            F.col(id_col).alias("id_b"), F.col("vec_b"),
        )
    )
    scored = _pair_cosine(cand, ("id_a", "id_b"))
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("id_a").alias("query_id"), F.col("id_b").alias(id_col),
            "cosine", F.col("rk").cast("int"),
        )
    )


def cosine_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    max_exact_rows: int = EXACT_MAX_CORPUS_ROWS,
    corpus_rows: int | None = None,
    lsh_max_rows: int | None = None,
    ivf_pq_index=None,
    nprobe: int | None = None,
) -> DataFrame:
    """Top-k neighbors per query (excluding self id), scale-gated.

    Three tiers: exact broadcast matmul while the corpus fits the
    reference's 250k exact-path budget; LSH-bucketed approximate search
    above it (the corpus never leaves the executors); and — when
    ``lsh_max_rows`` is set and exceeded — the IVFADC route
    (``ivf.ivf_pq_topk_multi``: probe-pruned candidate join, PQ
    asymmetric-distance shortlist, exact rerank), the shape that holds
    at 10^9+ vectors where even band-bucketed exact cosine pays too much.
    ``ivf_pq_index`` is an optional prebuilt ``ivf.ivf_pq_index`` triple
    (centroids, codebooks, indexed) — at deployment the index is built
    once and persisted partitioned by list_id; absent, it is built on
    the fly. Defaults keep the 2-tier behavior, so every existing oracle
    is unchanged.

    Returns (query_id, vec_id, cosine, rk); cosine rounded for stable
    cross-engine comparison; ties broken by vec_id asc. ``corpus_rows``
    is an optional size hint: when the caller already knows the corpus
    cardinality, passing it skips the count() job the gate would
    otherwise run per invocation.
    """
    n_rows = corpus_rows if corpus_rows is not None else (
        corpus.count() if max_exact_rows is not None else 0
    )
    if lsh_max_rows is not None and n_rows > lsh_max_rows:
        from yams_spark.operators.ivf import (
            IVF_NPROBE,
            ivf_pq_index as build_index,
            ivf_pq_topk_multi,
        )

        if ivf_pq_index is None:
            ivf_pq_index = build_index(corpus, id_col)
        centroids, codebooks, indexed = ivf_pq_index
        return ivf_pq_topk_multi(
            indexed, centroids, codebooks, queries, k,
            nprobe=nprobe or IVF_NPROBE, id_col=id_col,
        )
    if max_exact_rows is not None and n_rows > max_exact_rows:
        return cosine_topk_bucketed(corpus, queries, k, id_col)
    ids, mat = _collect_matrix(corpus, id_col, "embedding")
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def compute(iterator):
        c_ids, c_mat, c_norms = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qn = np.sqrt(np.einsum("ij,ij->i", q, q))
            denom = np.outer(qn, c_norms)
            denom[denom == 0.0] = np.inf
            cos = round_half_away((q @ c_mat.T) / denom, 5)
            out_rows = []
            qids = pdf["query_id"].to_numpy()
            for r in range(len(pdf)):
                mask = c_ids != qids[r]
                cand_cos = cos[r][mask]
                cand_ids = c_ids[mask]
                # top-k by (cosine desc, id asc)
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                for rank, j in enumerate(order, start=1):
                    out_rows.append((int(qids[r]), int(cand_ids[j]), float(cand_cos[j]), rank))
            if out_rows:
                yield pd.DataFrame(
                    out_rows, columns=["query_id", id_col, "cosine", "rk"]
                )

    q_in = queries.select(
        F.col("query_id").cast("long"), F.col("embedding")
    )
    return q_in.mapInPandas(
        compute, schema=f"query_id long, {id_col} long, cosine double, rk int"
    )


def near_dup_pairs_topn(
    spark: SparkSession,
    corpus: DataFrame,
    n: int = 100,
    max_exact_rows: int = EXACT_MAX_CORPUS_ROWS,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Global top-n most-similar pairs (id_a < id_b), scale-gated.

    Exact while the corpus fits the 250k exact-path budget: per Arrow
    batch, dense (batch x corpus) cosine, local top-n prune, then a global
    top-n — exact because every pair is seen by exactly the batch holding
    its smaller... (either) side, and local prune keeps n candidates
    ordered identically to the global ordering. Above the gate: LSH-
    bucketed candidates + within-bucket exact cosine, fully distributed.
    ``corpus_rows`` is the same optional size hint as ``cosine_topk``'s.
    """
    n_rows = corpus_rows if corpus_rows is not None else (
        corpus.count() if max_exact_rows is not None else 0
    )
    if max_exact_rows is not None and n_rows > max_exact_rows:
        return near_dup_pairs_bucketed(corpus, n=n).select(
            F.col("id_a"), F.col("id_b"), F.col("cosine")
        )
    ids, mat = _collect_matrix(corpus, "vec_id", "embedding")
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def compute(iterator):
        c_ids, c_mat, c_norms = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qn = np.sqrt(np.einsum("ij,ij->i", q, q))
            a_ids = pdf["vec_id"].to_numpy()
            denom = np.outer(qn, c_norms)
            denom[denom == 0.0] = np.inf
            cos = round_half_away((q @ c_mat.T) / denom, 5)
            # keep only id_a < id_b
            keep = a_ids[:, None] < c_ids[None, :]
            ra, rb = np.nonzero(keep)
            flat = pd.DataFrame(
                {
                    "id_a": a_ids[ra].astype(np.int64),
                    "id_b": c_ids[rb].astype(np.int64),
                    "cosine": cos[ra, rb],
                }
            )
            flat = flat.sort_values(
                ["cosine", "id_a", "id_b"], ascending=[False, True, True]
            ).head(n)
            if len(flat):
                yield flat

    out = corpus.select(F.col("vec_id"), F.col("embedding")).mapInPandas(
        compute, schema="id_a long, id_b long, cosine double"
    )
    return out.orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(n)


def minhash_estimate_pairs(
    mins: DataFrame,
    id_col: str,
    perm_cols: list[str],
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash dedup with the sketch's own similarity estimate: candidates
    from the banded self-join (rows_per_band consecutive permutations per
    band key), verified by estimated Jaccard = fraction of matching
    permutations — the block → estimate cascade of sketch-based dedup
    (the unbiased MinHash estimator; the production ER path verifies with
    exact cosine instead, this is the cheaper estimate-only mode).
    Returns (id_a, id_b, est_jaccard >= threshold). Shuffles on band keys
    and the two id-hydration joins only — never all pairs.
    """
    n = len(perm_cols)
    if n == 0 or n % rows_per_band != 0:
        raise ValueError("perm_cols must be a non-empty multiple of rows_per_band")
    bands = None
    for b in range(n // rows_per_band):
        part = mins.select(
            F.col(id_col).alias("id"),
            F.lit(b).alias("band"),
            F.concat(
                *[F.col(perm_cols[b * rows_per_band + j]) for j in range(rows_per_band)]
            ).alias("band_key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    left = bands.select("band", "band_key", F.col("id").alias("id_a"))
    right = bands.select("band", "band_key", F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a = mins.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in perm_cols]
    )
    b_ = mins.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in perm_cols]
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in perm_cols
    )
    return (
        cand.join(a, "id_a")
        .join(b_, "id_b")
        .withColumn("est_jaccard", matches.cast("double") / F.lit(float(n)))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
