"""IVF (inverted-file) ANN over the embedding column.

The coarse-quantizer counterpart to the PQ codes (operators/pq.py): train
``n_lists`` k-means centroids on a bounded sample, assign every vector to
its nearest list, and answer queries by probing only the ``nprobe``
nearest lists — the standard IVF recipe (Jégou et al. 2011 §IV; the
reference's PQ engine plays the same role behind its ADC scan).

Spark mapping: the assignment is one Arrow pass; the list id is a plain
column, so **storing the corpus partitioned/bucketed by list_id turns the
probe into partition pruning** — a query touches nprobe/n_lists of the
data. Candidate scoring is exact cosine inside the probed lists only.
Recall/probe trade-off is the caller's knob; nprobe = n_lists degrades to
exact search (property-tested).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yams_spark.operators.pq import PQ_SEED, _kmeans

IVF_LISTS = 64
IVF_NPROBE = 4
IVF_TRAIN_LIMIT = 4096


def train_ivf(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = IVF_LISTS,
    train_limit: int = IVF_TRAIN_LIMIT,
    iters: int = 10,
    seed: int = PQ_SEED,
) -> np.ndarray:
    """(n_lists', d) coarse centroids from a bounded deterministic sample."""
    sample = np.stack(
        corpus.select(vec_col).limit(train_limit).toPandas()[vec_col].to_numpy()
    ).astype(np.float64)
    rng = np.random.default_rng(seed)
    return _kmeans(sample, n_lists, iters, rng)


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, list_id, embedding): nearest-centroid assignment, one Arrow
    pass. Persist this partitioned by list_id for probe-time pruning."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(centroids.astype(np.float64))

    def assign(iterator):
        cent = bc.value
        c2 = np.einsum("ij,ij->i", cent, cent)
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = -2.0 * (x @ cent.T) + c2[None, :]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "list_id": d.argmin(axis=1).astype(np.int32),
                    vec_col: pdf[vec_col],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, list_id int, {vec_col} array<float>"
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 5,
) -> DataFrame:
    """Top-k for one query over the nprobe nearest lists only. Returns
    (vec_id, cosine, rk); the list filter is a plain `isin` on list_id —
    partition pruning when the table is laid out by list."""
    from yams_spark.operators.ann import round_half_away
    from yams_spark.operators.search import global_rank

    q = np.asarray(query_vec, dtype=np.float64)
    d = np.einsum("ij,ij->i", centroids, centroids) - 2.0 * (centroids @ q)
    probes = [int(i) for i in np.argsort(d)[: max(1, nprobe)]]
    cand = assigned.where(F.col("list_id").isin(probes))

    def score(iterator):
        qn = np.sqrt(q @ q)
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            denom = np.sqrt(np.einsum("ij,ij->i", x, x)) * qn
            denom[denom == 0.0] = np.inf
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cosine": round_half_away((x @ q) / denom, round_to),
                }
            )

    scored = cand.mapInPandas(score, schema=f"{id_col} long, cosine double")
    order = [F.col("cosine").desc(), F.col(id_col).asc()]
    return global_rank(scored.orderBy(*order).limit(k), order, "rk")


def ivf_pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = IVF_LISTS,
    m: int | None = None,
    pq_k: int | None = None,
    seed: int = PQ_SEED,
):
    """(centroids, codebooks, indexed): the combined IVF-PQ index —
    coarse centroids, per-subspace PQ codebooks, and the corpus with
    (id, list_id, codes, embedding) columns. Training is bounded
    (deterministic sample); assignment+encoding are Arrow passes. The
    raw embedding stays in the indexed table for the exact rerank — at
    deployment the table is stored partitioned by list_id so probes
    prune partitions (Jégou et al. 2011 §IV: IVFADC)."""
    from yams_spark.operators.pq import (
        PQ_CENTROIDS,
        PQ_SUBQUANTIZERS,
        pq_encode,
        train_pq,
    )

    dim = len(corpus.select(vec_col).first()[0])
    if m is None:
        m = PQ_SUBQUANTIZERS if dim % PQ_SUBQUANTIZERS == 0 else (
            max(d for d in (16, 8, 4, 2, 1) if dim % d == 0)
        )
    centroids = train_ivf(corpus, vec_col, n_lists=n_lists, seed=seed)
    codebooks = train_pq(
        corpus, vec_col, m=m, k=pq_k or PQ_CENTROIDS, seed=seed
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    codes = pq_encode(corpus, codebooks, id_col, vec_col)
    indexed = assigned.join(codes, id_col)
    return centroids, codebooks, indexed


def ivf_pq_topk_multi(
    indexed: DataFrame,
    centroids: np.ndarray,
    codebooks: list,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    round_to: int = 5,
) -> DataFrame:
    """Batched IVFADC: per query, probe the ``nprobe`` nearest lists,
    approximate candidate distances with the PQ asymmetric-distance LUT
    (built per query inside the Arrow batch), keep the top
    ``rerank_factor·k`` by ADC, exact-cosine rerank those against the
    uncompressed vectors, return the final (query_id, vec_id, cosine,
    rk). With nprobe = n_lists and a rerank pool covering the corpus the
    result EQUALS exact search (property-tested) — the rerank is exact.

    Scale shape: probe selection is one narrow pass over queries; the
    candidate join prunes by list_id; the ADC scan touches only codes
    (m bytes/vector); only the rerank pool's full vectors are scored."""
    from pyspark.sql import Window

    from yams_spark.operators.ann import _pair_cosine

    spark = indexed.sparkSession
    bc_cent = spark.sparkContext.broadcast(centroids.astype(np.float64))
    bc_books = spark.sparkContext.broadcast(
        [c.astype(np.float64) for c in codebooks]
    )
    np_probe = max(1, nprobe)
    pool = max(k * rerank_factor, k)

    def probes(iterator):
        cent = bc_cent.value
        c2 = np.einsum("ij,ij->i", cent, cent)
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = c2[None, :] - 2.0 * (q @ cent.T)
            lists = np.argsort(d, axis=1)[:, :np_probe]
            out = pdf[[query_id_col, vec_col]].loc[
                pdf.index.repeat(np_probe)
            ].reset_index(drop=True)
            out["list_id"] = lists.reshape(-1).astype(np.int32)
            yield out

    q_lists = queries.select(
        F.col(query_id_col).cast("long"), F.col(vec_col)
    ).mapInPandas(
        probes, schema=f"{query_id_col} long, {vec_col} array<float>, list_id int"
    )
    cand = (
        q_lists.join(
            indexed.select(
                "list_id", F.col(id_col).alias("id_b"),
                F.col("codes"), F.col(vec_col).alias("vec_b"),
            ),
            "list_id",
        )
        .where(F.col(query_id_col) != F.col("id_b"))
        .dropDuplicates([query_id_col, "id_b"])
    )

    def adc(iterator):
        books = bc_books.value
        m = len(books)
        dsub = books[0].shape[1]
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            out_rows = []
            for qid, grp in pdf.groupby(query_id_col, sort=False):
                q = np.asarray(grp[vec_col].iloc[0], dtype=np.float64)
                lut = [
                    ((books[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
                    for j in range(m)
                ]
                c = np.stack(grp["codes"].to_numpy()).astype(np.int64)
                dist = np.zeros(len(c), dtype=np.float64)
                for j in range(m):
                    dist += lut[j][c[:, j]]
                out_rows.append(
                    pd.DataFrame(
                        {query_id_col: qid, "id_b": grp["id_b"], "adc_l2": dist}
                    )
                )
            yield pd.concat(out_rows, ignore_index=True)

    approx = cand.select(query_id_col, vec_col, "id_b", "codes").mapInPandas(
        adc, schema=f"{query_id_col} long, id_b long, adc_l2 double"
    )
    wa = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_l2").asc(), F.col("id_b").asc()
    )
    shortlist = (
        approx.withColumn("ark", F.row_number().over(wa))
        .where(F.col("ark") <= pool)
        .select(query_id_col, "id_b")
    )
    rerank = shortlist.join(
        cand.select(
            query_id_col, F.col(vec_col).alias("vec_a"), "id_b", "vec_b"
        ),
        [query_id_col, "id_b"],
    ).select(
        F.col(query_id_col).alias("id_a"), "vec_a", "id_b", "vec_b"
    )
    scored = _pair_cosine(rerank, ("id_a", "id_b"), round_to)
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("id_a").alias(query_id_col), F.col("id_b").alias(id_col),
            "cosine", F.col("rk").cast("int"),
        )
    )
