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
    n_lists: int = IVF_LISTS,
    train_limit: int = IVF_TRAIN_LIMIT,
    iters: int = 10,
) -> np.ndarray:
    """(n_lists', d) coarse centroids from a bounded deterministic sample."""
    sample = np.stack(
        corpus.select("embedding").limit(train_limit).toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    rng = np.random.default_rng(PQ_SEED)
    return _kmeans(sample, n_lists, iters, rng)


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
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
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d = -2.0 * (x @ cent.T) + c2[None, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "list_id": d.argmin(axis=1).astype(np.int32),
                    "embedding": pdf["embedding"],
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, list_id int, embedding array<float>"
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
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
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            denom = np.sqrt(np.einsum("ij,ij->i", x, x)) * qn
            denom[denom == 0.0] = np.inf
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cosine": round_half_away((x @ q) / denom, 5),
                }
            )

    scored = cand.mapInPandas(score, schema="vec_id long, cosine double")
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    return global_rank(scored.orderBy(*order).limit(k), order, "rk")


def ivf_pq_index(
    corpus: DataFrame,
    n_lists: int = IVF_LISTS,
    m: int | None = None,
):
    """(centroids, codebooks, indexed): the combined IVF-PQ index —
    coarse centroids, per-subspace PQ codebooks, and the corpus with
    (id, list_id, codes, embedding) columns. Training is bounded
    (deterministic sample); assignment+encoding are Arrow passes. The
    raw embedding stays in the indexed table for the exact rerank — at
    deployment the table is stored partitioned by list_id so probes
    prune partitions (Jégou et al. 2011 §IV: IVFADC)."""
    from yams_spark.operators.pq import PQ_SUBQUANTIZERS, pq_encode, train_pq

    dim = len(corpus.select("embedding").first()[0])
    if m is None:
        m = PQ_SUBQUANTIZERS if dim % PQ_SUBQUANTIZERS == 0 else (
            max(d for d in (16, 8, 4, 2, 1) if dim % d == 0)
        )
    centroids = train_ivf(corpus, n_lists=n_lists)
    codebooks = train_pq(corpus, m=m)
    assigned = ivf_assign(corpus, centroids)
    codes = pq_encode(corpus, codebooks)
    indexed = assigned.join(codes, "vec_id")
    return centroids, codebooks, indexed


def ivf_pq_topk_multi(
    indexed: DataFrame,
    centroids: np.ndarray,
    codebooks: list,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Batched IVFADC: per query, probe the ``nprobe`` nearest lists,
    approximate candidate distances with the PQ asymmetric-distance LUT
    (built per query inside the Arrow batch), keep the top ``4·k`` by
    ADC, exact-cosine rerank those against the uncompressed vectors,
    return the final (query_id, vec_id, cosine, rk). The rerank is exact:
    with nprobe = n_lists and a rerank pool holding the true top-k the
    result EQUALS exact search.

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
    pool = 4 * k

    def probes(iterator):
        cent = bc_cent.value
        c2 = np.einsum("ij,ij->i", cent, cent)
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d = c2[None, :] - 2.0 * (q @ cent.T)
            lists = np.argsort(d, axis=1)[:, :np_probe]
            out = pdf[["query_id", "embedding"]].loc[
                pdf.index.repeat(np_probe)
            ].reset_index(drop=True)
            out["list_id"] = lists.reshape(-1).astype(np.int32)
            yield out

    q_lists = queries.select(
        F.col("query_id").cast("long"), F.col("embedding")
    ).mapInPandas(
        probes, schema="query_id long, embedding array<float>, list_id int"
    )
    cand = (
        q_lists.join(
            indexed.select(
                "list_id", F.col("vec_id").alias("id_b"),
                F.col("codes"), F.col("embedding").alias("vec_b"),
            ),
            "list_id",
        )
        .where(F.col("query_id") != F.col("id_b"))
        .dropDuplicates(["query_id", "id_b"])
    )

    def adc(iterator):
        books = bc_books.value
        m = len(books)
        dsub = books[0].shape[1]
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            out_rows = []
            for qid, grp in pdf.groupby("query_id", sort=False):
                q = np.asarray(grp["embedding"].iloc[0], dtype=np.float64)
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
                        {"query_id": qid, "id_b": grp["id_b"], "adc_l2": dist}
                    )
                )
            yield pd.concat(out_rows, ignore_index=True)

    approx = cand.select("query_id", "embedding", "id_b", "codes").mapInPandas(
        adc, schema="query_id long, id_b long, adc_l2 double"
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_l2").asc(), F.col("id_b").asc()
    )
    shortlist = (
        approx.withColumn("ark", F.row_number().over(wa))
        .where(F.col("ark") <= pool)
        .select("query_id", "id_b")
    )
    rerank = shortlist.join(
        cand.select(
            "query_id", F.col("embedding").alias("vec_a"), "id_b", "vec_b"
        ),
        ["query_id", "id_b"],
    ).select(
        F.col("query_id").alias("id_a"), "vec_a", "id_b", "vec_b"
    )
    scored = _pair_cosine(rerank, ("id_a", "id_b"))
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("id_a").alias("query_id"), F.col("id_b").alias("vec_id"),
            "cosine", F.col("rk").cast("int"),
        )
    )
