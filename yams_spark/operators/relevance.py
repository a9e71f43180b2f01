"""BEIR-style retrieval relevance metrics: MRR@k, nDCG@k, MAP@k.

The reference benchmarks its search engine with exactly these metrics
(``reference docs/benchmarks/index.md:52-66``). Standard definitions:

* MRR@k   = 1 / rank of the first relevant hit (0 if none in top-k)
* nDCG@k  = DCG@k / IDCG@k with gain (2^rel − 1) / log2(rank + 1)
* MAP@k   = (Σ_{relevant hit at rank r} P@r) / min(|relevant|, k)

Everything is plain DataFrame aggregation over (query_id, doc_id, rank)
results joined with (query_id, doc_id, rel) qrels — one shuffle on
query_id; scales with the number of queries, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def relevance_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Per-query (query_id, mrr, ndcg, map) at cutoff ``k``.

    ``results``: (query_id, doc_id, rank) with rank 1-based;
    ``qrels``:   (query_id, doc_id, rel) with graded rel (>0 = relevant).
    Queries present in ``results`` but with no relevant documents score 0.
    """
    r = results.where(F.col("rank") <= k).select("query_id", "doc_id", "rank")
    q = qrels.where(F.col("rel") > 0).select("query_id", "doc_id", "rel")

    hits = r.join(q, ["query_id", "doc_id"], "left").withColumn(
        "rel", F.coalesce("rel", F.lit(0))
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(F.col("rank") + 1.0)
    w = Window.partitionBy("query_id").orderBy("rank")
    hits = hits.withColumn(
        "cum_hits", F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).over(w)
    )
    per_query = hits.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_rel"),
        F.sum(F.when(F.col("rel") > 0, gain)).alias("dcg"),
        F.sum(
            F.when(F.col("rel") > 0, F.col("cum_hits") / F.col("rank"))
        ).alias("sum_prec"),
    )

    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ideal = (
        q.withColumn("irk", F.row_number().over(wi))
        .where(F.col("irk") <= k)
        .groupBy("query_id")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(F.col("irk") + 1.0)
            ).alias("idcg")
        )
    )
    n_rel = q.groupBy("query_id").agg(F.count("*").alias("n_rel"))

    out = (
        per_query.join(ideal, "query_id", "left")
        .join(n_rel, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)).alias("mrr"),
            F.when(
                F.col("idcg").isNotNull() & (F.col("idcg") > 0),
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
            F.when(
                F.col("n_rel").isNotNull(),
                F.coalesce(F.col("sum_prec"), F.lit(0.0))
                / F.least(F.col("n_rel"), F.lit(k)),
            )
            .otherwise(F.lit(0.0))
            .alias("map"),
        )
    )
    return out
