"""Simeon lexical backend analog: PMI concept mining + z-score blend.

The reference's second lexical component feeds fusion under the
``simeon_text`` weight (0.15, search_engine_config.h:79). Its scoring
engine is an external library, but the backend file itself shows the
dataflow shape this module recasts
(``reference src/search/simeon_lexical_backend.cpp``):

* concepts are mined from corpus co-occurrence statistics — PMI
  embeddings learned over a corpus sample (:604-620);
* in-pool candidates get a z-scored blend (~[-3,+3]) of concept evidence
  with a BM25 baseline (:63-66 documents the contract);
* out-of-pool docs are reconciled strictly BELOW the pool floor, ordered
  by the saturating BM25 map ``b/(b+1)`` (``reconcileGeomWithBm25``,
  :63-88 — fully public in the file).

Concept mining uses the textbook PMI definition (Church & Hanks 1990)
over document-level co-occurrence: ``pmi(q, w) = ln(N·df(q,w) /
(df(q)·df(w)))``, positive-PMI concepts only. Everything is
SQL-expressible, so the whole component is oracle-checkable.

Scale shape: the query side of every join is a posting list (docs
containing a query term), never the corpus; corpus-wide statistics
(N, df) are keyed aggregations; the three scalar aggregates (pool
mean/std/floor) are 1-row DataFrames broadcast back via crossJoin —
nothing materializes on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yams_spark.operators.search import bm25_scores, global_rank

#: concepts retained per query term (the reference bounds its PMI model
#: by sample docs/bytes, simeon_lexical_backend.cpp:427-486; per-term
#: top-n is the query-time equivalent bound)
PMI_TOP_CONCEPTS = 8
#: minimum co-occurring documents for a (query term, concept) pair —
#: pairs seen once are noise at any corpus size
PMI_MIN_CO_DOCS = 2
#: z-blend weight on the BM25 baseline (1 - alpha on concept evidence)
BLEND_ALPHA = 0.5
#: shares the text component's result cap (search_engine_config.h:369)
SIMEON_MAX_RESULTS = 300


def pmi_concepts(
    postings: DataFrame,
    query_terms: list[str],
) -> DataFrame:
    """(concept, pmi): positive-PMI expansion concepts for the query —
    for each query term, the ``PMI_TOP_CONCEPTS`` terms by document-level PMI
    (ties term-asc), deduped across query terms keeping the max PMI.

    One join fanning out from the query terms' posting lists (bounded by
    the total token count of matching docs, not the corpus), one keyed
    co-occurrence aggregation, one broadcast-sized df lookup.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("pmi_concepts requires query terms")
    doc_terms = postings.select("doc_id", "term").distinct()
    n_df = doc_terms.groupBy("term").agg(F.count("*").alias("df"))
    n_total = doc_terms.select("doc_id").distinct().agg(
        F.count("*").alias("n_docs")
    )
    q = doc_terms.where(F.col("term").isin(terms)).select(
        F.col("term").alias("qterm"), "doc_id"
    )
    co = (
        q.join(doc_terms, "doc_id")
        .where(~F.col("term").isin(terms))
        .groupBy("qterm", "term")
        .agg(F.count("*").alias("df12"))
        .where(F.col("df12") >= PMI_MIN_CO_DOCS)
    )
    scored = (
        co.join(n_df.select(F.col("term").alias("qterm"), F.col("df").alias("df1")), "qterm")
        .join(n_df.select("term", F.col("df").alias("df2")), "term")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "pmi",
            F.log(
                F.col("df12").cast("double") * F.col("n_docs")
                / (F.col("df1").cast("double") * F.col("df2"))
            ),
        )
        .where(F.col("pmi") > 0)
    )
    w = Window.partitionBy("qterm").orderBy(F.col("pmi").desc(), F.col("term").asc())
    top = scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= PMI_TOP_CONCEPTS)
    return top.groupBy("term").agg(F.max("pmi").alias("pmi")).select(
        F.col("term").alias("concept"), "pmi"
    )


def simeon_text_component(
    postings: DataFrame,
    query_terms: list[str],
    limit: int = SIMEON_MAX_RESULTS,
) -> DataFrame:
    """(doc_id, source='simeon_text', score, rank): the PMI lexical
    component. Pool = docs holding EVERY query term (the candidate set
    the backend reranks); each pool doc scores ``BLEND_ALPHA·z(bm25) +
    (1-BLEND_ALPHA)·z(concept)`` with z over the pool; every other doc touched
    by a query term or concept lands strictly below the pool floor at
    ``floor - 1 + bm25/(bm25+1)`` (reconcileGeomWithBm25). The emitted
    ``score`` is the min-max normalization of that vector over the
    emitted rows (range-normalize like the text component, so fusion's
    [0,1] clamp keeps the ordering)."""
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("simeon_text_component requires query terms")
    # one OR-mode BM25 vector over every doc touching a query term
    # (corpus df — no AND restriction), the backend's baseline
    bm25_all = bm25_scores(postings, terms, match_all=False)
    # pool membership: docs holding all terms
    pool_ids = (
        postings.where(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .where(F.col("nt") == len(terms))
        .select("doc_id")
    )
    concepts = pmi_concepts(postings, terms)
    # concept evidence: tf-damped PMI mass per doc
    cscore = (
        postings.join(
            F.broadcast(concepts.withColumnRenamed("concept", "term")), "term"
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("pmi") * F.log(1.0 + F.col("tf"))).alias("cscore"))
    )
    pool = (
        pool_ids.join(bm25_all, "doc_id")
        .join(cscore, "doc_id", "left")
        .withColumn("cscore", F.coalesce("cscore", F.lit(0.0)))
    )
    stats = pool.agg(
        F.avg("bm25").alias("mb"), F.stddev_pop("bm25").alias("sb"),
        F.avg("cscore").alias("mc"), F.stddev_pop("cscore").alias("sc"),
    )
    zb = F.when(F.col("sb") > 0, (F.col("bm25") - F.col("mb")) / F.col("sb")).otherwise(F.lit(0.0))
    zc = F.when(F.col("sc") > 0, (F.col("cscore") - F.col("mc")) / F.col("sc")).otherwise(F.lit(0.0))
    blended = pool.crossJoin(F.broadcast(stats)).select(
        "doc_id", (F.lit(BLEND_ALPHA) * zb + F.lit(1.0 - BLEND_ALPHA) * zc).alias("blend")
    )
    floor = blended.agg(F.min("blend").alias("pool_floor"))
    # out-of-pool: any doc with a term or concept hit, below the floor,
    # ordered by the saturating BM25 map (0 for concept-only docs)
    out = (
        cscore.select("doc_id")
        .unionByName(bm25_all.select("doc_id"))
        .distinct()
        .join(pool_ids, "doc_id", "left_anti")
        .join(bm25_all, "doc_id", "left")
        .withColumn("b", F.coalesce("bm25", F.lit(0.0)))
        .crossJoin(F.broadcast(floor))
        .select(
            "doc_id",
            (
                F.coalesce("pool_floor", F.lit(0.0))
                - 1.0
                + F.when(F.col("b") > 0, F.col("b") / (F.col("b") + 1.0)).otherwise(F.lit(0.0))
            ).alias("blend"),
        )
    )
    allrows = blended.unionByName(out)
    rng = allrows.agg(F.min("blend").alias("mn"), F.max("blend").alias("mx"))
    normed = allrows.crossJoin(F.broadcast(rng)).select(
        "doc_id",
        F.when(
            F.col("mx") > F.col("mn"),
            (F.col("blend") - F.col("mn")) / (F.col("mx") - F.col("mn")),
        )
        .otherwise(F.lit(1.0))
        .alias("score"),
        "blend",
    )
    order = [F.col("blend").desc(), F.col("doc_id").asc()]
    pooled = normed.orderBy(*order).limit(limit)
    ranked = global_rank(pooled, order, "rk")
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("simeon_text").alias("source"),
        F.col("score"),
        (F.col("rk") - 1).alias("rank"),
    )
