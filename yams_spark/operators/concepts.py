"""Query concepts and the rank-ordered concept boost.

The reference extracts typed concepts from the query (GLiNER backend,
``reference src/search/query_concept_extractor.cpp``; confidence floor
0.40, max 6 — ``search_engine_config.h:98-101``) and boosts ranked
results whose snippet or file name contains concept terms, spending a
global boost budget top-rank-first (``applyConceptBoost``,
``src/search/concept_boost.cpp:33-138``): per result the desired boost
is ``weight × distinct-concept-match-count``, the applied boost is
capped by whatever remains of ``conceptMaxBoost``, scores multiply by
``(1 + applied)`` and the list re-sorts.

The extractor here is the same deterministic capitalized/acronym-span
stand-in the KG stage uses (operators/kg.py policy note). The
sequential budget spend is order-dependent but closed-form: with
``cum_i`` the rank-prefix sum of desired boosts,
``applied_i = min(cum_i, B) − min(cum_i − desired_i, B)`` — restated as
a triangular self-join over the scan pool (≤ conceptMaxScanResults =
200 rows, search_engine_config.h:102), so no single-partition window
and nothing unbounded: the pool is the only quadratic term and it is a
constant.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yams_spark.operators.kg import ENTITY_PATTERN
from yams_spark.operators.search import global_rank

#: search_engine_config.h:98-102
CONCEPT_BOOST_WEIGHT = 0.10
CONCEPT_MIN_CONFIDENCE = 0.40
CONCEPT_MAX_COUNT = 6
CONCEPT_MAX_BOOST = 0.25
CONCEPT_MAX_SCAN_RESULTS = 200

_ENTITY_RE = re.compile(ENTITY_PATTERN)


def extract_query_concepts(
    query: str,
    max_count: int = CONCEPT_MAX_COUNT,
) -> list[str]:
    """Lowercased, deduped concept terms from ONE query string
    (extractConcepts; GLiNER stand-in = the KG span heuristic with its
    length-based confidence 0.5 + 0.25·words): spans under the
    confidence floor drop, first ``max_count`` in offset order win.
    Driver-side string work."""
    out: list[str] = []
    seen: set[str] = set()
    for m in _ENTITY_RE.finditer(query):
        text = m.group(0)
        if len(text) < 3:
            continue
        conf = min(1.0, 0.5 + 0.25 * len(text.split()))
        if conf < CONCEPT_MIN_CONFIDENCE:
            continue
        low = text.lower()
        if low in seen:
            continue
        seen.add(low)
        out.append(low)
        if len(out) >= max_count:
            break
    return out


def resolve_query_concepts(
    query: str,
    max_concepts: int = CONCEPT_MAX_COUNT,
) -> list[str]:
    """Extractor concepts enriched with the fallback generator
    (``concept_resolver.cpp:11-53``): the extractor's concepts come
    first, fallback phrases/tokens merge behind them on the
    ``normalized_text|type`` key until ``max_concepts``. Returns the
    lowercased deduped term list ``apply_concept_boost`` consumes.
    Extractor spans are typed by the same vocabulary cascade the
    fallback path uses (query_expansion.cpp:211-242) — the GLiNER label
    set is plugin territory, per the SURVEY §7 stand-in stance."""
    from yams_spark.operators.concept_fallback import (
        QueryConcept,
        enrich_with_fallback_concepts,
        infer_fallback_concept_type,
    )

    if max_concepts <= 0:
        return []
    base = [
        QueryConcept(
            t,
            infer_fallback_concept_type(t),
            min(1.0, 0.5 + 0.25 * len(t.split())),
        )
        for t in extract_query_concepts(query, max_count=max_concepts)
    ]
    merged = enrich_with_fallback_concepts(query, base, max_concepts)
    out: list[str] = []
    seen: set[str] = set()
    for c in merged:
        low = c.text.lower()
        if low and low not in seen:
            seen.add(low)
            out.append(low)
    return out


def apply_concept_boost(
    results: DataFrame,
    concepts: list[str],
    score_col: str = "score",
    name_col: str | None = None,
    max_scan: int = CONCEPT_MAX_SCAN_RESULTS,
) -> DataFrame:
    """Boosted (id, score) + re-rank (applyConceptBoost,
    concept_boost.cpp:33-138). The top ``max_scan`` results by incoming
    (score desc, id asc) are scanned: match count = number of distinct
    concept terms contained in the lowercased snippet OR name; desired
    boost ``CONCEPT_BOOST_WEIGHT × count`` is granted top-rank-first until
    the ``CONCEPT_MAX_BOOST`` budget runs dry (prefix-sum clamp); scores
    multiply by ``1 + applied`` and the full set re-sorts. Rows beyond the scan
    window pass through unboosted, exactly like the reference."""
    terms = sorted({c.lower() for c in concepts if c})
    if not terms:
        raise ValueError("apply_concept_boost requires concept terms")
    order = [F.col(score_col).desc(), F.col("doc_id").asc()]
    pool = results.orderBy(*order).limit(max_scan)
    rest = results.join(pool.select("doc_id"), "doc_id", "left_anti")

    hay = F.lower(F.col("snippet"))
    if name_col is not None:
        matches = sum(
            (
                F.contains(hay, F.lit(t))
                | F.contains(F.lower(F.col(name_col)), F.lit(t))
            ).cast("int")
            for t in terms
        )
    else:
        matches = sum(F.contains(hay, F.lit(t)).cast("int") for t in terms)
    ranked = global_rank(pool, order, "rk").withColumn(
        "desired", F.lit(CONCEPT_BOOST_WEIGHT) * matches
    )
    # prefix sums over the bounded pool: triangular self-join instead of
    # a single-partition window (CLAUDE.md invariant); <= max_scan² pairs
    cum = (
        ranked.alias("a")
        .join(
            ranked.select(F.col("rk").alias("rk2"), F.col("desired").alias("d2")).alias("b"),
            F.col("b.rk2") <= F.col("a.rk"),
        )
        .groupBy("a.rk")
        .agg(F.sum("b.d2").alias("cum"))
    )
    boosted = (
        ranked.join(cum, "rk")
        .withColumn(
            "applied",
            F.least(F.col("cum"), F.lit(CONCEPT_MAX_BOOST))
            - F.least(F.col("cum") - F.col("desired"), F.lit(CONCEPT_MAX_BOOST)),
        )
        .withColumn(score_col, F.col(score_col) * (1.0 + F.col("applied")))
    )
    out = boosted.select(*[c for c in results.columns]).unionByName(
        rest.select(*[c for c in results.columns])
    )
    final_order = [F.col(score_col).desc(), F.col("doc_id").asc()]
    return global_rank(out, final_order, "rank")
