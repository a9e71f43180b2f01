"""Chunk coverage grouping (chunk_coverage.cpp:18-70) and the budgeted
concept boost (concept_boost.cpp:33-138), hand-computed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yams_spark.operators.concepts import (
    CONCEPT_MAX_SCAN_RESULTS,
    apply_concept_boost,
    extract_query_concepts,
)
from yams_spark.operators.search import chunk_coverage_stats


def test_chunk_coverage_grouping(spark) -> None:
    chunks = spark.createDataFrame(
        [("d1#0", 0.8), ("d1#1", 0.4), ("d1#1", 0.2),  # dup chunk id
         ("d2#0", 0.5), ("plain", 0.9)],               # no '#': own base
        "chunk_id string, similarity double",
    )
    totals = spark.createDataFrame(
        [("d1", 4), ("d2", 0)], "base_id string, total_chunks long"
    )
    rows = {r["base_id"]: r for r in
            chunk_coverage_stats(chunks, "AVG", totals).collect()}
    # duplicate d1#1 collapses to max 0.4 -> avg(0.8, 0.4) = 0.6
    assert rows["d1"]["pooled_score"] == pytest.approx(0.6)
    assert rows["d1"]["contributing_chunks"] == 2
    assert rows["d1"]["coverage"] == pytest.approx(0.5)
    # total 0 -> coverage null (chunk_coverage.h:26-28)
    assert rows["d2"]["coverage"] is None
    # unknown base -> total null, coverage null
    assert rows["plain"]["total_chunks"] is None
    mx = {r["base_id"]: r for r in
          chunk_coverage_stats(chunks, "MAX").collect()}
    assert mx["d1"]["pooled_score"] == pytest.approx(0.8)
    with pytest.raises(ValueError, match="pooling"):
        chunk_coverage_stats(chunks, "SUM")


def test_extract_query_concepts() -> None:
    # adjacent capitalized words are one span; acronyms match; dedup +
    # confidence floor + max-count cap
    assert extract_query_concepts("Spark Table scan MAKE money") == [
        "spark table", "make",
    ]
    assert extract_query_concepts("no concepts here") == []
    many = " ".join(f"Word{i}" for i in range(10))
    assert len(extract_query_concepts(many)) <= 6


def test_concept_boost_budget_hand_computed(spark) -> None:
    """weight .1, budget .25: rank-1 doc matches 2 concepts (desired .2,
    applied .2), rank-2 matches 1 (desired .1, applied min(.1, .05) =
    .05 — budget floor), rank-3 matches but budget dry, rank-4 no
    match."""
    results = spark.createDataFrame(
        [(1, 1.0, "alpha beta here", "p1"),
         (2, 0.9, "alpha only text", "p2"),
         (3, 0.8, "beta text", "p3"),
         (4, 0.7, "nothing", "p4")],
        "doc_id long, score double, snippet string, name string",
    )
    out = {r["doc_id"]: r for r in apply_concept_boost(
        results, ["Alpha", "beta"], name_col="name").collect()}
    assert out[1]["score"] == pytest.approx(1.0 * 1.2)
    assert out[2]["score"] == pytest.approx(0.9 * 1.05)
    assert out[3]["score"] == pytest.approx(0.8)  # budget exhausted
    assert out[4]["score"] == pytest.approx(0.7)
    assert [out[i]["rank"] for i in (1, 2, 3, 4)] == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="concept terms"):
        apply_concept_boost(results, [])


def test_concept_boost_scan_window_and_resort(spark) -> None:
    """Rows beyond the CONCEPT_MAX_SCAN_RESULTS window pass through
    unboosted; a boosted low row overtakes an unboosted higher one in the
    final re-sort."""
    window = CONCEPT_MAX_SCAN_RESULTS
    rows = [(1, 1.0, "x", "n"), (2, 0.95, "concept", "n")]
    rows += [(i, 0.9 - i * 1e-4, "x", "n") for i in range(3, window + 1)]
    rows.append((window + 1, 0.5, "concept", "n"))  # just outside the window
    results = spark.createDataFrame(
        rows, "doc_id long, score double, snippet string, name string"
    )
    out = {r["doc_id"]: r for r in apply_concept_boost(
        results, ["concept"]).collect()}
    assert out[window + 1]["score"] == pytest.approx(0.5)  # untouched
    # doc2 boosted .95*1.1 = 1.045 > doc1's 1.0 -> re-sort flips them
    assert out[2]["score"] == pytest.approx(0.95 * 1.1)
    assert out[2]["rank"] == 1 and out[1]["rank"] == 2
    # name-column match also boosts
    named = spark.createDataFrame(
        [(1, 1.0, "zzz", "has concept inside")],
        "doc_id long, score double, snippet string, name string",
    )
    r = apply_concept_boost(named, ["concept"], name_col="name").collect()[0]
    assert r["score"] == pytest.approx(1.1)
