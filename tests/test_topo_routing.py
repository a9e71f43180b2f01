"""Topology-routed search session (topology_baseline.cpp:771-985 +
topology_routing_session.cpp:130-160, 782-806, 1382-1459)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from yams_spark.operators.topo_routing import (
    route_clusters,
    routed_members,
    select_routes_for_narrowing,
)


def _mk_clusters(spark):
    # 3 clusters with orthogonal-ish centroids; query aligned with c0
    rows = [
        ("c0", 4, 0.4, 0.8, [1.0, 0.0, 0.0]),
        ("c1", 10, 0.2, 0.5, [0.0, 1.0, 0.0]),
        ("c2", 2, 0.6, 0.2, [0.6, 0.8, 0.0]),
    ]
    clusters = spark.createDataFrame(
        rows,
        "cluster_id string, member_count long, persistence double, "
        "cohesion double, centroid array<double>",
    )
    mem = spark.createDataFrame(
        [(f"d{i}", "c0") for i in range(4)]
        + [(f"e{i}", "c1") for i in range(10)]
        + [("x0", "c2"), ("x1", "c2")],
        "doc_hash string, cluster_id string",
    )
    return clusters, mem


def test_route_scores_match_hand_computation(spark):
    clusters, mem = _mk_clusters(spark)
    seeds = {"d0": 2.0, "d1": 1.0, "e0": 1.0}  # mass: c0=3, c1=1, c2=0
    q = [1.0, 0.0, 0.0]
    alpha = 0.5

    def dense(cent):
        cos = sum(a * b for a, b in zip(q, cent)) / (
            math.sqrt(sum(x * x for x in q))
            * math.sqrt(sum(x * x for x in cent))
        )
        return min(max((cos + 1.0) * 0.5, 0.0), 1.0)

    expect = {}
    for cid, n, pers, coh, cent in [
        ("c0", 4, 0.4, 0.8, [1.0, 0.0, 0.0]),
        ("c1", 10, 0.2, 0.5, [0.0, 1.0, 0.0]),
        ("c2", 2, 0.6, 0.2, [0.6, 0.8, 0.0]),
    ]:
        sparse = {"c0": 3.0, "c1": 1.0, "c2": 0.0}[cid] / 3.0
        d = dense(cent)
        blended = alpha * sparse + (1 - alpha) * d
        damp = 1.0 / (1.0 + math.log1p(n))
        expect[cid] = {
            "current": blended + pers * 0.05,
            "size_weighted": (blended + 0.05 * pers + 0.05 * coh) * damp,
            "seed_coverage": sparse + 0.10 * d + pers * 0.05,
        }

    for mode in ("current", "size_weighted", "seed_coverage"):
        got = {
            r["cluster_id"]: r["route_score"]
            for r in route_clusters(
                spark, clusters, mem, query_embedding=q,
                weighted_seeds=seeds, alpha=alpha, scoring_mode=mode,
            ).collect()
        }
        for cid in expect:
            assert got[cid] == pytest.approx(expect[cid][mode], abs=1e-12), (
                mode, cid)


def test_route_alpha_one_skips_dense(spark):
    """alpha >= 1 never evaluates the dense signal (reference :871,:889):
    semantic_cost is NULL, score is pure sparse + persistence."""
    clusters, mem = _mk_clusters(spark)
    rows = route_clusters(
        spark, clusters, mem, query_embedding=[1.0, 0.0, 0.0],
        weighted_seeds={"d0": 1.0}, alpha=1.0,
    ).collect()
    by = {r["cluster_id"]: r for r in rows}
    assert by["c0"]["semantic_cost"] is None
    assert by["c0"]["route_score"] == pytest.approx(1.0 + 0.4 * 0.05)
    assert by["c1"]["route_score"] == pytest.approx(0.0 + 0.2 * 0.05)


def test_narrowing_adaptive_gap():
    routes = [
        {"cluster_id": "a", "route_score": 0.9},
        {"cluster_id": "b", "route_score": 0.88},
        {"cluster_id": "c", "route_score": 0.5},
        {"cluster_id": "d", "route_score": 0.49},
    ]
    # gap 0.05: start at min=1, extend while best-score gap <= 0.05 -> {a,b}
    sel = select_routes_for_narrowing(routes, 1, 4, adaptive_score_gap=0.05)
    assert [r["cluster_id"] for r in sel["routes"]] == ["a", "b"]
    assert sel["boundary_score_margin"] == pytest.approx(0.38)
    # no gap: the first max_clusters routes, margin to the next one
    sel = select_routes_for_narrowing(routes, 1, 3)
    assert len(sel["routes"]) == 3
    assert sel["boundary_score_margin"] == pytest.approx(0.01)
    # maxClusters=0 -> all routes, no margin (nothing beyond selection)
    sel = select_routes_for_narrowing(routes, 2, 0)
    assert len(sel["routes"]) == 4 and sel["boundary_score_margin"] == 0.0


def test_routed_members_comparator_and_cap(spark):
    mem = spark.createDataFrame(
        [("s1", "c0"), ("m0", "c0"), ("z9", "c0"), ("a1", "c1"), ("s2", "c1")],
        "doc_hash string, cluster_id string",
    )
    selected = [
        {"cluster_id": "c0", "route_score": 0.9, "medoid_hash": "m0"},
        {"cluster_id": "c1", "route_score": 0.7, "medoid_hash": None},
    ]
    out = routed_members(
        mem, selected, seed_weights={"s1": 1.0, "s2": 2.0}
    ).collect()
    order = [r["doc_hash"] for r in out]
    # seeds first (weight desc), then score desc, medoid breaks ties, hash last
    assert order == ["s2", "s1", "m0", "z9", "a1"]
    capped = routed_members(mem, selected, seed_weights={"s1": 1.0}, max_docs=2)
    assert capped.count() == 2


def test_hybrid_search_route_gate(spark):
    from yams_spark.operators.neighbors import hybrid_search

    docs = spark.createDataFrame(
        [(i, f"orbital mechanics paper {i} about kepler") for i in range(8)],
        "doc_id long, text string",
    )
    full = hybrid_search(spark, docs, "orbital kepler", None, limit=8).collect()
    assert len(full) > 2
    gate = spark.createDataFrame([("1",), ("3",)], "doc_id string")
    gated = hybrid_search(
        spark, docs, "orbital kepler", None, limit=8, route_gate=gate
    ).collect()
    assert {r["doc_id"] for r in gated} <= {"1", "3"}
    assert len(gated) == 2


def test_rank_seed_evidence_and_merge(spark):
    """search_topology_stage.cpp:26-112 — rank-discounted seed weights
    with skip branches, per-doc max dedup, and the tier1+vector merge
    with the added-seed budget."""
    import math

    from yams_spark.operators.topo_routing import (
        LEXICAL_SEED_SOURCES,
        VECTOR_SEED_SOURCES,
        merge_topology_seed_hashes,
        rank_seed_evidence,
    )

    nan = float("nan")
    comp = spark.createDataFrame(
        [
            ("a", "text", 0.9, 0),          # w = 0.9/(1+ln 2)
            ("a", "simeon_text", 0.9, 4),   # lower (worse rank) -> max keeps rank 0
            ("b", "graph_text", 0.8, 1),
            ("c", "text", 0.0, 0),          # score <= 0 skips
            ("d", "text", nan, 0),          # non-finite skips
            ("", "text", 0.9, 0),           # empty hash skips
            ("e", "vector", 0.9, 0),        # wrong family for lexical
            ("a", "vector", 0.95, 0),       # vector seed duplicating tier1
            ("f", "graph_vector", 0.7, 1),
            ("g", "entity_vector", 0.6, 0),
            ("h", "path_tree", 0.9, 0),     # never a topology seed
        ],
        "doc_hash string, source string, score double, rank int",
    )
    lex = rank_seed_evidence(comp, LEXICAL_SEED_SOURCES, 16)
    got = {r["doc_hash"]: r["weight"] for r in lex.collect()}
    assert set(got) == {"a", "b"}
    assert got["a"] == pytest.approx(0.9 / (1 + math.log(2.0)))
    assert got["b"] == pytest.approx(0.8 / (1 + math.log(3.0)))
    assert [r["doc_hash"] for r in lex.collect()] == ["a", "b"]  # weight order
    # cap
    assert rank_seed_evidence(comp, LEXICAL_SEED_SOURCES, 1).count() == 1
    assert rank_seed_evidence(comp, LEXICAL_SEED_SOURCES, 0).count() == 0

    vec = rank_seed_evidence(comp, VECTOR_SEED_SOURCES, 16)
    merged = merge_topology_seed_hashes(lex, vec, 2).orderBy("ord").collect()
    # tier1 first in order, then the 2 best NEW vector seeds ('a' skipped;
    # g = 0.6/(1+ln2) outranks f = 0.7/(1+ln3) despite the lower score)
    assert [(r["ord"], r["doc_hash"], r["origin"]) for r in merged] == [
        (1, "a", "tier1"), (2, "b", "tier1"),
        (3, "e", "vector"), (4, "g", "vector"),
    ]
    # budget 0 adds none; budget 1 adds exactly the best new one
    assert merge_topology_seed_hashes(lex, vec, 0).count() == 2
    one = merge_topology_seed_hashes(lex, vec, 1).orderBy("ord").collect()
    assert [r["doc_hash"] for r in one] == ["a", "b", "e"]
