"""Topology input extraction + Phase V feature composer + protected
relation observations (topology_input_extractor.cpp /
protected_relation_cover.cpp) — Spark vs bit-exact numpy float32
replicas and hand-computed goldens."""

from __future__ import annotations

import math

import numpy as np
import pytest

from yams_spark.operators.topo_inputs import (
    FeatureComposition,
    aggregate_doc_embeddings,
    collect_topology_neighbors,
    compose_features,
    entity_type_index,
    entity_type_signatures,
    minhash_bucket_sketch_col,
    protected_relation_observations,
    variance_weights,
)

from pyspark.sql import functions as F


# --- numpy float32 replicas (the C++ arithmetic, op for op) ---------------


def _l2n(v: np.ndarray) -> np.ndarray:
    sumsq = float(np.sum(v.astype(np.float64) ** 2))
    if sumsq <= 0.0:
        return v
    norm = np.float32(math.sqrt(sumsq))
    return (v / norm).astype(np.float32)


def _apply_matryoshka(dense, weights, target_dim):
    weights = np.asarray(weights, np.float32)
    if weights.size != dense.size or target_dim == 0 or target_dim >= dense.size:
        return dense
    kept = weights > 0
    return _l2n((dense[kept] * weights[kept]).astype(np.float32))


def _bucket_sketch(sig, dim):
    if len(sig) == 0 or dim == 0:
        return np.array([], np.float32)
    sk = np.zeros(dim, np.float32)
    for s in sig:
        sk[s % dim] += np.float32(1.0)
    return _l2n(sk)


def _compose_ref(dense, weights, entity_sig, sketch, cfg):
    dense = np.asarray(dense, np.float32)
    if dense.size == 0:
        return dense
    if (
        cfg.enable_matryoshka
        and len(weights)
        and cfg.matryoshka_target_dim > 0
        and cfg.matryoshka_target_dim < dense.size
    ):
        dense = _apply_matryoshka(dense, weights, cfg.matryoshka_target_dim)
    else:
        dense = _l2n(dense)
    entity_on = cfg.enable_entity_fusion and entity_sig.size > 0
    minhash_on = cfg.enable_minhash_sketch and sketch.size > 0
    if not entity_on and not minhash_on:
        return dense
    a_e = np.float32(cfg.entity_fusion_alpha) if entity_on else np.float32(0)
    a_m = np.float32(cfg.minhash_alpha) if minhash_on else np.float32(0)
    a_d = np.float32(max(np.float32(0.0), np.float32(np.float32(1.0) - a_e - a_m)))
    parts = [dense * a_d]
    if entity_on:
        parts.append(entity_sig * a_e)
    if minhash_on:
        parts.append(sketch * a_m)
    return np.concatenate(parts).astype(np.float32)


# --- fixtures --------------------------------------------------------------


def _mk_vectors(spark):
    rows = [
        # docA: document-level record wins (chunks ignored)
        ("A", "document", [0.5, 0.25, 0.0], 0),
        ("A", "chunk", [9.0, 9.0, 9.0], 1),
        # docB: mean of matching-dim chunks
        ("B", "chunk", [0.25, 0.5, 0.75], 0),
        ("B", "chunk", [0.75, 0.25, 0.25], 1),
        ("B", "chunk", [0.5, 0.75, 0.5], 2),
        # docC: first non-empty fixes dim=2; the 3-dim record is skipped
        ("C", "chunk", [], 0),
        ("C", "chunk", [0.5, 1.0], 1),
        ("C", "chunk", [1.0, 1.0, 1.0], 2),
        ("C", "chunk", [1.0, 0.5], 3),
        # docD: document-level EMPTY record is ignored; single chunk wins
        ("D", "document", [], 0),
        ("D", "chunk", [0.125, 0.875], 1),
    ]
    return spark.createDataFrame(
        rows, "doc_hash string, level string, embedding array<float>, seq int"
    )


def test_aggregate_doc_embeddings(spark):
    out = {
        r["doc_hash"]: r["embedding"]
        for r in aggregate_doc_embeddings(_mk_vectors(spark)).collect()
    }
    assert out["A"] == pytest.approx([0.5, 0.25, 0.0])
    want_b = np.mean(
        np.array([[0.25, 0.5, 0.75], [0.75, 0.25, 0.25], [0.5, 0.75, 0.5]]),
        axis=0,
    )
    assert np.array_equal(np.float32(out["B"]), np.float32(want_b))
    assert out["C"] == pytest.approx([0.75, 0.75])
    assert out["D"] == pytest.approx([0.125, 0.875])


def _mk_graph(spark):
    # node ids 1..5 are doc:h1..doc:h5; node 6 is a non-doc entity node.
    nodes = spark.createDataFrame(
        [(i, f"doc:h{i}") for i in range(1, 6)] + [(6, "ent:acme")],
        "node_id long, node_key string",
    )
    edges = spark.createDataFrame(
        [
            (1, 2, 0.9, 1),
            (1, 2, 0.7, 2),   # dedup keeps max 0.9
            (2, 1, 0.8, 3),   # makes 1<->2 reciprocal
            (1, 3, 0.6, 4),   # one-way
            (3, 1, 0.5, 5),
            (1, 6, 0.99, 6),  # non-doc destination dropped
            (4, 5, 0.4, 7),
            (1, 4, 0.6, 8),   # ties 0.6 with h3 -> hash asc: h3 first
        ],
        "src_node_id long, dst_node_id long, weight float, edge_id long",
    )
    return nodes, edges


def test_collect_topology_neighbors(spark):
    nodes, edges = _mk_graph(spark)
    out = collect_topology_neighbors(edges, nodes, max_neighbors=2)
    n1 = {
        (r["neighbor_doc_hash"], r["neighbor_rank"]): (
            round(r["score"], 6),
            r["reciprocal"],
        )
        for r in out.where(F.col("src_node_id") == 1).collect()
    }
    # 0.9 reciprocal h2 first; 0.6 tie (h3, h4) -> hash asc keeps h3; cap 2.
    assert n1 == {("h2", 1): (0.9, True), ("h3", 2): (0.6, True)}
    n4 = out.where(F.col("src_node_id") == 4).collect()
    assert [(r["neighbor_doc_hash"], r["reciprocal"]) for r in n4] == [
        ("h5", False),
        # h1's 0.6 edge is 1->4 (incoming for 4): not an outgoing neighbor.
    ]


def test_variance_weights_matches_two_pass_numpy(spark):
    rng = np.random.RandomState(7)
    data = (rng.randint(-16, 17, size=(40, 6)) / 16.0) * (
        np.arange(1, 7) / 2.0
    )
    df = spark.createDataFrame(
        [(f"d{i:02d}", [float(x) for x in row]) for i, row in enumerate(data)],
        "doc_hash string, embedding array<float>",
    )
    w = variance_weights(df, target_dim=3)
    var = data.astype(np.float64).var(axis=0)  # population, two-pass
    top = sorted(range(6), key=lambda j: (-var[j], j))[:3]
    want = [0.0] * 6
    for j in top:
        want[j] = float(np.float32(math.sqrt(var[j])))
    assert w == pytest.approx(want, rel=1e-9)
    assert variance_weights(df, target_dim=0) == []
    assert variance_weights(df, target_dim=6) == []


def test_variance_weights_sample_cap_and_first_dim(spark):
    df = spark.createDataFrame(
        [("a", [0.0, 1.0]), ("b", [1.0, 0.0]), ("c", [0.5, 0.5, 0.5]),
         ("d", [])],
        "doc_hash string, embedding array<float>",
    )
    # sample cap 2 -> only a, b (hash order); dim fixed by first row (2).
    w = variance_weights(df, target_dim=1, sample_cap=2)
    assert len(w) == 2 and sum(1 for x in w if x > 0) == 1


def test_compose_features_bit_equals_float32_replica(spark):
    # 2 full dims kept of 4; entity K=2; sketch dim 2. Values are exact
    # float32 (1/64 multiples) so double-with-float-casts == float32 ops.
    weights = [0.5, 0.0, 1.0, 0.0]
    cfg = FeatureComposition(
        enable_entity_fusion=True,
        entity_signature_k=2,
        enable_matryoshka=True,
        matryoshka_target_dim=2,
        enable_minhash_sketch=True,
        minhash_sketch_dim=2,
    )
    rows = [
        ("a", [0.25, 0.5, 0.75, 1.0], [0.5, 0.25], [3.0, 4.0]),
        ("b", [1.0, 0.0, 0.5, 0.25], [], [1.0, 0.0]),      # no entity sig
        ("c", [0.5, 0.5, 0.5, 0.5], [0.75, 0.125], []),    # no sketch
        ("d", [], [0.5, 0.5], [1.0, 1.0]),                 # empty dense
        ("e", [0.5, 0.25], [0.25, 0.25], [2.0, 1.0]),      # weight mismatch
        ("f", [0.25, 0.75, 0.125, 0.5], [], []),           # V0 dense-only
    ]
    df = spark.createDataFrame(
        rows,
        "doc string, embedding array<float>, entity_sig array<float>, "
        "minhash_sketch array<float>",
    )
    out = {
        r["doc"]: np.asarray(r["composed"], np.float32)
        for r in compose_features(df, cfg, weights=weights).collect()
    }
    for doc, emb, ent, sk in rows:
        want = _compose_ref(
            np.asarray(emb, np.float32),
            weights,
            np.asarray(ent, np.float32),
            np.asarray(sk, np.float32),
            cfg,
        )
        assert np.array_equal(out[doc], want), doc
    # all-off config reproduces the L2-normalized dense view (V0)
    v0 = FeatureComposition()
    out0 = {
        r["doc"]: np.asarray(r["composed"], np.float32)
        for r in compose_features(df, v0, weights=[]).collect()
    }
    for doc, emb, _, _ in rows:
        assert np.array_equal(
            out0[doc], _l2n(np.asarray(emb, np.float32))
        ), doc


def test_minhash_bucket_sketch(spark):
    sigs = [[7, 13, 22, 9, 4], [], [8, 8, 8]]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "i int, sig array<long>"
    )
    out = {
        r["i"]: np.asarray(r["sk"], np.float32)
        for r in df.select(
            "i", minhash_bucket_sketch_col(F.col("sig"), 4).alias("sk")
        ).collect()
    }
    for i, s in enumerate(sigs):
        assert np.array_equal(out[i], _bucket_sketch(s, 4)), i
    assert out[1].size == 0


def _mk_kg(spark):
    nodes = spark.createDataFrame(
        [
            (1, "Org"), (2, "org"), (3, "Person"), (4, "date"),
            (5, "gene"), (6, None), (7, ""),
        ],
        "node_id long, type string",
    )
    ents = spark.createDataFrame(
        [
            # doc 10: org twice (counts once), person below threshold
            (10, 1, 0.9), (10, 2, 0.5), (10, 3, 0.3),
            # doc 11: person (null conf passes), date (filtered), gene
            (11, 3, None), (11, 4, 0.99), (11, 5, 0.5),
            # doc 12: org + untyped/empty-typed nodes
            (12, 1, 0.45), (12, 6, 0.9), (12, 7, 0.9),
            # doc 13: everything below threshold -> no contributing entity
            (13, 5, 0.1),
            # doc 14: node_id-less mention is skipped upstream
            (14, None, 0.9),
        ],
        "doc_id long, node_id long, confidence double",
    )
    return nodes, ents


def test_entity_type_index(spark):
    nodes, ents = _mk_kg(spark)
    idx = {
        r["entity_type"]: (r["axis_idx"], r["n_docs"])
        for r in entity_type_index(ents, nodes, k=2).collect()
    }
    # org in docs 10,12 (case-folded, once per doc); gene 1; person 1;
    # date filtered. Top-2: org(2), then gene < person lexicographic.
    assert idx == {"org": (0, 2), "gene": (1, 1)}


def test_entity_type_signatures(spark):
    nodes, ents = _mk_kg(spark)
    idx = entity_type_index(ents, nodes, k=2)
    sigs = {
        r["doc_id"]: np.asarray(r["entity_sig"], np.float32)
        for r in entity_type_signatures(ents, nodes, idx, k=2).collect()
    }
    # doc 10: org mass 0.9+0.5 = 1.4 on axis 0 -> normalizes to [1, 0]
    assert np.array_equal(sigs[10], np.asarray([1.0, 0.0], np.float32))
    # doc 11: gene 0.5 on axis 1 (person not in top-K; null conf = 1.0
    # would land on person's axis if K were larger) -> [0, 1]
    assert np.array_equal(sigs[11], np.asarray([0.0, 1.0], np.float32))
    # doc 12: org 0.45 (exactly at threshold passes) -> [1, 0]
    assert np.array_equal(sigs[12], np.asarray([1.0, 0.0], np.float32))
    # docs 13/14: no contributing entity -> no row (C++ empty vector)
    assert 13 not in sigs and 14 not in sigs


def _mk_neighbor_rows(spark):
    rows = [
        # (doc, neighbor, score, reciprocal)
        ("h1", "h2", 0.9, True),
        ("h2", "h1", 0.8, True),    # same pair -> max 0.9
        ("h1", "h3", 0.7, False),   # dropped when reciprocal_only
        ("h3", "h1", 0.2, True),    # below min_edge_score 0.25
        ("h2", "h2", 0.99, True),   # self
        ("h2", "hX", 0.95, True),   # neighbor outside the corpus
        ("h3", "h2", 0.5, True),
        ("", "h2", 0.5, True),      # empty doc hash
    ]
    return spark.createDataFrame(
        rows, "doc_hash string, neighbor_doc_hash string, score float, "
        "reciprocal boolean"
    )


def test_protected_relation_observations(spark):
    nb = _mk_neighbor_rows(spark)
    obs = protected_relation_observations(
        nb, reciprocal_only=True, min_edge_score=0.25
    )
    got = {
        (r["lhs"], r["rhs"]): round(r["score"], 6) for r in obs.collect()
    }
    assert got == {("h1", "h2"): 0.9, ("h2", "h3"): 0.5}
    # reciprocal gate off admits the one-way 0.7 edge
    loose = protected_relation_observations(
        nb, reciprocal_only=False, min_edge_score=0.25
    )
    got2 = {(r["lhs"], r["rhs"]): round(r["score"], 6) for r in loose.collect()}
    assert got2[("h1", "h3")] == 0.7


def test_q96_fixture_variance_margins():
    """The q96 oracle fixture must keep per-dim variances distinct —
    the C++ partial_sort is unstable on exact ties, so the entry's
    determinism rests on this audited gap."""
    ids = [i for i in range(64) if i % 16 != 15]
    emb = np.array(
        [
            [
                ((i * 2) % 7) / 8.0, ((i * 3) % 9) / 8.0,
                ((i * 4) % 11) / 8.0, ((i * 5) % 13) / 8.0,
                ((i * 6) % 15) / 8.0, ((i * 7) % 17) / 8.0,
            ]
            for i in ids
        ]
    )
    var = np.sort(emb.var(axis=0))
    assert np.min(np.diff(var)) > 1e-6
