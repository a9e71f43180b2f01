"""Alternate topology engines (yams_spark/operators/topo_engines.py)
vs literal pure-Python replicas of
/root/reference/src/topology/topology_alternate_engines.cpp, plus the
engines_mini fixture margin invariants."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from yams_spark.operators.topo_engines import (
    _dist_matrix,
    _exact_louvain,
    _normalize32,
)
from yams_spark.oracle.engines_mini import (
    batch_mini_assignment,
    batch_mini_edges,
    kmeans_embedding,
    kmeans_mini_docs,
    louvain_mini_edges,
    louvain_mini_nodes,
)


def _cosd(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    if a.size != b.size or a.size == 0:
        return 2.0
    dot = float(a @ b)
    na = float(a @ a)
    nb = float(b @ b)
    if na <= 0.0 or nb <= 0.0:
        return 2.0
    return 1.0 - min(max(dot / (math.sqrt(na) * math.sqrt(nb)), -1.0), 1.0)


def _replica_kmeans() -> dict[str, str]:
    """runKMeans (:341-478) literal replica → {hash: min-hash label}."""
    docs = kmeans_mini_docs()
    embs = [np.asarray(kmeans_embedding(d), dtype=np.float32) for d in docs]
    n = len(docs)
    usable, dim = [], 0
    for i in range(n):
        if embs[i].size:
            if dim == 0:
                dim = embs[i].size
            if embs[i].size == dim:
                usable.append(i)
    k = max(2, min(int(math.floor(math.sqrt(len(usable)) + 0.5)), len(usable)))
    cents = [_normalize32(embs[usable[0]])]
    selected = [True] + [False] * (len(usable) - 1)
    mind = [float("inf")] * len(usable)
    while len(cents) < k:
        far, fard = len(usable), -1.0
        for u in range(len(usable)):
            if selected[u]:
                continue
            d = _cosd(embs[usable[u]], cents[-1])
            mind[u] = min(mind[u], d)
            if mind[u] > fard:
                fard, far = mind[u], u
        if far == len(usable):
            break
        selected[far] = True
        cents.append(_normalize32(embs[usable[far]]))
    membership = [0] * len(usable)
    for _it in range(10):
        changed = False
        for u in range(len(usable)):
            best, bd = 0, float("inf")
            for c in range(k):
                d = _cosd(embs[usable[u]], cents[c])
                if d < bd:
                    bd, best = d, c
            if best != membership[u]:
                membership[u] = best
                changed = True
        members = [[] for _ in range(k)]
        for u in range(len(usable)):
            members[membership[u]].append(u)
        for c in range(k):
            if members[c]:
                acc = np.zeros(dim, dtype=np.float32)
                for u in members[c]:
                    acc += embs[usable[u]]
                cents[c] = _normalize32(acc / np.float32(len(members[c])))
        assert all(members[c] for c in range(k)), "fixture must not repair"
        if not changed:
            break
    out = {}
    groups: dict[int, list[str]] = {}
    for u in range(len(usable)):
        groups.setdefault(membership[u], []).append(docs[usable[u]]["doc_hash"])
    for hs in groups.values():
        lab = min(hs)
        for h in hs:
            out[h] = lab
    for d in docs:  # unusable docs are their own singletons
        if d["doc_hash"] not in out:
            out[d["doc_hash"]] = d["doc_hash"]
    return out


def test_kmeans_assign_matches_replica(spark):
    from yams_spark.operators.topo_engines import kmeans_assign

    docs = spark.createDataFrame(
        [(d["doc_hash"], d["idx"], kmeans_embedding(d)) for d in kmeans_mini_docs()],
        "doc_hash string, idx long, embedding array<float>",
    )
    out = kmeans_assign(docs, k=0)
    lbl = out.groupBy("label").agg(F.min("doc_hash").alias("cl"))
    got = {
        r["doc_hash"]: r["cl"] for r in out.join(lbl, "label").collect()
    }
    assert got == _replica_kmeans()
    # singleton labels are unique and disjoint from the k-means buckets
    labels = {r["doc_hash"]: r["label"] for r in out.collect()}
    assert labels["ku0"] != labels["ku1"]
    assert len(set(labels.values())) == 5  # 3 blobs + 2 singletons


def test_kmeans_degenerate_inputs(spark):
    from yams_spark.operators.topo_engines import kmeans_assign

    # fewer than 2 usable docs → identity assignment (:362-365)
    docs = spark.createDataFrame(
        [("h0", 0, [1.0, 0.0]), ("h1", 1, [])],
        "doc_hash string, idx long, embedding array<float>",
    )
    got = {r["doc_hash"]: r["label"] for r in kmeans_assign(docs).collect()}
    assert got == {"h0": 0, "h1": 1}
    empty = spark.createDataFrame([], "doc_hash string, idx long, embedding array<float>")
    assert kmeans_assign(empty).count() == 0


def test_kmeans_empty_cluster_repair(spark):
    """Force k above the natural cluster count: two tight blobs with
    k=4 make Lloyd empty a seed bucket, exercising the :433-462 reseed
    (globally worst-fit member becomes the new centroid). The engine
    must still produce exactly k=4 non-empty buckets."""
    from yams_spark.operators.topo_engines import kmeans_assign

    def emb(deg, r=1.0):
        v = np.zeros(8, dtype=np.float32)
        v[0] = np.float32(r * math.cos(math.radians(deg)))
        v[1] = np.float32(r * math.sin(math.radians(deg)))
        return [float(x) for x in v]

    rows = [
        ("a0", 0, emb(0.0)), ("a1", 1, emb(1.0)), ("a2", 2, emb(-1.0)),
        ("a3", 3, emb(2.0)), ("b0", 4, emb(90.0)), ("b1", 5, emb(91.0)),
        ("b2", 6, emb(89.0)), ("b3", 7, emb(92.0)),
    ]
    docs = spark.createDataFrame(
        rows, "doc_hash string, idx long, embedding array<float>"
    )
    out = kmeans_assign(docs, k=4)
    sizes = {r["label"]: r["c"] for r in out.groupBy("label").agg(
        F.count("*").alias("c")).collect()}
    assert len(sizes) == 4 and all(v > 0 for v in sizes.values())
    assert sum(sizes.values()) == 8


def test_louvain_matches_replica_and_gate(spark):
    from yams_spark.operators.topo_engines import (
        build_pair_weights,
        louvain_assign,
    )

    docs = spark.createDataFrame(
        louvain_mini_nodes(), "doc_hash string, idx long"
    )
    rows = []
    for a, b, w in louvain_mini_edges():
        rows.append((a, b, float(w), True))
        rows.append((b, a, float(w), True))
    neighbors = spark.createDataFrame(
        rows, "doc_hash string, neighbor_hash string, score float, reciprocal boolean"
    )
    pw = build_pair_weights(neighbors, docs)
    out = louvain_assign(docs, pw)
    lbl = out.groupBy("label").agg(F.min("doc_hash").alias("cl"))
    got = {r["doc_hash"]: r["cl"] for r in out.join(lbl, "label").collect()}
    assert got == {
        "la0": "la0", "la1": "la0", "la2": "la0",
        "lb0": "lb0", "lb1": "lb0", "lb2": "lb0",
        "lc0": "lc0", "lc1": "lc0", "ld0": "ld0",
    }
    with pytest.raises(ValueError, match="driver gate"):
        louvain_assign(docs, pw, max_driver_edges=3)


def test_louvain_gain_margins():
    """Every greedy decision's winning gain exceeds the runner-up (and
    the stay-put 0.0 baseline) by ≥ 1e-6, so the reference's
    unordered-map candidate order can never change the result."""
    nodes = louvain_mini_nodes()
    dense = {h: i for i, (h, _x) in enumerate(nodes)}
    n = len(nodes)
    adjacency: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for a, b, w in louvain_mini_edges():
        w = float(np.float32(w))
        adjacency[dense[a]].append((dense[b], w))
        adjacency[dense[b]].append((dense[a], w))
    # instrumented copy of _exact_louvain recording per-decision gaps
    assignment = list(range(n))
    node_degree = [0.0] * n
    for i in range(n):
        for _j, w in adjacency[i]:
            node_degree[i] += w
    two_m = sum(node_degree)
    comm_degree = [0.0] * n
    for i in range(n):
        comm_degree[assignment[i]] = node_degree[i]

    def delta_q(node, target, w_to_target):
        return w_to_target / two_m - (
            comm_degree[target] * node_degree[node]
        ) / (two_m * two_m)

    for _sweep in range(10):
        improved = False
        for i in range(n):
            from_comm = assignment[i]
            k = node_degree[i]
            w_to_comm: dict[int, float] = {}
            for j, w in adjacency[i]:
                w_to_comm[assignment[j]] = w_to_comm.get(assignment[j], 0.0) + w
            w_to_from = w_to_comm.get(from_comm, 0.0)
            comm_degree[from_comm] -= k
            gains = []
            for cand, w_to_cand in w_to_comm.items():
                if cand == from_comm:
                    continue
                gains.append(
                    (delta_q(i, cand, w_to_cand)
                     - (-delta_q(i, from_comm, w_to_from)), cand)
                )
            gains.sort(reverse=True)
            best_comm, best_gain = from_comm, 0.0
            if gains and gains[0][0] > 0.0:
                best_gain, best_comm = gains[0]
                # margin audit: winner clears runner-up AND zero by 1e-6
                runner = gains[1][0] if len(gains) > 1 else 0.0
                assert best_gain - max(runner, 0.0) >= 1e-6, (i, gains)
            elif gains:
                assert abs(gains[0][0]) >= 1e-6 or gains[0][0] <= 0.0
            assignment[i] = best_comm
            comm_degree[best_comm] += k
            if best_comm != from_comm:
                improved = True
        if not improved:
            break
    comm: dict[int, list[str]] = {}
    for (h, _x), a in zip(nodes, assignment):
        comm.setdefault(a, []).append(h)
    assert sorted(len(v) for v in comm.values()) == [1, 2, 3, 3]


def test_build_pair_weights_filters(spark):
    from yams_spark.operators.topo_engines import build_pair_weights

    docs = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", 2)], "doc_hash string, idx long"
    )
    neighbors = spark.createDataFrame(
        [
            ("a", "b", 0.9, True),
            ("b", "a", 0.7, True),   # max-weight dedup → 0.9
            ("a", "a", 0.9, True),   # self-loop dropped
            ("a", "zz", 0.9, True),  # unknown endpoint dropped
            ("a", "c", 0.9, False),  # non-reciprocal dropped
            ("b", "c", 0.1, True),   # kept: reciprocal, score >= 0
            ("c", "a", -0.2, True),  # negative score dropped
        ],
        "doc_hash string, neighbor_hash string, score float, reciprocal boolean",
    )
    got = {
        (r["lo_hash"], r["hi_hash"]): round(r["weight"], 6)
        for r in build_pair_weights(neighbors, docs).collect()
    }
    assert got == {("a", "b"): 0.9, ("b", "c"): 0.1}


def test_batch_from_assignment_stats_and_roles(spark):
    """build_batch_from_assignment with embeddings: min-hash cluster ids,
    float32 member-mean centroids and weighted-degree medoid roles."""
    from yams_spark.operators.topo_engines import (
        build_batch_from_assignment,
        build_pair_weights,
    )

    def emb(deg, r=1.0):
        v = np.zeros(8, dtype=np.float32)
        v[0] = np.float32(r * math.cos(math.radians(deg)))
        v[1] = np.float32(r * math.sin(math.radians(deg)))
        return [float(x) for x in v]

    docs = spark.createDataFrame(
        [
            ("a0", 0, emb(0.0)), ("a1", 1, emb(8.0)), ("a2", 2, emb(-8.0)),
            ("b0", 3, emb(30.0)), ("b1", 4, emb(38.0)), ("b2", 5, emb(22.0)),
        ],
        "doc_hash string, idx long, embedding array<float>",
    )
    labels = spark.createDataFrame(
        [("a0", 0), ("a1", 0), ("a2", 0), ("b0", 1), ("b1", 1), ("b2", 1)],
        "doc_hash string, label long",
    )
    rows = []
    for a, b, w in (("a0", "a1", 0.75), ("a0", "a2", 0.5),
                    ("b0", "b1", 0.625), ("b0", "b2", 0.8125)):
        rows.append((a, b, w, True))
        rows.append((b, a, w, True))
    neighbors = spark.createDataFrame(
        rows, "doc_hash string, neighbor_hash string, score float, reciprocal boolean"
    )
    pw = build_pair_weights(neighbors, docs)
    batch = build_batch_from_assignment(docs, labels, pw)
    assert set(batch) == {"clusters", "memberships"}
    clusters = {r["cluster_id"]: r for r in batch["clusters"].collect()}
    assert set(clusters) == {"topology.cluster.a0", "topology.cluster.b0"}
    assert clusters["topology.cluster.a0"]["member_count"] == 3
    # centroid is the float32 member mean (8-dim here)
    assert len(clusters["topology.cluster.a0"]["centroid"]) == 8
    roles = {r["doc_hash"]: r["role"] for r in batch["memberships"].collect()}
    # medoids = max weighted degree: a0 (0.75+0.5), b0 (0.625+0.8125)
    assert roles["a0"] == "medoid" and roles["b0"] == "medoid"
    assert roles["a1"] == "core" and roles["b1"] == "core" and roles["b2"] == "core"


def test_kmeans_fixture_margins():
    """Fixture safety: every seeding argmax and every assignment argmin
    clears the runner-up by ≥ 0.02 cosine distance, and the Lloyd means
    keep every document ≥ 0.1 closer to its own blob mean than to any
    other — so the unrolled-seeding oracle equals the converged result
    under far more than 1-ulp noise."""
    docs = [d for d in kmeans_mini_docs() if d["dim_n"] == 384]
    vecs = {d["doc_hash"]: np.array([d["x"], d["y"]]) for d in docs}
    cents = {
        "ka0": vecs["ka0"], "kc2": vecs["kc2"], "kb1": vecs["kb1"],
    }
    # seeding argmax gaps
    d0 = {h: _cosd(v, vecs["ka0"]) for h, v in vecs.items() if h != "ka0"}
    top = sorted(d0.items(), key=lambda t: -t[1])
    assert top[0][0] == "kc2" and top[0][1] - top[1][1] >= 0.02
    m1 = {
        h: min(d0[h], _cosd(v, vecs["kc2"]))
        for h, v in vecs.items() if h not in ("ka0", "kc2")
    }
    top1 = sorted(m1.items(), key=lambda t: -t[1])
    assert top1[0][0] == "kb1" and top1[0][1] - top1[1][1] >= 0.02
    # assignment margins vs seed centroids and vs blob means
    blobs = {"ka": [], "kb": [], "kc": []}
    for h, v in vecs.items():
        blobs[h[:2]].append(v)
    means = {k: np.mean(np.stack(v), axis=0) for k, v in blobs.items()}
    seed_of = {"ka": "ka0", "kb": "kb1", "kc": "kc2"}
    for h, v in vecs.items():
        own = h[:2]
        for cset in (
            {k: vecs[s] for k, s in seed_of.items()},
            means,
        ):
            down = _cosd(v, cset[own])
            others = [_cosd(v, c) for k, c in cset.items() if k != own]
            assert min(others) - down >= 0.1, (h, down, others)
