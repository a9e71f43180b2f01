"""Routing representatives + orthogonal boundary spill
(yams_spark/operators/topo_reps.py vs a literal pure-Python replica of
/root/reference/src/topology/topology_representatives.cpp), plus the
spill_mini fixture's margin invariants."""

from __future__ import annotations

import math

import numpy as np
import pytest

from yams_spark.oracle.spill_mini import (
    REP_COUNT,
    RESIDUAL_EPS,
    SPILL_LIMIT,
    SPILL_PENALTY,
    SPILL_RATIO,
    embedding_xy,
    rep_mini_docs,
    spill_mini_clusters,
    spill_mini_docs,
)


def _cents() -> dict[str, np.ndarray]:
    return {
        c["cluster_id"]: np.array([c["cx"], c["cy"]], dtype=np.float64)
        for c in spill_mini_clusters()
    }


def _cosd(a: np.ndarray, b: np.ndarray) -> float:
    dot = float(a @ b)
    l2 = float(a @ a)
    r2 = float(b @ b)
    if l2 <= 0.0 or r2 <= 0.0:
        return 2.0
    return 1.0 - min(max(dot / (math.sqrt(l2) * math.sqrt(r2)), -1.0), 1.0)


def _replica_reps() -> list[tuple[str, int, str, float]]:
    """Direct transcription of the :54-89 greedy loop."""
    cents = _cents()
    by_cluster: dict[str, list[tuple[str, np.ndarray]]] = {}
    for d in rep_mini_docs():
        v = np.array([d["x"], d["y"]], dtype=np.float64)
        if not np.all(np.isfinite(v)):
            continue
        by_cluster.setdefault(d["cluster_id"], []).append((d["doc_hash"], v))
    out = []
    for cid in sorted(by_cluster):
        cands = sorted(by_cluster[cid])
        used = [False] * len(cands)
        mind = [float("inf")] * len(cands)
        sel: list[tuple[str, np.ndarray, float]] = []
        for s in range(min(REP_COUNT - 1, len(cands))):
            best, best_d = -1, -1.0
            ref = cents[cid] if s == 0 else sel[-1][1]
            for ci, (_h, v) in enumerate(cands):
                if used[ci]:
                    continue
                mind[ci] = min(mind[ci], _cosd(v, ref))
                if mind[ci] > best_d:
                    best_d, best = mind[ci], ci
            if best < 0:
                break
            used[best] = True
            sel.append((cands[best][0], cands[best][1], best_d))
        for i, (h, _v, d) in enumerate(sel):
            out.append((cid, i + 1, h, d))
    return out


def _replica_spills() -> list[tuple[str, str, str, int, float]]:
    """Direct transcription of the :93-287 spill pass."""
    cents = _cents()
    docs = spill_mini_docs()
    radius: dict[str, float] = {}
    for d in docs:
        if d["cluster_id"] not in cents:
            continue
        res = np.array([d["x"], d["y"]]) - cents[d["cluster_id"]]
        r2 = float(res @ res)
        if math.isfinite(r2):
            radius[d["cluster_id"]] = max(radius.get(d["cluster_id"], 0.0), r2)
    ratio2 = SPILL_RATIO * SPILL_RATIO
    out = []
    for d in docs:
        if d["overlap"] or d["cluster_id"] not in cents:
            continue
        v = np.array([d["x"], d["y"]], dtype=np.float64)
        pres = v - cents[d["cluster_id"]]
        p2 = float(pres @ pres)
        if not math.isfinite(p2):
            continue
        observed = p2 > RESIDUAL_EPS
        if not observed and d["role"] != "outlier":
            continue
        cand = []
        for cid, cc in cents.items():
            if cid == d["cluster_id"]:
                continue
            cres = v - cc
            cn2 = float(cres @ cres)
            if not math.isfinite(cn2):
                continue
            rdot = float(pres @ cres)
            if observed:
                if cn2 > p2 * ratio2:
                    continue
                loss = cn2 + SPILL_PENALTY * ((rdot * rdot) / p2)
            else:
                cr2 = radius.get(cid, 0.0)
                if cr2 <= RESIDUAL_EPS or cn2 > cr2 * ratio2:
                    continue
                loss = cn2
            if math.isfinite(loss):
                cand.append((loss, cid))
        cand.sort(key=lambda t: (t[0], t[1]))
        for rk, (loss, cid) in enumerate(cand[:SPILL_LIMIT], 1):
            out.append((d["doc_hash"], d["cluster_id"], cid, rk, loss))
    return out


@pytest.fixture(scope="module")
def frames(spark):
    from __spark_entry__ import _spill_mini_frames

    return _spill_mini_frames(spark)


def test_representatives_match_replica(spark):
    from yams_spark.operators.topo_reps import select_routing_representatives

    members = spark.createDataFrame(
        [(d["cluster_id"], d["doc_hash"], embedding_xy(d["x"], d["y"]))
         for d in rep_mini_docs()],
        "cluster_id string, doc_hash string, embedding array<float>",
    )
    clusters = spark.createDataFrame(
        [(c["cluster_id"], embedding_xy(c["cx"], c["cy"]))
         for c in spill_mini_clusters()],
        "cluster_id string, centroid array<float>",
    )
    got = sorted(
        (r["cluster_id"], r["sel_order"], r["doc_hash"], r["sel_distance"])
        for r in select_routing_representatives(
            members, clusters, REP_COUNT
        ).collect()
    )
    assert got == sorted(_replica_reps())
    # the one-candidate cluster picked exactly one rep (early break)
    assert sum(1 for g in got if g[0] == "tc_d") == 1
    # the NaN members never appear
    assert all(g[2] not in ("rpa5", "rpd1") for g in got)


def test_representatives_count_guard(spark):
    from yams_spark.operators.topo_reps import select_routing_representatives

    members = spark.createDataFrame(
        [("c1", "h1", embedding_xy(1.0, 0.0))],
        "cluster_id string, doc_hash string, embedding array<float>",
    )
    clusters = spark.createDataFrame(
        [("c1", embedding_xy(1.0, 0.0))],
        "cluster_id string, centroid array<float>",
    )
    # routingRepresentativeCount <= 1 preserves centroid-only routing
    # (topology_representatives.cpp:37-39)
    assert select_routing_representatives(members, clusters, 1).count() == 0


def test_spill_matches_replica(spark, frames):
    from yams_spark.operators.topo_reps import orthogonal_boundary_spill

    memberships, clusters, documents = frames
    got = sorted(
        (r["doc_hash"], r["primary_cluster"], r["spill_cluster"],
         r["spill_rank"], r["loss"])
        for r in orthogonal_boundary_spill(
            memberships, clusters, documents,
            overlap_limit=SPILL_LIMIT, boundary_ratio=SPILL_RATIO,
            residual_penalty=SPILL_PENALTY,
        ).collect()
    )
    exp = sorted(_replica_spills())
    assert [g[:4] for g in got] == [e[:4] for e in exp]
    for g, e in zip(got, exp):
        assert g[4] == pytest.approx(e[4], abs=0.0)  # bit-identical doubles
    # SOAR reorder: sa0's nearest centroid (tc_b) is NOT among its spills
    sa0 = [g for g in got if g[0] == "sa0"]
    assert {g[2] for g in sa0} == {"tc_c", "tc_e"}
    # skip semantics: at-centroid core, pre-overlapped, unknown-cluster
    assert all(g[0] not in ("sa1", "sa4", "sa5") for g in got)
    # outlier-at-centroid radius branch fired
    assert {g[2] for g in got if g[0] == "sa2"} == {"tc_c", "tc_e"}


def test_spill_config_guards(spark, frames):
    from yams_spark.operators.topo_reps import orthogonal_boundary_spill

    memberships, clusters, documents = frames
    for kw in (
        dict(overlap_limit=0),
        dict(boundary_ratio=0.9),
        dict(boundary_ratio=float("nan")),
        dict(residual_penalty=-0.5),
    ):
        args = dict(overlap_limit=SPILL_LIMIT, boundary_ratio=SPILL_RATIO,
                    residual_penalty=SPILL_PENALTY)
        args.update(kw)
        assert orthogonal_boundary_spill(
            memberships, clusters, documents, **args
        ).count() == 0, kw
    # fewer than two clusters ⇒ no spill (:96)
    one = clusters.limit(1)
    assert orthogonal_boundary_spill(
        memberships, one, documents, overlap_limit=SPILL_LIMIT,
        boundary_ratio=SPILL_RATIO, residual_penalty=SPILL_PENALTY,
    ).count() == 0


def test_spill_mini_margins():
    """Fixture safety invariants: every ratio-gate comparison keeps
    ≥ 1e-2 relative margin, and per-doc candidate losses are either
    exactly equal (the designed mirror ties) or ≥ 1e-8 apart — so no
    branch or rank can flip under perturbations far larger than the
    1-ulp reproducibility the two engines actually deliver."""
    cents = _cents()
    docs = spill_mini_docs()
    radius: dict[str, float] = {}
    for d in docs:
        if d["cluster_id"] in cents:
            res = np.array([d["x"], d["y"]]) - cents[d["cluster_id"]]
            radius[d["cluster_id"]] = max(
                radius.get(d["cluster_id"], 0.0), float(res @ res)
            )
    ratio2 = SPILL_RATIO * SPILL_RATIO
    for d in docs:
        if d["overlap"] or d["cluster_id"] not in cents:
            continue
        v = np.array([d["x"], d["y"]], dtype=np.float64)
        pres = v - cents[d["cluster_id"]]
        p2 = float(pres @ pres)
        observed = p2 > RESIDUAL_EPS
        if not observed and d["role"] != "outlier":
            continue
        losses = []
        for cid, cc in cents.items():
            if cid == d["cluster_id"]:
                continue
            cres = v - cc
            cn2 = float(cres @ cres)
            bound = (p2 if observed else radius.get(cid, 0.0)) * ratio2
            if bound > 0:
                assert abs(cn2 - bound) / bound >= 1e-2, (d["doc_hash"], cid)
            if cn2 <= bound:
                rdot = float(pres @ cres)
                losses.append(
                    cn2 + SPILL_PENALTY * ((rdot * rdot) / p2)
                    if observed else cn2
                )
        losses.sort()
        for a, b in zip(losses, losses[1:]):
            assert b - a == 0.0 or b - a >= 1e-8, (d["doc_hash"], losses)
    # representative pick margins: winner beats runner-up by ≥ 1e-3
    for cid, picks in (
        ("tc_a", ("rpa3", "rpa4")),
        ("tc_b", ("rpb0", "rpb1")),
        ("tc_c", ("rpc2", "rpc0")),
    ):
        reps = {r[2]: r for r in _replica_reps() if r[0] == cid}
        assert tuple(h for h in reps) == picks


def test_rep_pick_margins():
    """Each greedy pick's max-min value exceeds the runner-up's by
    ≥ 1e-3 (no near-tie selections in the fixture)."""
    cents = _cents()
    by_cluster: dict[str, list[tuple[str, np.ndarray]]] = {}
    for d in rep_mini_docs():
        v = np.array([d["x"], d["y"]], dtype=np.float64)
        if np.all(np.isfinite(v)):
            by_cluster.setdefault(d["cluster_id"], []).append((d["doc_hash"], v))
    for cid, cands in by_cluster.items():
        cands = sorted(cands)
        if len(cands) < 2:
            continue
        mind = {h: _cosd(v, cents[cid]) for h, v in cands}
        for _step in range(REP_COUNT - 1):
            ordered = sorted(mind.items(), key=lambda t: (-t[1], t[0]))
            if len(ordered) >= 2:
                assert ordered[0][1] - ordered[1][1] >= 1e-3, (cid, ordered)
            winner = ordered[0][0]
            wv = dict(cands)[winner]
            mind.pop(winner)
            mind = {h: min(dv, _cosd(dict(cands)[h], wv))
                    for h, dv in mind.items()}
