"""Connected-components correctness: distributed large-star/small-star
labels must equal a union-find oracle on random edge sets (FIXTURES.md §5.4).
"""

from __future__ import annotations

import random

import pytest

from yams_spark.operators.clustering import connected_components
from yams_spark.oracle.dedupe_oracle import UnionFind


def _uf_labels(nodes: list[str], edges: list[tuple[str, str]]) -> dict[str, str]:
    uf = UnionFind()
    for n in nodes:
        uf.find(n)
    for a, b in edges:
        uf.union(a, b)
    comp: dict[str, list[str]] = {}
    for n in nodes:
        comp.setdefault(uf.find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _adversarial_path(n: int = 16) -> list[tuple[str, str]]:
    """A path whose url order is the bit reversal of its position (the
    minimum sits at one end, its neighbours far apart in url order), with
    edges listed from the far end and alternating in direction; the star
    rounds need log2(n) of them."""
    bits = (n - 1).bit_length()
    order = [f"p{int(f'{i:0{bits}b}'[::-1], 2):03d}" for i in range(n)]
    edges = [(order[i], order[i + 1]) for i in range(n - 1)][::-1]
    return [(b, a) if i % 2 else (a, b) for i, (a, b) in enumerate(edges)]


def _dup_reversed() -> list[tuple[str, str]]:
    """Random edges plus a reversed copy and a duplicate of every third."""
    rng = random.Random(5)
    nodes = [f"d{i:02d}" for i in range(12)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(14)]
    return edges + [(b, a) for a, b in edges[::3]] + edges[1::3]


#: named graphs among the (seed, n_nodes, n_edges) random cases
_GRAPHS = {"path": _adversarial_path, "dup": _dup_reversed}


# 0 = fully distributed; 2M = straight driver union-find; 250 and 5 =
# distributed star rounds that contract under the gate, then driver finish
# (the hybrid)
@pytest.mark.parametrize("seed,n_nodes,n_edges,driver_max", [
    *[(seed, n, e, d) for seed, n, e in [(1, 30, 20), (2, 100, 80), (3, 200, 300), (4, 50, 0)]
      for d in (0, 2_000_000, 250)],
    *[(name, 0, 0, d) for name in _GRAPHS for d in (0, 5)],
])
def test_cc_matches_union_find(spark, seed, n_nodes: int, n_edges: int, driver_max: int) -> None:
    if seed in _GRAPHS:
        edges = _GRAPHS[seed]()
        nodes = sorted({u for edge in edges for u in edge})
    else:
        rng = random.Random(seed)
        nodes = [f"n{i:04d}" for i in range(n_nodes)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(n_edges)
        ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _uf_labels(nodes, edges)
    # distributed CC only sees edge endpoints; singletons label themselves
    if edges:
        df = spark.createDataFrame(edges, ["url_a", "url_b"])
        got = {
            r["url"]: r["component"]
            for r in connected_components(df, driver_max_edges=driver_max).collect()
        }
    else:
        got = {}
    for n in nodes:
        assert got.get(n, n) == expected[n], f"node {n}"


def test_cc_star_input_stops_after_one_round(spark) -> None:
    """Edges that already form stars around their minimum need one round:
    the stop rule sees the star state right after it, with no confirming
    round."""
    edges = [(f"b{i}", "a") for i in range(6)] + [("z", "y"), ("x", "y")]
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    s: dict = {}
    got = {r["url"]: r["component"]
           for r in connected_components(df, driver_max_edges=0, stats=s).collect()}
    assert s == {"edges_initial": 8, "rounds": 1, "mode": "distributed"}
    assert got == {**{f"b{i}": "a" for i in range(6)}, "a": "a",
                   "x": "x", "y": "x", "z": "x"}


def test_cc_unconverged_raises(spark) -> None:
    """max_iter rounds short of the star state fail loudly instead of
    returning unconverged labels."""
    df = spark.createDataFrame(_adversarial_path(16), ["url_a", "url_b"])
    with pytest.raises(RuntimeError, match=r"did not converge in 1 rounds \(\d+ edges left\)"):
        connected_components(df, driver_max_edges=0, max_iter=1)


def test_cc_chain_and_cycle(spark) -> None:
    # chain a-b-c-d plus cycle e-f-g-e, isolated pair h-i
    edges = [("b", "a"), ("c", "b"), ("d", "c"), ("e", "f"), ("f", "g"), ("g", "e"), ("i", "h")]
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    got = {r["url"]: r["component"] for r in connected_components(df).collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "e": "e", "f": "e", "g": "e",
        "h": "h", "i": "h",
    }


def test_cc_stats_and_config_plumbing(spark) -> None:
    """cc stats report mode/rounds/edges; PipelineConfig.driver_cc_max_edges
    reaches connected_components (the bench's distributed-CC forcing knob)."""
    edges = [("b", "a"), ("c", "b"), ("d", "c"), ("f", "e")]
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    s: dict = {}
    connected_components(df, stats=s).collect()
    assert s == {"edges_initial": 4, "rounds": 0, "mode": "driver"}
    s = {}
    got = {r["url"]: r["component"]
           for r in connected_components(df, driver_max_edges=0, stats=s).collect()}
    assert s["mode"] == "distributed" and s["rounds"] >= 1
    assert got["d"] == "a" and got["f"] == "e"
