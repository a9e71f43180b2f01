"""Topological quality: H0 persistence over cluster centroids.

The reference scores a topology build by 0-dimensional persistent
homology over the per-cluster centroid cloud
(``reference src/search/topological_quality.cpp:76-131``;
``src/daemon/components/TopologyManager.cpp:667-704``): all pairwise
Euclidean distances, Kruskal union-find over the ascending edge list,
each component-merging edge is an H0 death whose distance joins the
total, the final (essential) merge is skipped, and the sum normalizes by
the 95th-percentile pairwise distance (nth_element order statistic at
``floor(0.95·(n-1))``). Centroids come from float32-accumulated member
means, clusters with < 2 members skipped (TopologyManager.cpp:670-697).

Scale shape: centroid computation is an Arrow pass per cluster (keyed,
distributed); the persistence itself is O(c²) in the number of
centroids, so the gather is gated at ``max_centroids`` — above the gate
a deterministic hash-ordered subsample is taken (the reference ships an
RNG subsampler, ``deterministicSubsample`` :151-168; ``std::shuffle``
is not portable across engines, so the Spark-native bound orders by
sha256 of the cluster key — still deterministic, documented deviation).
The driver materializes at most ``max_centroids × dim`` floats — the
same scalar-class gate as the CC driver finish.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def persistence_h0(vectors) -> float:
    """Exact replica of computePersistenceH0
    (topological_quality.cpp:76-131): double-accumulated pairwise
    distances, stable ascending edge sort, union-find deaths summed over
    the first n-2 merges, normalized by the 95th-percentile distance.
    Returns 0.0 for < 2 vectors or a zero norm."""
    arr = np.asarray(vectors, dtype=np.float32)
    if arr.ndim != 2 or arr.shape[0] < 2 or arr.shape[1] == 0:
        return 0.0
    n = arr.shape[0]
    a = arr.astype(np.float64)
    # pairwise distances in (i, j) row-major order, i < j
    ii, jj = np.triu_indices(n, k=1)
    diff = a[ii] - a[jj]
    dist = np.sqrt(np.einsum("ij,ij->i", diff, diff))
    # 95th percentile = exact order statistic at floor(0.95 * (m - 1))
    m = dist.shape[0]
    idx = int(min(max(0.95 * (m - 1), 0.0), float(m - 1)))
    norm = float(np.partition(dist, idx)[idx])
    if norm <= 0.0:
        return 0.0
    order = np.argsort(dist, kind="stable")
    parent = list(range(n))
    rank = [0] * n

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    total = 0.0
    merges = 0
    max_merges = n - 2
    for e in order:
        if merges >= max_merges:
            break
        ra, rb = find(int(ii[e])), find(int(jj[e]))
        if ra == rb:
            continue
        if rank[ra] < rank[rb]:
            ra, rb = rb, ra
        parent[rb] = ra
        if rank[ra] == rank[rb]:
            rank[ra] += 1
        total += float(dist[e]) / norm
        merges += 1
    return total


def cluster_centroids_f32(
    members: DataFrame,
) -> DataFrame:
    """(cluster, n_members, centroid): float32-accumulated member-mean
    embeddings per cluster, clusters with < 2 members dropped
    (TopologyManager.cpp:670-697). One applyInPandas keyed pass."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = [
            np.asarray(v, dtype=np.float32)
            for v in pdf["embedding"]
            if v is not None and len(v) > 0
        ]
        if len(vecs) < 2:
            return pd.DataFrame(
                {"cluster": pd.Series([], dtype="object"),
                 "n_members": pd.Series([], dtype="int64"),
                 "centroid": pd.Series([], dtype="object")}
            )
        dim = len(vecs[0])
        acc = np.zeros(dim, dtype=np.float32)
        count = 0
        for v in vecs:
            if len(v) != dim:
                continue
            acc += v
            count += 1
        centroid = (acc / np.float32(count)).astype(np.float32)
        return pd.DataFrame(
            {"cluster": [str(pdf["cluster_id"].iloc[0])],
             "n_members": [count],
             "centroid": [[float(x) for x in centroid]]}
        )

    return (
        members.select(F.col("cluster_id"), F.col("embedding"))
        .groupBy("cluster_id")
        .applyInPandas(agg, schema="cluster string, n_members long, centroid array<float>")
    )


def topology_quality_stats(
    members: DataFrame,
    max_centroids: int = 4096,
) -> dict:
    """{'centroid_count': int, 'persistence': float}: the reference's
    clusterCentroidPersistence stat (TopologyManager.cpp:701-704) —
    persistence 0.0 when fewer than 2 centroids survive. The centroid
    gather is gated at ``max_centroids`` (hash-ordered deterministic
    subsample above it)."""
    cents = cluster_centroids_f32(members)
    capped = (
        cents.orderBy(F.sha2(F.col("cluster"), 256).asc(), F.col("cluster").asc())
        .limit(max_centroids)
    )
    rows = capped.select("centroid").collect()
    vecs = [r["centroid"] for r in rows]
    count = len(vecs)
    if count < 2:
        return {"centroid_count": count, "persistence": 0.0}
    dim = len(vecs[0])
    vecs = [v for v in vecs if len(v) == dim]
    return {
        "centroid_count": count,
        "persistence": persistence_h0(vecs),
    }
