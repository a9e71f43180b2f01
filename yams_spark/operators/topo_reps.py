"""Cluster-artifact post-passes: diverse routing representatives and
SOAR-style orthogonal boundary spill.

Re-expresses ``/root/reference/src/topology/topology_representatives.cpp``
the Spark way:

* ``select_routing_representatives`` (≡ selectDiverseRoutingRepresentatives,
  :33-91) — greedy max-min (k-center / Gonzalez) selection of up to
  ``count - 1`` extra dense representatives per cluster, seeded by cosine
  distance to the centroid. The per-cluster loop is inherently
  sequential but bounded by the construction's component cap
  (``maxComponentDocs``, 64 in the production TopologyManager —
  topology_artifacts.h:80-82), so one ``applyInPandas`` keyed by cluster
  distributes perfectly: every executor runs an O(count · members)
  float64 loop on a group that fits in a few KB, and the cluster axis —
  the axis that actually grows at 100 TB — is the parallel one.
* ``orthogonal_boundary_spill`` (≡ applyOrthogonalBoundarySpill,
  :93-287) — secondary cluster assignment for boundary documents. This
  one stays entirely JVM-side: the cluster-artifact table (id, centroid,
  observed radius) is broadcast, residual norms and the residual dot
  product are ``zip_with``/``aggregate`` folds inside whole-stage
  codegen, the ratio gate and the SOAR loss
  ``|x-c|² + λ·⟨x-p, x-c⟩²/|x-p|²`` (:246-252) are plain column
  expressions, and the per-document rank is a doc-partitioned window.
  The docs × clusters fanout is a broadcast nested-loop join; the
  reference bounds it at scale with a centroid ANN shortlist (:158-164),
  which is not implemented here.

The reference's eps-tolerant loss comparator (:264-270, ties within
1e-12 fall back to cluster id) is realised as ``ORDER BY loss,
cluster_id`` — identical whenever losses are either exactly equal or
differ by more than the epsilon, which the construction guarantees for
IEEE doubles produced by identical expressions (and which the
``spill_mini`` fixture asserts explicitly).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: kResidualEpsilon (topology_representatives.cpp:118)
RESIDUAL_EPS = 1e-12

_REP_SCHEMA = (
    "cluster_id string, sel_order int, doc_hash string, sel_distance double"
)


def _cosine_distance(a: np.ndarray, b: np.ndarray) -> float:
    """cosineDistance (topology_representatives.cpp:13-29): 2.0 for
    empty/mismatched/zero-norm inputs, else 1 - clamp(cos, -1, 1).
    float64 throughout, matching the C++ double accumulators."""
    if a.size == 0 or a.size != b.size:
        return 2.0
    dot = float(np.dot(a, b))
    l2 = float(np.dot(a, a))
    r2 = float(np.dot(b, b))
    if l2 <= 0.0 or r2 <= 0.0:
        return 2.0
    return 1.0 - min(max(dot / (math.sqrt(l2) * math.sqrt(r2)), -1.0), 1.0)


def greedy_representatives(
    candidates: list[tuple[str, np.ndarray]],
    centroid: np.ndarray,
    count: int,
) -> list[tuple[str, float]]:
    """The :54-89 greedy loop on one cluster's (hash-sorted) candidates:
    selection 0 maximises distance-to-centroid; selection k>0 maximises
    ``min(previous min-distance, distance to the last selected)``. Strict
    ``>`` keeps the first candidate in hash order on ties. Returns
    (doc_hash, best_distance) pick tuples in selection order
    (best_distance is the max-min value at pick time — a useful coverage
    diagnostic the C++ keeps internal)."""
    selected: list[tuple[str, np.ndarray, float]] = []
    if count <= 1 or centroid.size == 0:
        return []
    cands = sorted(candidates, key=lambda t: t[0])
    extra = min(count - 1, len(cands))
    used = [False] * len(cands)
    min_d = [float("inf")] * len(cands)
    for sel in range(extra):
        best = -1
        best_d = -1.0
        ref = centroid if sel == 0 else selected[-1][1]
        for ci, (_h, emb) in enumerate(cands):
            if used[ci]:
                continue
            d = _cosine_distance(emb, ref)
            min_d[ci] = min(min_d[ci], d)
            if min_d[ci] > best_d:
                best_d = min_d[ci]
                best = ci
        if best < 0:
            break
        used[best] = True
        selected.append((cands[best][0], cands[best][1], best_d))
    return [(h, d) for h, _e, d in selected]


def select_routing_representatives(
    members: DataFrame,
    clusters: DataFrame,
    count: int,
) -> DataFrame:
    """(cluster_id, sel_order, doc_hash, sel_distance): up to ``count-1``
    extra routing representatives per cluster. ``clusters`` (id,
    centroid) is broadcast — it is bounded cluster metadata; the keyed
    ``applyInPandas`` shuffles members once on the cluster key."""
    joined = members.select("cluster_id", "doc_hash", "embedding").join(
        F.broadcast(clusters.select("cluster_id", "centroid")), "cluster_id"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        centroid = np.asarray(pdf["centroid"].iloc[0], dtype=np.float64)
        cands = []
        for h, emb in zip(pdf["doc_hash"], pdf["embedding"]):
            if h is None or not h or emb is None:
                continue
            v = np.asarray(emb, dtype=np.float64)
            # :44-52 — dim match + finiteness filter
            if v.size != centroid.size or not np.all(np.isfinite(v)):
                continue
            cands.append((str(h), v))
        picks = greedy_representatives(cands, centroid, count)
        return pd.DataFrame(
            {
                "cluster_id": [str(pdf["cluster_id"].iloc[0])] * len(picks),
                "sel_order": pd.Series(
                    range(1, len(picks) + 1), dtype="int32"
                ),
                "doc_hash": [h for h, _d in picks],
                "sel_distance": pd.Series(
                    [d for _h, d in picks], dtype="float64"
                ),
            }
        )

    return joined.groupBy("cluster_id").applyInPandas(pick, schema=_REP_SCHEMA)


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _fold_sum(arr):
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def _finite(col):
    return ~F.isnan(col) & (F.abs(col) < float("inf"))


def orthogonal_boundary_spill(
    memberships: DataFrame,
    clusters: DataFrame,
    documents: DataFrame,
    overlap_limit: int = 1,
    boundary_ratio: float = 1.05,
    residual_penalty: float = 1.0,
) -> DataFrame:
    """(doc_hash, primary_cluster, spill_cluster, spill_rank, loss):
    bounded secondary assignments per applyOrthogonalBoundarySpill
    (topology_representatives.cpp:93-287).

    ``memberships``: (doc_hash, cluster_id, role, overlap_cluster_ids);
    ``clusters``: (cluster_id, centroid array<float>); ``documents``:
    (doc_hash, embedding array<float>). Every other cluster is evaluated
    via the broadcast cluster table (:204-220) — correct for bounded
    cluster counts.
    """
    spark = memberships.sparkSession
    empty = spark.createDataFrame(
        [],
        "doc_hash string, primary_cluster string, spill_cluster string, "
        "spill_rank int, loss double",
    )
    # :96-101 config guard
    if (
        overlap_limit <= 0
        or not math.isfinite(boundary_ratio)
        or boundary_ratio < 1.0
        or not math.isfinite(residual_penalty)
        or residual_penalty < 0.0
    ):
        return empty
    cents = clusters.select("cluster_id", "centroid").where(F.size("centroid") > 0)
    if len(cents.limit(2).take(2)) < 2:  # :96 — fewer than 2 clusters
        return empty

    docs = documents.select("doc_hash", "embedding").where((F.col("doc_hash") != "") & (F.size("embedding") > 0))
    mem = memberships.select(
        "doc_hash",
        "cluster_id",
        "role",
        F.coalesce(F.col("overlap_cluster_ids"), F.array()).alias("ov"),
    )

    # Observed member radius² per cluster (:119-141) — one keyed agg.
    with_cent = (
        mem.join(docs, "doc_hash")
        .join(F.broadcast(cents), "cluster_id")
        .where(F.size("embedding") == F.size("centroid"))
        .withColumn(
            "r2_one",
            _fold_sum(
                F.zip_with(
                    _dbl(F.col("embedding")),
                    _dbl(F.col("centroid")),
                    lambda a, b: (a - b) * (a - b),
                )
            ),
        )
    )
    radius = (
        with_cent.where(_finite(F.col("r2_one")))
        .groupBy("cluster_id")
        .agg(F.max("r2_one").alias("cand_r2"))
    )

    # Primary residual vector + norm² and eligibility (:174-202).
    prim = (
        mem.where(F.size("ov") == 0)
        .join(docs, "doc_hash")
        .join(F.broadcast(cents), "cluster_id")
        .where(F.size("embedding") == F.size("centroid"))
        .withColumn(
            "p_res",
            F.zip_with(
                _dbl(F.col("embedding")),
                _dbl(F.col("centroid")),
                lambda a, b: a - b,
            ),
        )
        .withColumn("p2", _fold_sum(F.zip_with(
            F.col("p_res"), F.col("p_res"), lambda a, b: a * b)))
        .where(_finite(F.col("p2")))
        .where((F.col("p2") > RESIDUAL_EPS) | (F.col("role") == "outlier"))
        .select("doc_hash", F.col("cluster_id").alias("primary_cluster"),
                "embedding", "p_res", "p2")
    )

    # Candidate fanout: every other cluster via the broadcast artifact
    # table (:204-220).
    cand_cents = cents.select(
        F.col("cluster_id").alias("spill_cluster"),
        F.col("centroid").alias("cand_centroid"),
    ).join(
        radius.select(
            F.col("cluster_id").alias("spill_cluster"), "cand_r2"
        ),
        "spill_cluster",
        "left",
    ).withColumn("cand_r2", F.coalesce(F.col("cand_r2"), F.lit(0.0)))
    # bounded-cluster fanout: broadcast NLJ over cluster metadata, the
    # same full scan the reference takes under its ANN-build threshold
    # (:214-220)
    fan = prim.crossJoin(F.broadcast(cand_cents)).where(
        (F.col("spill_cluster") != F.col("primary_cluster"))
        & (F.size("cand_centroid") == F.size("embedding"))
    )

    ratio2 = boundary_ratio * boundary_ratio
    scored = (
        fan.withColumn(
            "c_res",
            F.zip_with(
                _dbl(F.col("embedding")),
                _dbl(F.col("cand_centroid")),
                lambda a, b: a - b,
            ),
        )
        .withColumn("cn2", _fold_sum(F.zip_with(
            F.col("c_res"), F.col("c_res"), lambda a, b: a * b)))
        .withColumn("rdot", _fold_sum(F.zip_with(
            F.col("p_res"), F.col("c_res"), lambda a, b: a * b)))
        .where(_finite(F.col("cn2")))
        # :246-258 — ratio gate per branch, SOAR loss
        .where(
            F.when(
                F.col("p2") > RESIDUAL_EPS,
                F.col("cn2") <= F.col("p2") * F.lit(ratio2),
            ).otherwise(
                (F.col("cand_r2") > RESIDUAL_EPS)
                & (F.col("cn2") <= F.col("cand_r2") * F.lit(ratio2))
            )
        )
        .withColumn(
            "loss",
            F.when(
                F.col("p2") > RESIDUAL_EPS,
                F.col("cn2")
                + F.lit(residual_penalty)
                * ((F.col("rdot") * F.col("rdot")) / F.col("p2")),
            ).otherwise(F.col("cn2")),
        )
        .where(_finite(F.col("loss")))
    )

    w = Window.partitionBy("doc_hash").orderBy(
        F.col("loss").asc(), F.col("spill_cluster").asc()
    )
    return (
        scored.withColumn("spill_rank", F.row_number().over(w))
        .where(F.col("spill_rank") <= overlap_limit)
        .select(
            "doc_hash", "primary_cluster", "spill_cluster",
            F.col("spill_rank").cast("int").alias("spill_rank"), "loss",
        )
    )
