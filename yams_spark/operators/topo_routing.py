"""Topology-routed search session: query → cluster candidate routing.

Re-expresses the reference's sparse-guided cluster router + routing
session (``/root/reference/src/topology/topology_baseline.cpp:771-985``
``SparseGuidedClusterRouter::route`` and
``/root/reference/src/search/topology_routing_session.cpp:130-160,
1382-1459``) the Spark way:

* **Per-cluster route scoring** is one Catalyst projection over the
  cluster-artifact table — seed "sparse mass" arrives via a broadcast
  join from the (tiny) weighted-seed list through the membership table,
  the dense signal is the query↔centroid cosine folded JVM-side
  (``F.zip_with`` + ``F.aggregate``, no Python), and the three scoring
  modes use the reference's exact constants:

  - ``current``:       blended + 0.05·persistence          (:938)
  - ``size_weighted``: (blended + 0.05·stability + 0.05·cohesion)
                       · 1/(1+log1p(member_count))          (:941)
  - ``seed_coverage``: sparse + 0.10·dense + 0.05·persistence (:945)

  with ``blended = α·sparse_norm + (1−α)·dense`` and
  ``dense = clamp((cos+1)/2, 0, 1)`` (:884).
* **Route selection / narrowing** (min/max clusters, adaptive score gap,
  boundary-margin abstention) replicates
  ``selectTopologyRoutesForNarrowing`` driver-side over the ≤limit
  selected routes — the same bounded in-memory step the reference does.
* **Member materialization** ranks routed members entirely as a
  DataFrame (the reference's comparator at
  topology_routing_session.cpp:782-806: seed anchors first, then seed
  weight, best route score, medoid flag, first-route order, hash) and
  caps with ``orderBy().limit()``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROUTE_SCORING_MODES = ("current", "size_weighted", "seed_coverage")

def _dense_signal(centroid_col, query: list[float]):
    """clamp((cosine(query, centroid)+1)/2, 0, 1) as a Catalyst fold
    (topology_baseline.cpp:884 maps [-1,1] -> [0,1])."""
    q = F.array(*[F.lit(float(x)) for x in query])
    emb = F.transform(centroid_col, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(emb, q, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    n1 = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x))
    n2 = math.sqrt(sum(float(x) * float(x) for x in query))
    cos = F.when((n1 > 0) & (F.lit(n2) > 0), dot / (n1 * F.lit(n2))).otherwise(
        F.lit(0.0)
    )
    return F.least(F.greatest((cos + 1.0) * 0.5, F.lit(0.0)), F.lit(1.0))


def route_clusters(
    spark: SparkSession,
    clusters: DataFrame,
    memberships: DataFrame,
    query_embedding=None,
    weighted_seeds: dict[str, float] | None = None,
    alpha: float = 0.5,
    scoring_mode: str = "current",
    limit: int = 0,
    hotzone: DataFrame | None = None,
    hotzone_weight: float = 0.0,
) -> DataFrame:
    """clusters (cluster_id, member_count, persistence, cohesion, centroid
    [, medoid_hash]) × memberships (doc_hash, cluster_id) → scored routes.

    Output: (cluster_id, route_score, semantic_cost, sparse_cost,
    persistence_penalty, cohesion_penalty, size_penalty, member_count,
    rk) ordered by route_score desc / cluster_id asc
    (topology_baseline.cpp:966-971), optionally truncated to ``limit``.

    ``alpha`` blends sparse seed mass with the dense centroid signal;
    ``alpha >= 1`` skips the dense computation entirely, exactly like the
    reference (:871, :889).

    ``hotzone`` (cluster_id, boost in [1, 2]) composes the repo's
    recency-boost surface (streaming/hotzone.py, hotzone_manager.h:15-59)
    onto routing the same way hybrid_search applies it to fused scores:
    route_score' = route_score · (1 + hotzone_weight · (boost − 1)).
    The reference keeps hotzones in the member-level rescorer only; this
    cluster-level composition is the stated extension.
    """
    if scoring_mode not in ROUTE_SCORING_MODES:
        raise ValueError(f"scoring_mode must be one of {ROUTE_SCORING_MODES}")
    alpha = min(max(float(alpha), 0.0), 1.0)

    out = clusters
    # --- sparse mass: tiny seed list broadcast through memberships ---
    if weighted_seeds:
        seeds = spark.createDataFrame(
            [(h, float(w)) for h, w in weighted_seeds.items() if w > 0],
            "doc_hash string, weight double",
        )
        mass = (
            memberships.join(F.broadcast(seeds), "doc_hash")
            .groupBy("cluster_id")
            .agg(F.sum("weight").alias("sparse_mass"))
        )
        out = out.join(mass, "cluster_id", "left").withColumn(
            "sparse_mass", F.coalesce(F.col("sparse_mass"), F.lit(0.0))
        )
        # 1-row broadcast of the max mass (the repo's sanctioned pattern
        # for scalar normalizers — no driver round-trip, no global window)
        mx = mass.agg(F.max("sparse_mass").alias("max_mass"))
        out = out.crossJoin(F.broadcast(mx)).withColumn(
            "sparse_norm",
            F.when(
                F.col("max_mass") > 0, F.col("sparse_mass") / F.col("max_mass")
            ).otherwise(F.lit(0.0)),
        )
    else:
        out = out.withColumn("sparse_mass", F.lit(0.0)).withColumn(
            "sparse_norm", F.lit(0.0)
        )

    # --- dense signal: centroid cosine, JVM fold ---
    has_query = (
        query_embedding is not None
        and len(query_embedding) > 0
        and alpha < 1.0
        and float(np.linalg.norm(np.asarray(query_embedding, dtype=np.float64))) > 0
    )
    if has_query:
        q = [float(x) for x in query_embedding]
        out = out.withColumn("dense", _dense_signal(F.col("centroid"), q))
        out = out.withColumn("dense_observed", F.lit(True))
    else:
        out = out.withColumn("dense", F.lit(0.0)).withColumn(
            "dense_observed", F.lit(False)
        )

    stability = F.least(F.greatest(F.col("persistence"), F.lit(0.0)), F.lit(1.0))
    cohesion = F.least(F.greatest(F.col("cohesion"), F.lit(0.0)), F.lit(1.0))
    size_damp = 1.0 / (1.0 + F.log1p(F.col("member_count").cast("double")))
    blended = F.lit(alpha) * F.col("sparse_norm") + F.lit(1.0 - alpha) * F.col("dense")
    if scoring_mode == "size_weighted":
        score = (blended + 0.05 * stability + 0.05 * cohesion) * size_damp
    elif scoring_mode == "seed_coverage":
        score = (
            F.col("sparse_norm") + 0.10 * F.col("dense")
            + F.col("persistence") * 0.05
        )
    else:
        score = blended + F.col("persistence") * 0.05

    if hotzone is not None and hotzone_weight > 0.0:
        out = out.join(
            F.broadcast(hotzone.select("cluster_id", "boost")), "cluster_id", "left"
        )
        score = score * (
            1.0
            + F.lit(float(hotzone_weight))
            * (F.coalesce(F.col("boost"), F.lit(1.0)) - 1.0)
        )

    scored = out.select(
        "cluster_id",
        score.alias("route_score"),
        F.when(F.col("dense_observed"), 1.0 - F.col("dense"))
        .otherwise(F.lit(None).cast("double"))
        .alias("semantic_cost"),
        F.when(F.col("max_mass") > 0, 1.0 - F.col("sparse_norm"))
        .otherwise(F.lit(None).cast("double"))
        .alias("sparse_cost")
        if weighted_seeds
        else F.lit(None).cast("double").alias("sparse_cost"),
        (1.0 - stability).alias("persistence_penalty"),
        (1.0 - cohesion).alias("cohesion_penalty"),
        (1.0 - size_damp).alias("size_penalty"),
        "member_count",
    )
    order = [F.col("route_score").desc(), F.col("cluster_id").asc()]
    if limit and limit > 0:
        scored = scored.orderBy(*order).limit(limit)
    from yams_spark.operators.search import global_rank

    return global_rank(scored, order, "rk")


def select_routes_for_narrowing(
    routes: list[dict],
    min_clusters: int,
    max_clusters: int,
    adaptive_score_gap: float = 0.0,
    min_boundary_margin: float = 0.0,
) -> dict:
    """Exact replica of ``selectTopologyRoutesForNarrowing``
    (topology_routing_session.cpp:130-160) over the ≤limit scored routes
    (already sorted by route_score desc / cluster_id asc).

    Returns {routes, available_routes, boundary_score_margin, abstained}.
    """
    sel = {
        "routes": [],
        "available_routes": len(routes),
        "boundary_score_margin": 0.0,
        "abstained": False,
    }
    if not routes:
        return sel
    effective_max = len(routes) if max_clusters == 0 else min(max_clusters, len(routes))
    effective_min = min(effective_max, max(1, min_clusters))
    selected = effective_max
    if adaptive_score_gap > 0.0:
        selected = effective_min
        best = routes[0]["route_score"]
        while (
            selected < effective_max
            and best - routes[selected]["route_score"] <= adaptive_score_gap
        ):
            selected += 1
    sel["routes"] = routes[:selected]
    if selected < len(routes):
        sel["boundary_score_margin"] = (
            routes[selected - 1]["route_score"] - routes[selected]["route_score"]
        )
        sel["abstained"] = (
            min_boundary_margin > 0.0
            and sel["boundary_score_margin"] < min_boundary_margin
        )
    return sel


def routed_members(
    memberships: DataFrame,
    selected: list[dict],
    seed_weights: dict[str, float] | None = None,
    max_docs: int = 0,
) -> DataFrame:
    """Materialize the allowed member set of the selected routes, ranked by
    the reference comparator (topology_routing_session.cpp:782-806): seed
    anchors first, then seed weight, best route score, medoid flag,
    first-route order, doc hash — as one DataFrame sort + limit.

    ``selected``: rows from ``select_routes_for_narrowing`` (dicts with
    cluster_id, route_score, optionally medoid_hash). Returns
    (doc_hash, best_route_score, is_seed, seed_weight, is_medoid,
    first_route), ordered by the comparator.
    """
    spark = memberships.sparkSession
    if not selected:
        return spark.createDataFrame(
            [],
            "doc_hash string, best_route_score double, is_seed boolean, "
            "seed_weight double, is_medoid boolean, first_route int",
        )
    routes_df = spark.createDataFrame(
        [
            (
                r["cluster_id"],
                float(r["route_score"]),
                r.get("medoid_hash"),
                i,
            )
            for i, r in enumerate(selected)
        ],
        "cluster_id string, route_score double, medoid_hash string, route_idx int",
    )
    m = memberships.join(F.broadcast(routes_df), "cluster_id").groupBy(
        "doc_hash"
    ).agg(
        F.max("route_score").alias("best_route_score"),
        F.max(
            (F.col("doc_hash") == F.col("medoid_hash")).cast("int")
        ).alias("_medoid"),
        F.min("route_idx").alias("first_route"),
    )
    if seed_weights:
        seeds = spark.createDataFrame(
            [(h, float(w)) for h, w in seed_weights.items()],
            "doc_hash string, seed_weight double",
        )
        m = m.join(F.broadcast(seeds), "doc_hash", "left")
    else:
        m = m.withColumn("seed_weight", F.lit(None).cast("double"))
    m = m.select(
        "doc_hash",
        "best_route_score",
        F.col("seed_weight").isNotNull().alias("is_seed"),
        F.coalesce(F.col("seed_weight"), F.lit(0.0)).alias("seed_weight"),
        (F.col("_medoid") == 1).alias("is_medoid"),
        "first_route",
    )
    order = [
        F.col("is_seed").desc(),
        F.col("seed_weight").desc(),
        F.col("best_route_score").desc(),
        F.col("is_medoid").desc(),
        F.col("first_route").asc(),
        F.col("doc_hash").asc(),
    ]
    if max_docs and max_docs > 0:
        m = m.orderBy(*order).limit(max_docs)
    else:
        m = m.orderBy(*order)
    return m


#: runTopologyAssistStage seed admission predicates
#: (search_topology_stage.cpp:12-22)
LEXICAL_SEED_SOURCES = ("text", "simeon_text", "graph_text")
VECTOR_SEED_SOURCES = ("vector", "graph_vector", "entity_vector")


def rank_seed_evidence(
    components: DataFrame,
    sources: tuple[str, ...] = LEXICAL_SEED_SOURCES,
    max_seeds: int = 32,
) -> DataFrame:
    """Weighted topology seeds from component evidence
    (``rankSeedEvidence``, search_topology_stage.cpp:26-65): per doc the
    best rank-discounted weight ``score / (1 + ln(rank + 2))`` over the
    accepted sources — empty hashes and non-finite or <= 0 scores skip —
    ordered weight desc / hash asc and capped at ``max_seeds``. One
    keyed max-agg plus a TakeOrderedAndProject; double precision (the
    reference folds in float32 — same documented policy as route
    scoring upstream)."""
    if max_seeds <= 0:
        return (
            components.select(
                F.col("doc_hash"), F.lit(0.0).alias("weight")
            ).limit(0)
        )
    w = F.col("score") / (
        F.lit(1.0) + F.log1p(F.col("rank").cast("double") + F.lit(1.0))
    )
    cand = (
        components.filter(
            F.col("doc_hash").isNotNull()
            & (F.col("doc_hash") != "")
            & F.col("score").isNotNull()
            & ~F.isnan(F.col("score"))
            & (F.abs(F.col("score")) != F.lit(float("inf")))
            & (F.col("score") > 0.0)
            & F.col("source").isin(list(sources))
        )
        .select(F.col("doc_hash"), w.alias("w"))
    )
    return (
        cand.groupBy("doc_hash")
        .agg(F.max("w").alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("doc_hash").asc())
        .limit(int(max_seeds))
    )


def merge_topology_seed_hashes(
    tier1: DataFrame, vector_seeds: DataFrame, max_vector_seeds: int
) -> DataFrame:
    """Enriched seed list (``mergeTopologySeedHashes``,
    search_topology_stage.cpp:80-112): every tier-1 seed in ranked
    order, then up to ``max_vector_seeds`` vector seeds NOT already
    present, in their own ranked order (0 adds none, not unlimited).
    Inputs are ``rank_seed_evidence`` frames (distinct ``doc_hash`` +
    ``weight``); output ``(ord, doc_hash, origin, weight)``. The
    frames are <= max_seeds rows, so the single count() scalar and the
    range-partitioned ranks are bounded."""
    from yams_spark.operators.search import global_rank

    order = [F.col("weight").desc(), F.col("doc_hash").asc()]
    t1 = global_rank(tier1, order, "ord").select(
        "ord", "doc_hash", F.lit("tier1").alias("origin"), "weight"
    )
    if max_vector_seeds <= 0:
        return t1
    n1 = t1.count()  # bounded scalar: <= the tier-1 seed cap
    vadd = global_rank(
        vector_seeds.join(tier1.select("doc_hash"), "doc_hash", "left_anti"),
        order,
        "vord",
    ).filter(F.col("vord") <= int(max_vector_seeds))
    return t1.unionByName(
        vadd.select(
            (F.col("vord") + F.lit(n1)).alias("ord"),
            "doc_hash",
            F.lit("vector").alias("origin"),
            "weight",
        )
    )
