"""Topology input extraction + the Phase V feature composer, and the
protected relation observation set.

Reference:

* ``src/topology/topology_input_extractor.cpp`` — turns the corpus into
  ``TopologyDocumentInput`` rows (doc hash, composed feature vector,
  capped semantic-neighbor list, metadata):

  - ``aggregateEmbedding`` (:397-430): a DOCUMENT-level vector record
    wins outright (first non-empty in record order); otherwise the mean
    of the chunk records whose dimension matches the FIRST non-empty
    record's dimension.
  - ``collectNeighborsForDocument`` (:432-506): bidirectional
    ``semantic_neighbor`` edges, outgoing max-weight dedup per
    destination, ``reciprocal`` = an incoming edge from that
    destination exists, score-desc / hash-asc order, capped at
    ``maxNeighborsPerDocument``. (The reference additionally bounds the
    edge FETCH at ``max(4*maxN, maxN)`` rows in store order; here the
    whole edge set is the scan.)
  - ``computeVarianceWeights`` (:114-165): per-dimension population
    variance over the first ≤4096 sample embeddings, top-``targetDim``
    dims by variance, weight = sqrt(var) in a dense full-dim vector
    (zeros elsewhere). The C++ ``partial_sort`` is unstable on exact
    variance ties; we break ties by dimension index ascending (stated
    divergence — fixtures keep variances distinct).
  - ``applyMatryoshkaCoarse`` (:167-187): keep the weighted dims in
    index order, scale by weight, L2-normalize.
  - ``bucketCountSketch`` (:192-203): MinHash signature → ``sig[i] %
    sketchDim`` bucket counts, L2-normalized; empty signature → empty.
  - ``buildEntityTypeIndex`` (:218-299): corpus top-K canonical
    (lowercased) entity types by document frequency — each type counts
    once per doc — after dropping the uninformative types
    date/time/number/percentage/ordinal (:92-96) and entities below
    ``entityMinConfidence``; ties break lexicographically (:287-291).
  - ``buildEntityTypeSignature`` (:302-341): per-doc confidence-weighted
    type histogram over the top-K axes (missing confidence contributes
    1.0), L2-normalized; no contributing entity → empty.
  - ``composeFeatureVector`` (:344-388): weighted concat
    ``[α_d·dense | α_e·entity_sig | α_m·minhash_sketch]`` with
    ``α_d = max(0, 1-α_e-α_m)``; every branch a no-op when disabled or
    empty, all-off reproduces the dense-only V0 baseline.

* ``src/topology/protected_relation_cover.cpp`` —
  ``protectedRelationConstructionIdentity`` (:13-63): the undirected
  max-score observation set (in-corpus, non-self, optionally
  reciprocal-only, ``score >= minEdgeScore``; TopologyBuildConfig
  defaults reciprocalOnly=true / minEdgeScore=0,
  topology_artifacts.h:78-83).

Float discipline: the C++ runs float32 with double accumulators for the
L2 norms. Spark computes in double and casts to float at exactly the
points the C++ truncates (after each scaled multiply, after each
normalize division, after the mean division) — a single correctly
rounded operation matches float32 arithmetic bit-for-bit whenever the
inputs are float-representable, which the tests' numpy float32 twins
assert. Everything per-row is Catalyst higher-order functions; the only
driver-resident state is the full-dim weight vector (≤ embedding dim
floats).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "FeatureComposition",
    "FILTERED_ENTITY_TYPES",
    "aggregate_doc_embeddings",
    "collect_topology_neighbors",
    "variance_weights",
    "matryoshka_coarse_col",
    "minhash_bucket_sketch_col",
    "entity_type_index",
    "entity_type_signatures",
    "compose_features",
    "l2_normalize_col",
    "protected_relation_observations",
]

#: topology_input_extractor.cpp:92-96 — types uninformative for topical
#: clustering (matched against the canonicalized kg_nodes.type).
FILTERED_ENTITY_TYPES = ("date", "time", "number", "percentage", "ordinal")


@dataclass(frozen=True)
class FeatureComposition:
    """topology_input_extractor.h FeatureComposition (defaults verbatim)."""

    enable_entity_fusion: bool = False
    entity_signature_k: int = 16
    entity_fusion_alpha: float = 0.25
    entity_min_confidence: float = 0.45
    enable_matryoshka: bool = False
    matryoshka_target_dim: int = 1024
    enable_minhash_sketch: bool = False
    minhash_sketch_dim: int = 16
    minhash_alpha: float = 0.10


def _f32(c: Column) -> Column:
    return c.cast("float")


def l2_normalize_col(v: Column) -> Column:
    """l2NormalizeInPlace (:98-110): double sum of squares, float norm,
    float division; sumSq <= 0 leaves the vector unchanged."""
    sumsq = F.aggregate(
        v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    norm = _f32(F.sqrt(sumsq)).cast("double")
    return F.when(sumsq <= 0.0, v).otherwise(
        F.transform(v, lambda x: _f32(x.cast("double") / norm))
    )


def aggregate_doc_embeddings(vectors: DataFrame) -> DataFrame:
    """aggregateEmbedding (:397-430) over a vector-record table.

    Record order is ``seq`` (the store's retrieval order). The first
    non-empty DOCUMENT-level record wins; otherwise chunk records are
    averaged, where the first non-empty record fixes the dimension and
    mismatched records are skipped. Mean = sum/contributing — computed
    as a double average over position-exploded rows (one shuffle keyed
    by (doc, pos); map-side combined), cast to float at the division
    point like the C++.
    """
    nonempty = vectors.where(F.size("embedding") > 0)
    doclvl = (
        nonempty.where(F.col("level") == "document")
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("doc_hash").orderBy(F.col("seq").asc())
            ),
        )
        .where(F.col("_rk") == 1)
        .select("doc_hash", "embedding")
    )
    # Chunk aggregate for docs with no document-level record.
    rest = nonempty.join(doclvl.select("doc_hash"), on="doc_hash", how="left_anti")
    ref_dim = rest.groupBy("doc_hash").agg(
        F.min_by(F.size("embedding"), F.col("seq")).alias("_dim")
    )
    contrib = rest.join(ref_dim, on="doc_hash").where(
        F.size("embedding") == F.col("_dim")
    )
    pos = contrib.select(
        "doc_hash", F.posexplode("embedding").alias("_pos", "_val")
    )
    means = (
        pos.groupBy("doc_hash", "_pos")
        .agg(_f32(F.avg(F.col("_val").cast("double"))).alias("_mean"))
        .groupBy("doc_hash")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_pos", "_mean"))
            ).alias("_pm")
        )
        .select(
            "doc_hash",
            F.transform(F.col("_pm"), lambda s: s["_mean"]).alias(
                "embedding"
            ),
        )
    )
    return doclvl.unionByName(means)


def collect_topology_neighbors(
    edges: DataFrame,
    nodes: DataFrame,
    max_neighbors: int = 32,
) -> DataFrame:
    """collectNeighborsForDocument (:432-506) for every document at once.

    ``edges``: (src_node_id, dst_node_id, weight) —
    semantic_neighbor rows. ``nodes``: (node_id, node_key). Only
    ``doc:``-prefixed destinations survive (:479-481). The whole edge
    set is the scan: the reference's per-node fetch bound
    ``max(4*maxN, maxN)`` (:436-438) is not applied.
    """
    touched = edges.select(
        F.col("src_node_id"),
        F.col("dst_node_id"),
        F.col("weight"),
        F.explode(
            F.array_distinct(
                F.array(F.col("src_node_id"), F.col("dst_node_id"))
            )
        ).alias("anchor"),
    )
    outgoing = (
        touched.where(F.col("anchor") == F.col("src_node_id"))
        .groupBy(F.col("anchor"), F.col("dst_node_id"))
        .agg(F.max("weight").alias("score"))
    )
    incoming = (
        touched.where(F.col("anchor") == F.col("dst_node_id"))
        .select("anchor", F.col("src_node_id").alias("in_id"))
        .distinct()
    )
    doc_nodes = nodes.where(F.col("node_key").startswith("doc:")).select(
        F.col("node_id"),
        F.expr("substring(node_key, 5)").alias("n_doc_hash"),
    )
    scored = (
        outgoing.join(
            doc_nodes, outgoing["dst_node_id"] == doc_nodes["node_id"]
        )
        .join(
            incoming.withColumnRenamed("anchor", "a2"),
            (F.col("anchor") == F.col("a2"))
            & (F.col("dst_node_id") == F.col("in_id")),
            "left",
        )
        .select(
            F.col("anchor").alias("src_node_id"),
            F.col("n_doc_hash").alias("neighbor_doc_hash"),
            "score",
            F.col("in_id").isNotNull().alias("reciprocal"),
        )
    )
    w = Window.partitionBy("src_node_id").orderBy(
        F.col("score").desc(), F.col("neighbor_doc_hash").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= max_neighbors)
        .withColumnRenamed("_rk", "neighbor_rank")
    )


def variance_weights(
    embeddings: DataFrame,
    target_dim: int = 0,
    sample_cap: int = 4096,
    order_col: str = "doc_hash",
) -> list[float]:
    """computeVarianceWeights (:114-165): dense full-dim weight vector,
    sqrt(population variance) on the top-``target_dim`` variance dims,
    zeros elsewhere; empty when disabled or target >= full dim.

    Sample = first ``sample_cap`` non-empty embeddings by ``order_col``
    (the C++ takes the first 4096 in document order, :596-606); the
    full dimension is the first sample row's (:119). Returns a plain
    Python list — it is by construction at most one embedding's worth
    of floats, the one piece of driver-resident state the composer
    needs (the C++ holds the same vector in memory).
    """
    if target_dim <= 0:
        return []
    sample = (
        embeddings.where(F.size("embedding") > 0)
        .orderBy(F.col(order_col).asc())
        .limit(sample_cap)
    )
    first = sample.select(F.size("embedding").alias("d")).head(1)
    if not first:
        return []
    full_dim = first[0]["d"]
    if target_dim >= full_dim:
        return []
    stats = (
        sample.where(F.size("embedding") == full_dim)
        .select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.avg(F.col("val").cast("double")).alias("mean"),
            F.avg(
                F.col("val").cast("double") * F.col("val").cast("double")
            ).alias("meansq"),
        )
        .select("pos", (F.col("meansq") - F.col("mean") * F.col("mean")).alias("var"))
        .collect()
    )
    if not stats:
        return []
    var = {r["pos"]: max(r["var"], 0.0) for r in stats}
    ranked = sorted(var.items(), key=lambda kv: (-kv[1], kv[0]))
    weights = [0.0] * full_dim
    import math

    import numpy as np

    for pos, v in ranked[:target_dim]:
        weights[pos] = float(np.float32(math.sqrt(v)))
    return weights


def matryoshka_coarse_col(
    emb: Column, weights: list[float], target_dim: int
) -> Column:
    """applyMatryoshkaCoarse (:167-187): keep the positive-weight dims in
    index order, scale, L2-normalize; shape mismatches return the dense
    vector unchanged."""
    if not weights or target_dim <= 0 or target_dim >= len(weights):
        return emb
    wlit = F.array(*[F.lit(float(w)).cast("double") for w in weights])
    scaled = F.zip_with(
        emb, wlit, lambda x, w: F.struct(
            _f32(x.cast("double") * w).alias("v"), (w > 0.0).alias("keep")
        )
    )
    coarse = F.transform(
        F.filter(scaled, lambda s: s["keep"]), lambda s: s["v"]
    )
    return F.when(
        F.size(emb) == len(weights), l2_normalize_col(coarse)
    ).otherwise(emb)


def minhash_bucket_sketch_col(sig: Column, sketch_dim: int) -> Column:
    """bucketCountSketch (:192-203): sig[i] % dim bucket counts over a
    uint32 MinHash signature, L2-normalized; empty sig → empty array."""
    if sketch_dim <= 0:
        return F.array().cast("array<float>")
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(sketch_dim - 1)),
        lambda b: _f32(
            F.size(F.filter(sig, lambda s: s % sketch_dim == b.cast("bigint")))
        ),
    )
    return F.when(
        F.size(sig) == 0, F.array().cast("array<float>")
    ).otherwise(l2_normalize_col(counts))


def entity_type_index(
    doc_entities: DataFrame,
    kg_nodes: DataFrame,
    k: int,
    min_confidence: float = 0.45,
) -> DataFrame:
    """buildEntityTypeIndex (:218-299): corpus top-K canonical entity
    types by document frequency (once per doc), low-confidence and
    filtered types dropped, count-desc / type-asc, 0-based axis index.

    ``doc_entities``: (doc_id, node_id, confidence). ``kg_nodes``:
    (node_id, type). Returns (entity_type, axis_idx, n_docs).
    """
    typed = kg_nodes.select(
        "node_id", F.lower(F.col("type")).alias("entity_type")
    ).where(
        F.col("entity_type").isNotNull()
        & (F.col("entity_type") != "")
        & ~F.col("entity_type").isin(*FILTERED_ENTITY_TYPES)
    )
    kept = doc_entities.where(
        F.col("node_id").isNotNull()
        & (
            F.col("confidence").isNull()
            | (F.col("confidence") >= F.lit(min_confidence))
        )
    )
    counts = (
        kept.join(typed, on="node_id")
        .select("doc_id", "entity_type")
        .distinct()
        .groupBy("entity_type")
        .agg(F.count("*").alias("n_docs"))
    )
    from yams_spark.operators.search import global_rank

    ranked = global_rank(
        counts,
        [F.col("n_docs").desc(), F.col("entity_type").asc()],
        "_rk",
    )
    return (
        ranked.where(F.col("_rk") <= k)
        .select(
            "entity_type", (F.col("_rk") - 1).alias("axis_idx"), "n_docs"
        )
    )


def entity_type_signatures(
    doc_entities: DataFrame,
    kg_nodes: DataFrame,
    index: DataFrame,
    min_confidence: float = 0.45,
    k: int | None = None,
) -> DataFrame:
    """buildEntityTypeSignature (:302-341) for every document at once:
    confidence-weighted axis histogram (missing confidence = 1.0),
    L2-normalized; docs with no contributing entity get NO row (the C++
    returns the empty vector)."""
    axes = index.select("entity_type", "axis_idx")
    n_axes = k if k is not None else axes.count()
    typed = kg_nodes.select(
        "node_id", F.lower(F.col("type")).alias("entity_type")
    )
    kept = doc_entities.where(
        F.col("node_id").isNotNull()
        & (
            F.col("confidence").isNull()
            | (F.col("confidence") >= F.lit(min_confidence))
        )
    )
    buckets = (
        kept.join(typed, on="node_id")
        .join(axes, on="entity_type")
        .groupBy("doc_id", "axis_idx")
        .agg(
            F.sum(
                F.coalesce(F.col("confidence").cast("double"), F.lit(1.0))
            ).alias("mass")
        )
    )
    dense = (
        buckets.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("axis_idx", "mass"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_axes - 1)),
                lambda i: _f32(
                    F.coalesce(
                        F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)
                    )
                ),
            ).alias("raw_sig"),
        )
    )
    return dense.select(
        "doc_id", l2_normalize_col(F.col("raw_sig")).alias("entity_sig")
    )


def compose_features(
    df: DataFrame,
    cfg: FeatureComposition,
    weights: list[float] | None = None,
) -> DataFrame:
    """composeFeatureVector (:344-388): the weighted concat. NULL/empty
    branch columns are no-ops, exactly like the C++ empty vectors; an
    empty dense embedding short-circuits (:349-351)."""
    import numpy as np

    dense: Column = F.col("embedding")
    if (
        cfg.enable_matryoshka
        and weights
        and cfg.matryoshka_target_dim > 0
        and cfg.matryoshka_target_dim < len(weights)
    ):
        # Per-row gate (:353-354): rows whose dense dim the target does
        # not undercut fall back to the plain L2-normalize branch.
        dense = F.when(
            F.lit(cfg.matryoshka_target_dim) < F.size(dense),
            matryoshka_coarse_col(dense, weights, cfg.matryoshka_target_dim),
        ).otherwise(l2_normalize_col(dense))
    else:
        dense = l2_normalize_col(dense)

    ent = (
        F.coalesce(F.col("entity_sig"), F.array().cast("array<float>"))
        if cfg.enable_entity_fusion
        else F.array().cast("array<float>")
    )
    mh = (
        F.coalesce(F.col("minhash_sketch"), F.array().cast("array<float>"))
        if cfg.enable_minhash_sketch
        else F.array().cast("array<float>")
    )
    entity_on = F.size(ent) > 0
    minhash_on = F.size(mh) > 0
    a_e32 = np.float32(cfg.entity_fusion_alpha)
    a_m32 = np.float32(cfg.minhash_alpha)
    alpha_e = F.when(entity_on, F.lit(float(a_e32))).otherwise(F.lit(0.0))
    alpha_m = F.when(minhash_on, F.lit(float(a_m32))).otherwise(F.lit(0.0))
    # alphaD = max(0, 1 - αE - αM) in float32 (:368-370).
    alpha_d = _f32(
        F.greatest(F.lit(0.0), _f32(F.lit(1.0) - alpha_e - alpha_m))
    ).cast("double")
    composed = F.concat(
        F.transform(dense, lambda x: _f32(x.cast("double") * alpha_d)),
        F.transform(ent, lambda x: _f32(x.cast("double") * alpha_e)),
        F.transform(mh, lambda x: _f32(x.cast("double") * alpha_m)),
    )
    out = (
        F.when(F.size(F.col("embedding")) == 0, F.col("embedding").cast("array<float>"))
        .when(~entity_on & ~minhash_on, dense)
        .otherwise(composed)
    )
    return df.withColumn("composed", out)


# ---------------------------------------------------------------------------
# Protected-relation observation set
# ---------------------------------------------------------------------------


def protected_relation_observations(
    neighbors: DataFrame,
    reciprocal_only: bool = True,
    min_edge_score: float = 0.0,
) -> DataFrame:
    """protectedRelationConstructionIdentity's observation set
    (protected_relation_cover.cpp:22-40): gate (non-empty, non-self,
    neighbor present as a document row, reciprocal when configured,
    score >= minEdgeScore as float), fold to undirected max-score pairs
    (lhs < rhs). One semi-join + one keyed max — fully distributed."""
    import numpy as np

    corpus = neighbors.select(F.col("doc_hash").alias("_h")).distinct()
    gated = neighbors.where(
        (F.col("doc_hash") != "")
        & (F.col("neighbor_doc_hash") != "")
        & (F.col("doc_hash") != F.col("neighbor_doc_hash"))
        & (
            F.col("score")
            >= F.lit(float(np.float32(min_edge_score))).cast("float")
        )
    )
    if reciprocal_only:
        gated = gated.where(F.col("reciprocal"))
    gated = gated.join(
        corpus, gated["neighbor_doc_hash"] == corpus["_h"], "left_semi"
    )
    return (
        gated.select(
            F.least(F.col("doc_hash"), F.col("neighbor_doc_hash")).alias("lhs"),
            F.greatest(F.col("doc_hash"), F.col("neighbor_doc_hash")).alias("rhs"),
            F.col("score"),
        )
        .groupBy("lhs", "rhs")
        .agg(F.max("score").alias("score"))
    )
