"""SGC embedding smoothing before topology build.

Re-expresses ``applySGCSmoothing``
(``reference src/topology/topology_sgc.cpp:23-181``): Simple Graph
Convolution over the semantic-neighbor graph —

    X ← (D^{-1/2} (A + I) D^{-1/2})^{hops} · X

where A is the symmetric max-weight-deduped neighbor adjacency (edges
below ``min_edge_score`` dropped), the self-loop weight is 1, and
degree(i) = 1 + Σ_j w_ij — exactly the reference's normalization.

Spark recast: the normalized adjacency (including self-loops) is built
once as a scaled edge table; each hop is one distributed sparse-matrix ×
feature multiply — join the edge table to the exploded (node, dim, value)
features on the neighbor side, then sum per (node, dim). Two shuffles per
hop, O(edges · dim) work, no driver materialization: at 10^12 documents
this is the standard distributed SpMM, and the edge table's partitioning
is reused across hops via localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sgc_smooth(
    features: DataFrame,
    edges: DataFrame,
    hops: int = 2,
    cast_float32: bool = True,
) -> DataFrame:
    """(node, embedding) -> (node, embedding) smoothed; float32 output like
    the reference's stored embeddings (math in float64).

    ``cast_float32=False`` keeps float64: cross-engine comparisons need it
    because near-zero dims (sign cancellation) land within float64
    sum-order noise of a float32 rounding boundary — the float32 value is
    then not a deterministic function of the mathematical result."""
    if hops <= 0:
        return features
    e = (
        edges.select(
            F.col("src").alias("s"), F.col("dst").alias("d"),
            F.greatest(F.col("weight"), F.lit(0.0)).alias("w"),
        )
        .where((F.col("s") != F.col("d")) & (F.col("weight") >= 0.0))
    )
    # undirected max-weight dedupe (topology_sgc.cpp:87-112)
    und = (
        e.select(
            F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b"), "w"
        )
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
    )
    sym = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))

    nodes = features.select("node")
    deg = (
        nodes.join(
            sym.groupBy(F.col("src").alias("node")).agg(F.sum("w").alias("sw")),
            "node",
            "left",
        )
        .select(
            "node",
            (F.lit(1.0) + F.coalesce("sw", F.lit(0.0))).alias("degree"),
        )
        .withColumn("inv", F.lit(1.0) / F.sqrt("degree"))
    )

    # normalized adjacency incl. self loops, built once and reused per hop
    inv_s = deg.select(F.col("node").alias("src"), F.col("inv").alias("inv_s"))
    inv_d = deg.select(F.col("node").alias("dst"), F.col("inv").alias("inv_d"))
    scaled = sym.join(inv_s, "src").join(inv_d, "dst").select(
        "src", "dst", (F.col("w") * F.col("inv_s") * F.col("inv_d")).alias("scale")
    )
    self_loops = deg.select(
        F.col("node").alias("src"), F.col("node").alias("dst"),
        (F.col("inv") * F.col("inv")).alias("scale"),
    )
    adj = scaled.unionAll(self_loops).localCheckpoint(eager=False)

    dims = features.select(
        F.col("node"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    for _ in range(hops):
        dims = (
            adj.join(dims.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "pos")
            .agg(F.sum(F.col("scale") * F.col("val")).alias("val"))
            .localCheckpoint(eager=False)
        )
    out_t = "float" if cast_float32 else "double"
    return dims.groupBy("node").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))),
            lambda s: s["val"].cast(out_t),
        ).alias("embedding")
    )
