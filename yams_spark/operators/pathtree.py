"""Path-tree rollup with embedding centroids.

The reference maintains ``path_tree_nodes`` with per-prefix ``doc_count``,
``centroid BLOB`` and ``centroid_weight`` (migration.cpp:1673-1707), the
centroid being the running mean of member embeddings
(``accumulatePathTreeCentroid``, path_tree_ops.cpp:220-275). The batch
recast computes the exact mean per (prefix, dimension) in one shuffle:

    posexplode(embedding) → groupBy(prefix, pos).avg → re-assemble sorted

which is the order-free equivalent of the reference's incremental mean
(the reference re-rounds through float32 at every accumulation step, so
its result is insertion-order-dependent; the batch mean is the limit all
orders approximate — the deliberate divergence is float64 all the way).

posexplode + two aggregations beats a ``dim``-wide ``array(avg(e[0]),
avg(e[1]), …)`` plan at real dimensionality: the plan stays O(1) in dim,
partial aggregation (map-side combine) applies per (prefix, pos), and no
row ever materializes dim separate aggregate buffers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def path_prefixes(path_col: str | Column) -> Column:
    """'/a/b/c' -> ['/a', '/a/b', '/a/b/c'] (up to 8 segments):
    the ancestor set a document contributes to (path_tree_nodes rows)."""
    col = F.col(path_col) if isinstance(path_col, str) else path_col
    segs = F.filter(F.split(col, "/"), lambda s: s != "")
    idx = F.sequence(F.lit(1), F.least(F.size(segs), F.lit(8)))
    return F.transform(
        idx, lambda i: F.concat(F.lit("/"), F.array_join(F.slice(segs, 1, i), "/"))
    )


def path_tree_rollup(
    docs: DataFrame,
    path_col: str = "path",
    embedding_col: str = "embedding",
    size_col: str | None = None,
) -> DataFrame:
    """(prefix, doc_count, centroid_weight, centroid[, total_size]) per
    path prefix — the path_tree_nodes table as one DataFrame pipeline.

    ``centroid_weight`` counts member embeddings (NULL embeddings are
    excluded from the centroid but still counted in doc_count, matching
    the reference's early-return on empty embeddings)."""
    pref = docs.select(
        F.explode(path_prefixes(path_col)).alias("prefix"),
        F.col(embedding_col).alias("emb"),
        *( [F.col(size_col).alias("sz")] if size_col else [] ),
    )
    counts = pref.groupBy("prefix").agg(
        F.count("*").alias("doc_count"),
        F.count("emb").alias("centroid_weight"),
        *( [F.sum("sz").alias("total_size")] if size_col else [] ),
    )
    dims = (
        pref.where(F.col("emb").isNotNull())
        .select("prefix", F.posexplode("emb").alias("pos", "val"))
        .groupBy("prefix", "pos")
        .agg(F.avg("val").alias("avg_val"))
    )
    centroids = dims.groupBy("prefix").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("avg_val")))
            ),
            lambda s: s["avg_val"],
        ).alias("centroid")
    )
    return counts.join(centroids, "prefix", "left")
