"""Knowledge-graph relation summaries + document-topology analysis.

Re-expresses two reference KG analytics
(``/root/reference/src/metadata/kg_relation_summary.cpp`` and
``/root/reference/src/metadata/kg_topology_analysis.cpp``) as batch
dataflow:

- ``collectFileRelationSummary`` (kg_relation_summary.cpp:126-221) walks
  one file at a time: expand its path/hash into the legacy+canonical
  node-key variants, fetch bidirectional edges per node, dedup by edge id
  (or a synthetic ``src:dst:relation`` key for id-less edges), normalize
  relation names, count, and keep the top-N. Here the SAME summary runs
  for EVERY file in one plan: key expansion is an ``explode``, the edge
  fetch is two equi-joins (src side + dst side) unioned, and the top-N
  cut is a ``row_number`` window partitioned by file — per-file heaps
  become one shuffle on (file, relation).
- ``analyzeDocumentTopology`` (kg_topology_analysis.cpp:64-213) builds
  the whole semantic_neighbor graph in driver memory (node index, pair
  hash sets, union-find). Here directed pairs are a distinct projection,
  undirected pairs a least/greatest distinct, reciprocity a self
  semi-join, and components run through the shared hybrid
  ``connected_components`` (driver union-find under the edge gate,
  large-star/small-star above it) — nothing scales with corpus size on
  the driver.

Stated deviation: the reference caps the per-node edge fetch at
``edgeLimit`` in SQLite scan order (kg_relation_summary.cpp:172), which
is storage-order-dependent; the dataflow version reads all edges so the
summary is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yams_spark.operators.clustering import connected_components

__all__ = [
    "normalize_relation_expr",
    "expand_file_node_keys",
    "file_relation_summaries",
    "analyze_document_topology",
]

#: canonical relation aliases (kg_relation_summary.cpp:101-123)
RELATION_ALIASES = {
    "call": "calls",
    "include": "includes",
    "inherit": "inherits",
    "implement": "implements",
    "reference": "references",
    "rename_to": "renamed_to",
    "rename_from": "renamed_from",
    "move_to": "moved_to",
    "move_from": "moved_from",
    "version": "has_version",
    "blob_version": "has_version",
}


def normalize_relation_expr(col) -> F.Column:
    """``normalizeRelationName`` (kg_relation_summary.cpp:81-124) as a
    Catalyst expression: trim, per-char lowercase with '-'/whitespace →
    '_' (not collapsed — the C++ maps each char), then the canonical
    alias table. Whitespace-only input normalizes to ''."""
    col = F.col(col) if isinstance(col, str) else col
    trimmed = F.regexp_replace(col, r"^\s+|\s+$", "")
    norm = F.regexp_replace(F.lower(trimmed), r"[\s\-]", "_")
    expr = None
    for raw, canon in RELATION_ALIASES.items():
        cond = norm == raw
        expr = F.when(cond, F.lit(canon)) if expr is None else expr.when(cond, F.lit(canon))
    return expr.otherwise(norm)


def expand_file_node_keys(path_col, hash_col=None) -> F.Column:
    """Node-key variant expansion (kg_relation_summary.cpp:19-77):
    a path yields its ``path:file:`` + legacy ``file:`` forms, a hash its
    ``doc:`` + ``blob:`` forms; already-prefixed inputs re-derive the
    sibling form. Returns an array column (empty/NULL inputs contribute
    nothing) — explode it to join against kg node keys."""
    path_col = F.col(path_col) if isinstance(path_col, str) else path_col

    def _pair(c, pre_a: str, pre_b: str) -> F.Column:
        raw = F.when(
            c.startswith(pre_a), F.substring(c, len(pre_a) + 1, 1 << 20)
        ).when(
            c.startswith(pre_b), F.substring(c, len(pre_b) + 1, 1 << 20)
        ).otherwise(c)
        return F.when(
            c.isNull() | (c == ""), F.array().cast("array<string>")
        ).otherwise(
            F.array_compact(
                F.array(
                    F.when(raw != "", F.concat(F.lit(pre_a), raw)),
                    F.when(raw != "", F.concat(F.lit(pre_b), raw)),
                )
            )
        )

    keys = _pair(path_col, "path:file:", "file:")
    if hash_col is not None:
        hash_col = F.col(hash_col) if isinstance(hash_col, str) else hash_col
        keys = F.concat(keys, _pair(hash_col, "doc:", "blob:"))
    return F.array_distinct(keys)


def file_relation_summaries(
    files: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    top_limit: int = 5,
) -> DataFrame:
    """Per-file relation summary for every file at once
    (kg_relation_summary.cpp:126-221). ``files``: (file_id, path[,
    hash]); ``nodes``: (node_key, node_id); ``edges``: (edge_id,
    src_node_id, dst_node_id, relation) — ``edge_id <= 0`` marks
    synthetic edges deduped by (src, dst, relation) instead
    (cpp:178-188). Output: (file_id, relation, rel_count, total_edges,
    rank) with rank ≤ top_limit ordered count desc / relation asc
    (cpp:206-215); files resolving to no node or no edges yield no rows
    (the C++ returns nullopt)."""
    has_hash = "hash" in files.columns
    keyed = files.select(
        "file_id",
        F.explode(
            expand_file_node_keys("path", "hash" if has_hash else None)
        ).alias("node_key"),
    )
    fnodes = (
        keyed.join(nodes, "node_key")
        .select("file_id", "node_id")
        .dropDuplicates(["file_id", "node_id"])
    )
    e_src = edges.select(
        F.col("src_node_id").alias("node_id"), "edge_id",
        "src_node_id", "dst_node_id", "relation",
    )
    e_dst = edges.select(
        F.col("dst_node_id").alias("node_id"), "edge_id",
        "src_node_id", "dst_node_id", "relation",
    )
    bidir = fnodes.join(
        e_src.unionByName(e_dst), "node_id"
    ).select(
        "file_id",
        F.when(
            F.col("edge_id") > 0, F.concat(F.lit("#"), F.col("edge_id"))
        )
        .otherwise(
            F.concat_ws(":", "src_node_id", "dst_node_id", "relation")
        )
        .alias("edge_key"),
        "relation",
    ).dropDuplicates(["file_id", "edge_key"])
    normed = bidir.select(
        "file_id", normalize_relation_expr("relation").alias("relation")
    ).where(F.col("relation") != "")
    counts = normed.groupBy("file_id", "relation").agg(
        F.count(F.lit(1)).alias("rel_count")
    )
    w_file = Window.partitionBy("file_id")
    w_rank = w_file.orderBy(F.col("rel_count").desc(), F.col("relation").asc())
    return (
        counts.withColumn("total_edges", F.sum("rel_count").over(w_file))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= int(top_limit))
    )


def analyze_document_topology(
    doc_nodes: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """``analyzeDocumentTopology`` (kg_topology_analysis.cpp:64-213):
    one-row KGTopologySummary over the semantic_neighbor graph
    restricted to document nodes. Edges touching unknown nodes and
    self-loops are skipped (cpp:101-110); duplicate directed edges
    collapse (directedPairs set); the undirected pair set drives
    degree/coverage/components, the both-directions semi-join drives
    reciprocity and reciprocal communities (size ≥ 2, cpp:183-197).
    Component counts include singleton documents, exactly as the C++
    union-find over all doc indices does."""
    docs = doc_nodes.select(F.col("node_id").alias("node")).distinct()
    directed = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(docs.withColumnRenamed("node", "a"), "a")
        .join(docs.withColumnRenamed("node", "b"), "b")
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = directed.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    recip = (
        directed.alias("x")
        .join(
            directed.alias("y"),
            (F.col("x.a") == F.col("y.b")) & (F.col("x.b") == F.col("y.a")),
            "left_semi",
        )
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )

    n_docs = docs.agg(F.count(F.lit(1)).alias("document_node_count"))
    sem = und.agg(F.count(F.lit(1)).alias("semantic_edge_count"))
    end_nodes = und.select(F.col("u").alias("node")).unionByName(
        und.select(F.col("v").alias("node"))
    ).distinct()
    with_nb = end_nodes.agg(
        F.count(F.lit(1)).alias("documents_with_semantic_neighbors")
    )
    cc = connected_components(und, src="u", dst="v")
    cc_sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    cc_agg = cc_sizes.agg(
        F.count(F.lit(1)).alias("_edge_components"),
        F.coalesce(F.max("sz"), F.lit(0)).alias("_max_cc"),
    )
    r_pairs = recip.agg(
        F.count(F.lit(1)).alias("reciprocal_semantic_edge_count")
    )
    r_nodes = recip.select(F.col("u").alias("node")).unionByName(
        recip.select(F.col("v").alias("node"))
    ).distinct()
    r_docs = r_nodes.agg(
        F.count(F.lit(1)).alias("documents_with_reciprocal_neighbors")
    )
    rcc = connected_components(recip, src="u", dst="v")
    rcc_sizes = rcc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    rcc_agg = rcc_sizes.where(F.col("sz") >= 2).agg(
        F.count(F.lit(1)).alias("reciprocal_community_count"),
        F.coalesce(F.max("sz"), F.lit(0)).alias(
            "largest_reciprocal_community_size"
        ),
    )

    row = (
        n_docs.crossJoin(sem)
        .crossJoin(with_nb)
        .crossJoin(cc_agg)
        .crossJoin(r_pairs)
        .crossJoin(r_docs)
        .crossJoin(rcc_agg)
    )
    nd = F.col("document_node_count")
    se = F.col("semantic_edge_count")
    wn = F.col("documents_with_semantic_neighbors")
    re_ = F.col("reciprocal_semantic_edge_count")
    return row.select(
        nd,
        wn,
        se,
        F.when(nd > 0, se / nd).otherwise(F.lit(0.0)).alias(
            "avg_semantic_degree"
        ),
        F.when(nd > 0, wn / nd).otherwise(F.lit(0.0)).alias(
            "semantic_coverage"
        ),
        (nd - wn).alias("isolated_document_count"),
        (F.col("_edge_components") + (nd - wn)).alias(
            "connected_component_count"
        ),
        F.greatest(
            F.col("_max_cc"), F.when(nd > wn, F.lit(1)).otherwise(F.lit(0))
        ).alias("largest_component_size"),
        F.col("documents_with_reciprocal_neighbors"),
        re_,
        F.col("reciprocal_community_count"),
        F.col("largest_reciprocal_community_size"),
        (nd - F.col("documents_with_reciprocal_neighbors")).alias(
            "reciprocal_singleton_document_count"
        ),
        (se - re_).alias("unreciprocated_semantic_edge_count"),
        F.when(se > 0, re_ / se).otherwise(F.lit(0.0)).alias(
            "semantic_reciprocity"
        ),
    )
