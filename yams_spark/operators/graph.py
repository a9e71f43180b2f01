"""Knowledge-graph operators: BFS traversal, 1-hop overlap scoring, degree
stats — recast from the reference graph services.

* ``bfs_traverse`` — BFS ≤ maxDepth (1-4) with optional relation filter and
  per-depth caps, shortest-parent semantics (min depth wins)
  (graph_query_service.cpp:521-605, req graph_query_service.hpp:90-100):
  an iterative ``frontier.join(edges)`` loop, maxDepth iterations — the
  Spark-native traversal (no recursion, each hop one shuffle).
* ``one_hop_overlap_scores`` — KG scoring join: query nodes → neighbor
  union → Jaccard overlap with candidate documents' entity sets
  (kg_scorer_simple.cpp:33-46,132-243).
* ``node_degree_stats`` — kg_node_stats(degree, …) (migration.cpp:930-938).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfs_traverse(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 2,
    relation_col: str | None = None,
    relations: list[str] | None = None,
    per_depth_cap: int | None = None,
) -> DataFrame:
    """seeds (node) -> (node, depth) for every node reachable in <= max_depth
    hops; depth = shortest distance (0 for seeds). Undirected expansion.
    ``per_depth_cap`` keeps at most N nodes per depth (ordered by node asc),
    mirroring the reference's per-depth result caps."""
    e = edges
    if relation_col is not None and relations:
        e = e.where(F.col(relation_col).isin(relations))
    bidir = e.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        e.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    ).distinct()

    visited = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().withColumn(
        "depth", F.lit(0)
    )
    frontier = visited.select("node")
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(bidir, frontier["node"] == bidir["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        if per_depth_cap is not None:
            nxt = nxt.orderBy("node").limit(per_depth_cap)
        nxt = nxt.withColumn("depth", F.lit(depth)).localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def one_hop_overlap_scores(
    doc_entities: DataFrame,
    query_nodes: list[str],
    edges: DataFrame,
) -> DataFrame:
    """Jaccard overlap between each document's entity set and the 1-hop
    neighborhood (incl. seeds) of the query nodes
    (kg_scorer_simple.cpp:132-243). doc_entities: (doc_id, entity)."""
    spark = doc_entities.sparkSession
    seeds = spark.createDataFrame([(n,) for n in query_nodes], ["node"])
    hood = bfs_traverse(edges, seeds, max_depth=1)
    hood_set = hood.select(F.col("node").alias("entity")).distinct()
    n_hood = hood_set.count()
    doc_sizes = doc_entities.groupBy("doc_id").agg(
        F.countDistinct("entity").alias("n_doc")
    )
    inter = (
        doc_entities.join(F.broadcast(hood_set), "entity")
        .groupBy("doc_id")
        .agg(F.countDistinct("entity").alias("n_inter"))
    )
    return (
        doc_sizes.join(inter, "doc_id", "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn(
            "kg_score",
            F.when(
                F.col("n_doc") + F.lit(n_hood) - F.col("n_inter") > 0,
                F.col("n_inter")
                / (F.col("n_doc") + F.lit(n_hood) - F.col("n_inter")),
            ).otherwise(F.lit(0.0)),
        )
    )


def node_degree_stats(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(node, degree, out_degree, in_degree) — kg_node_stats analog."""
    out_d = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst_col).alias("node")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .fillna(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Iterative DataFrame PageRank for kg_node_stats (the reference stores
    a pagerank column per KG node, migration.cpp:924).

        r_{k+1}(v) = (1-d)/N + d·(Σ_{u→v} r_k(u)/outdeg(u) + dangling/N)

    Each iteration is one join + one aggregation on the (src-partitioned)
    edge table; lineage is truncated per round with lazy localCheckpoint
    (materialized by the round's own job — the CC loop's hygiene pattern).
    The dangling mass stays IN the plan as a 1-row aggregate crossJoined
    into the rank update — no driver collect() per round, so the fixed
    iteration count compiles to a single action chain with zero scheduling
    round-trips (the round-1 version paid one scalar job per iteration).
    At 10^12 edges the per-round cost is the contribution shuffle, which
    reuses the edge table's partitioning across all rounds.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pagerank", F.lit(None).cast("double"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(outdeg, "src").localCheckpoint(eager=False)
    dangling_nodes = nodes.join(
        outdeg.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=False)

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(max_iter):
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("in_mass"))
        )
        # 1-row dangling-mass aggregate, crossJoined (broadcast) into the
        # same plan — the previous ranks are checkpoint-cached, so both
        # consumers (contribs + dangling) read one materialization
        dangling = dangling_nodes.join(ranks, "node").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang")
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_mass"), F.lit(0.0))
                        + F.col("__dang") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("rank").alias("pagerank"))
