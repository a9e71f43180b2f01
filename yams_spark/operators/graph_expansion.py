"""Graph expansion: KG-derived query expansion feeding the graph_text /
graph_vector fusion components.

The reference expands a query through the knowledge graph
(``reference src/search/graph_expansion.cpp``): query surfaces resolve to
seed nodes via alias lookup (:373-414, seed score = term weight × alias
score × node-type weight), seeds contribute their own alias surfaces and
their 1-hop neighbors' (:437-466), each neighbor scaled by a
relation-specific weight (``relationExpansionWeight`` :47-85) and the
edge weight clamped to [0.1, 1]; per-term the max contribution wins and
the top ``maxTerms`` survive. The expanded terms re-enter the lexical
pipeline as the ``graph_text`` component with the 0.78 FTS penalty and a
minimum admission score (``search_engine_config.h:365-367``;
``search_lexical_pipeline.cpp:56``), and seed-node embeddings drive the
``graph_vector`` component with the 0.82 vector penalty.

Simplifications vs the reference, stated here once: alias sources map
surface→1.0 / lower→0.75 / acronym→0.70 (the analog of its
gliner.surface/default/gliner.variant tiers,
``aliasSourceExpansionWeight`` :270-291); node types here are only
'span' (weight 0.60, the default tier) and 'document' (0.0 — excluded,
``graphNodeExpansionWeight`` :243-267); the label-search middle tier
(:389-401) folds into exact resolution because this KG's node labels ARE
alias surfaces. Query surfaces that miss exact alias lookup fall back to
SymSpell fuzzy resolution with the reference's 0.8 score discount
(:403-414; edit-distance bound ≤2 per symspell_search.cpp:25-29) — the
miss test is a bounded collect of ≤96 scalars, so when every surface
hits exactly the fuzzy branch contributes zero extra work or plan nodes.

Scale shape: the query side is one bounded seed list (≤ DEFAULT_MAX_SEEDS rows
after an orderBy().limit()); every join fans out from it, so the whole
expansion is broadcast-sized. The only corpus-scale work is the final
posting-list / embedding scan the components already pay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yams_spark.operators.search import bm25_scores, global_rank, normalize_bm25

#: relationExpansionWeight (graph_expansion.cpp:47-85) — the relations
#: this repo's KG emits; the reference's richer extractors add more
RELATION_EXPANSION_WEIGHTS: dict[str, float] = {
    "primary_topic_of": 0.95,
    "title_mentions": 0.95,
    "mentioned_in_segment": 0.90,
    "contains_segment": 0.55,
    "segment_of": 0.55,
    "co_mentioned_with": 0.50,
    "mentioned_in": 0.10,
}
RELATION_DEFAULT_WEIGHT = 0.35
#: node-type expansion weights (graphNodeExpansionWeight :243-267)
NODE_TYPE_WEIGHTS: dict[str, float] = {"span": 0.60, "document": 0.0}
#: alias-source weights (aliasSourceExpansionWeight :270-291 analog)
ALIAS_SOURCE_WEIGHTS: dict[str, float] = {
    "surface": 1.0,
    "lower": 0.75,
    "acronym": 0.70,
}
#: component penalties / admission (search_engine_config.h:365-367)
GRAPH_FTS_PENALTY = 0.78
GRAPH_VECTOR_PENALTY = 0.82
GRAPH_TEXT_MIN_ADMISSION = 0.0010

DEFAULT_MAX_TERMS = 12
DEFAULT_MAX_SEEDS = 8
DEFAULT_MAX_NEIGHBORS = 16


def kg_query_tokens(query: str) -> list[str]:
    """Query surfaces for alias resolution (tokenizeKgQuery,
    graph_expansion.cpp:143-241): lowercase alnum tokens >= 2 chars
    (dedup, `-/_` also split), 4..2-gram phrases first, then the single
    tokens, capped at 96. Driver-side: ONE query string."""
    raw: list[str] = []
    current = []
    for ch in query:
        if ch.isalnum():
            current.append(ch.lower())
        else:
            if current:
                raw.append("".join(current))
            current = []
    if current:
        raw.append("".join(current))
    filtered: list[str] = []
    seen: set[str] = set()
    for tok in raw:
        if len(tok) >= 2 and tok not in seen:
            seen.add(tok)
            filtered.append(tok)
    out: list[str] = []
    for n in range(4, 1, -1):
        for i in range(0, len(filtered) - n + 1):
            phrase = " ".join(filtered[i : i + n])
            if "phrase:" + phrase not in seen:
                seen.add("phrase:" + phrase)
                out.append(phrase)
            if len(out) >= 96:
                return out
    for tok in filtered:
        out.append(tok)
        if len(out) >= 96:
            break
    return out


def co_mention_relation_edges(co_edges: DataFrame) -> DataFrame:
    """(src, dst, relation='co_mentioned_with', weight): typed expansion
    edges from ``kg.build_co_mention_edges`` output — the edge weight is
    the saturating co-mention count ``n_docs/(n_docs+1)`` (monotonic in
    evidence, lands in the (0,1] band the reference clamps edge weights
    to, graph_expansion.cpp:465)."""
    return co_edges.select(
        "src", "dst",
        F.lit("co_mentioned_with").alias("relation"),
        (F.col("n_docs") / (F.col("n_docs") + 1.0)).alias("weight"),
    )


def _map_expr(col, mapping: dict[str, float], default: float):
    expr = F.lit(float(default))
    for k, v in mapping.items():
        expr = F.when(col == k, F.lit(float(v))).otherwise(expr)
    return expr


FUZZY_ALIAS_DISCOUNT = 0.8  # graph_expansion.cpp:407 (alias.score * 0.8f)
FUZZY_MAX_DISTANCE = 2  # symspell_search.cpp:25-29 edit-distance bound


def graph_expansion_seeds(
    query: str,
    kg_aliases: DataFrame,
    kg_nodes: DataFrame,
) -> DataFrame:
    """(node_key, seed_score): the expansion's seed nodes — exact alias
    hits of the query surfaces, scored confidence × node-type weight,
    top ``DEFAULT_MAX_SEEDS`` (score desc, node asc). Shared by the term
    expansion (graph_text) and the seed-centroid vector leg
    (graph_vector).

    Query surfaces with NO exact alias hit fall back to SymSpell fuzzy
    resolution (graph_expansion.cpp:403-414): candidate aliases within
    ``FUZZY_MAX_DISTANCE`` edits (delete-variant join + Levenshtein
    verify, operators/fuzzy.py), capped at ``max(4, DEFAULT_MAX_TERMS)`` per
    surface ordered (distance asc, confidence desc, node asc) — the
    reference's aliasesPerTerm = max(4, maxTerms) — and scored with the
    0.8 fuzzy discount. The exact/miss split is decided from a bounded
    collect of which surfaces matched (≤96 scalars); a query whose
    surfaces all hit exactly never touches the fuzzy branch.
    """
    tokens = kg_query_tokens(query)
    if not tokens:
        raise ValueError("no query surfaces derivable for graph expansion")
    ntype = kg_nodes.select(
        "node_key",
        _map_expr(F.col("type"), NODE_TYPE_WEIGHTS, 0.60).alias("node_w"),
    )
    al = kg_aliases.select(
        "node_key", F.lower(F.col("alias")).alias("alias_norm"), "confidence"
    )
    exact = al.where(F.col("alias_norm").isin(tokens))
    seeds = (
        exact.join(ntype, "node_key")
        .select(
            "node_key",
            (F.col("confidence") * F.col("node_w")).alias("seed_score"),
        )
        .where(F.col("seed_score") > 0)
    )

    hit = {r["alias_norm"] for r in
           exact.select("alias_norm").distinct().collect()}
    missed = [t for t in tokens if t not in hit]
    if missed:
        from yams_spark.operators.fuzzy import symspell_match

        spark = kg_aliases.sparkSession
        queries = spark.createDataFrame(
            [(t,) for t in missed], "query_term string"
        )
        vocab = al.select(F.col("alias_norm").alias("term")).distinct()
        matches = symspell_match(
            vocab, queries, max_distance=FUZZY_MAX_DISTANCE, freq_col=None
        )
        fuzzy = (
            matches.join(al, al["alias_norm"] == matches["term"])
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("query_term").orderBy(
                        F.col("distance").asc(),
                        F.col("confidence").desc(),
                        F.col("node_key").asc(),
                    )
                ),
            )
            .where(F.col("_rk") <= max(4, DEFAULT_MAX_TERMS))
            .join(ntype, "node_key")
            .select(
                "node_key",
                (
                    F.col("confidence")
                    * F.lit(FUZZY_ALIAS_DISCOUNT)
                    * F.col("node_w")
                ).alias("seed_score"),
            )
            .where(F.col("seed_score") > 0)
        )
        seeds = seeds.unionByName(fuzzy)

    seeds = seeds.groupBy("node_key").agg(F.max("seed_score").alias("seed_score"))
    return seeds.orderBy(
        F.col("seed_score").desc(), F.col("node_key").asc()
    ).limit(DEFAULT_MAX_SEEDS)


def graph_expansion_terms(
    query: str,
    kg_aliases: DataFrame,
    kg_nodes: DataFrame,
    kg_edges: DataFrame,
) -> DataFrame:
    """(term, score): KG expansion terms for one query
    (generateGraphExpansionTerms, graph_expansion.cpp:324-480).

    kg_aliases: (node_key, alias, source, confidence); kg_nodes:
    (node_key, label, type, ...); kg_edges: (src, dst, relation, weight)
    over node keys. Seeds = exact alias hits of the query surfaces,
    scored ``alias_confidence × node_type_weight`` (term weight 1.0),
    top ``DEFAULT_MAX_SEEDS`` (score desc, node asc). Terms = seed + 1-hop
    neighbor alias surfaces, each ``seed_score × node_weight [×
    relation_weight × clamp(edge_weight, .1, 1)] × clamp(conf, .2, 1) ×
    source_weight``; >= 3 chars, max per term, top ``DEFAULT_MAX_TERMS``."""
    top_seeds = graph_expansion_seeds(query, kg_aliases, kg_nodes)
    ntype = kg_nodes.select(
        "node_key",
        _map_expr(F.col("type"), NODE_TYPE_WEIGHTS, 0.60).alias("node_w"),
    )
    al = kg_aliases.select(
        "node_key",
        F.lower(F.col("alias")).alias("alias_norm"),
        "alias", "source", "confidence",
    )

    # contributing nodes: the seed itself (factor 1) + 1-hop neighbors
    # (relation × edge-weight factor), neighbors capped per seed
    self_contrib = top_seeds.select(
        "node_key", F.col("seed_score").alias("base"), F.lit(1.0).alias("factor")
    )
    rel_w = _map_expr(F.col("relation"), RELATION_EXPANSION_WEIGHTS, RELATION_DEFAULT_WEIGHT)
    edge_f = rel_w * F.least(F.greatest(F.col("weight"), F.lit(0.1)), F.lit(1.0))
    nb_w = Window.partitionBy("src").orderBy(F.col("factor").desc(), F.col("node_key").asc())
    neighbors = (
        kg_edges.select("src", F.col("dst").alias("node_key"), edge_f.alias("factor"))
        .join(
            F.broadcast(top_seeds.select(F.col("node_key").alias("src"), "seed_score")),
            "src",
        )
        .withColumn("rk", F.row_number().over(nb_w))
        .where(F.col("rk") <= DEFAULT_MAX_NEIGHBORS)
        .select("node_key", F.col("seed_score").alias("base"), "factor")
    )
    contrib = self_contrib.unionByName(neighbors).join(ntype, "node_key").where(
        F.col("node_w") > 0
    )

    # surface terms: each node's aliases (capped), weighted by source +
    # clamped confidence (addNodeSurfaceTerms :293-322)
    src_w = _map_expr(F.col("source"), ALIAS_SOURCE_WEIGHTS, 0.75)
    a_w = Window.partitionBy("node_key").orderBy(
        F.col("confidence").desc(), F.col("alias_norm").asc()
    )
    node_aliases = (
        al.withColumn("ark", F.row_number().over(a_w))
        .where(F.col("ark") <= 8)
        .select(
            "node_key", "alias_norm",
            (
                F.least(F.greatest(F.col("confidence"), F.lit(0.2)), F.lit(1.0)) * src_w
            ).alias("alias_w"),
        )
    )
    terms = (
        contrib.join(node_aliases, "node_key")
        .where(F.length("alias_norm") >= 3)
        .select(
            F.col("alias_norm").alias("term"),
            (F.col("base") * F.col("factor") * F.col("node_w") * F.col("alias_w")).alias("s"),
        )
        .groupBy("term")
        .agg(F.max("s").alias("score"))
    )
    order = [F.col("score").desc(), F.col("term").asc()]
    return terms.orderBy(*order).limit(DEFAULT_MAX_TERMS)


def graph_text_component(
    postings: DataFrame,
    expansion_terms: list[str],
    limit: int = 300,
) -> DataFrame:
    """(doc_id, source='graph_text', score, rank): the expanded-term FTS
    re-query (search_lexical_pipeline.cpp:50-66): disjunctive BM25 over
    the expansion terms, range-normalized like the text component, score
    × ``GRAPH_FTS_PENALTY`` (0.78, search_engine_config.h:366), rows under the
    admission floor dropped (:365). ``expansion_terms`` is the bounded
    driver-side term list collected from ``graph_expansion_terms`` — at
    most DEFAULT_MAX_TERMS scalars, the same class of bounded collect as corpus
    stats."""
    if not expansion_terms:
        raise ValueError("graph_text_component requires expansion terms")
    lex = bm25_scores(postings, sorted(set(expansion_terms)), match_all=False)
    lex = normalize_bm25(lex.withColumn("bm25", -F.col("bm25")))
    scored = lex.select(
        "doc_id", (F.col("norm_score") * F.lit(GRAPH_FTS_PENALTY)).alias("score")
    ).where(F.col("score") >= GRAPH_TEXT_MIN_ADMISSION)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    pooled = scored.orderBy(*order).limit(limit)
    ranked = global_rank(pooled, order, "rk")
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("graph_text").alias("source"),
        F.col("score"),
        (F.col("rk") - 1).alias("rank"),
    )


def graph_vector_component(
    seed_nodes: DataFrame,
    node_embeddings: DataFrame,
    doc_embeddings: DataFrame,
) -> DataFrame:
    """(doc_id, source='graph_vector', score, rank): seed-node centroid →
    cosine over document embeddings × ``GRAPH_VECTOR_PENALTY`` (0.82,
    search_engine_config.h:367) — the expansion-seeded vector search.
    seed_nodes: (node_key, seed_score); node_embeddings: (node_key,
    embedding). The centroid is a seed-score-weighted mean computed as a
    1-row aggregate broadcast into the scan; the corpus-side cosine is
    the same fold the vector component pays."""
    weighted = (
        F.broadcast(seed_nodes)
        .join(node_embeddings, "node_key")
        .select(
            "seed_score",
            F.posexplode(
                F.transform(F.col("embedding"), lambda x: x.cast("double"))
            ).alias("pos", "val"),
        )
        .groupBy("pos")
        .agg(
            (F.sum(F.col("val") * F.col("seed_score")) / F.sum("seed_score")).alias("c")
        )
    )
    centroid = weighted.agg(
        F.collect_list(F.struct("pos", "c")).alias("pairs")
    ).select(
        F.transform(F.array_sort("pairs"), lambda p: p["c"]).alias("centroid")
    )
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(emb, F.col("centroid"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x))
    n2 = F.sqrt(
        F.aggregate(F.col("centroid"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cos = F.when((n1 > 0) & (n2 > 0), dot / (n1 * n2)).otherwise(F.lit(0.0))
    scored = (
        doc_embeddings.crossJoin(F.broadcast(centroid))
        .select(
            F.col("vec_id").alias("doc_id"),
            (cos * F.lit(GRAPH_VECTOR_PENALTY)).alias("score"),
        )
        .where(F.col("score") > 0)
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    pooled = scored.orderBy(*order).limit(150)
    ranked = global_rank(pooled, order, "rk")
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("graph_vector").alias("source"),
        F.col("score"),
        (F.col("rk") - 1).alias("rank"),
    )
