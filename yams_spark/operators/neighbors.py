"""Semantic-neighbor graph + hybrid search composition.

* ``semantic_neighbor_edges`` — the reference's batched kNN self-join that
  populates kg_edges (EmbeddingService.cpp:555-812): candidate neighbors
  per document (here: the blocking families play the ANN role, exactly as
  in the ER pipeline), deduped best-score per neighbor doc, top-K per
  source (K defaults 8; the reference pools max(8, 4·topK) candidates),
  emitted as symmetric edges with weight = clamp(similarity, threshold, 1).
* ``hybrid_search`` — the `yams search` fanout recast (SURVEY §3.2): a
  lexical BM25 component + a vector cosine component, normalized, fused
  with weighted RRF, final deterministic top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yams_spark.operators.search import (
    bm25_scores,
    build_positional_postings,
    build_posting_lists,
    fuse_evidence,
    global_rank,
    normalize_bm25,
    parse_match_query,
    topk_with_rescue,
)


def semantic_neighbor_edges(
    scored_pairs: DataFrame,
    top_k: int = 8,
    threshold: float = 0.0,
) -> DataFrame:
    """(src, dst, weight) symmetric edge set: per source keep the top-K
    strongest neighbors (cosine desc, dst asc tie-break), weight clamped to
    [threshold, 1.0] (EmbeddingService.cpp:740-812)."""
    directed = scored_pairs.select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst"), F.col("cosine").alias("sim")
    ).unionByName(
        scored_pairs.select(
            F.col("url_b").alias("src"), F.col("url_a").alias("dst"), F.col("cosine").alias("sim")
        )
    )
    # dedupe best-score per (src, dst) — multiple blocking families may
    # surface the same neighbor
    best = directed.groupBy("src", "dst").agg(F.max("sim").alias("sim"))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
    topk = best.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= top_k)
    edges = topk.select(
        "src",
        "dst",
        F.least(F.greatest(F.col("sim"), F.lit(threshold)), F.lit(1.0)).alias("weight"),
    )
    # symmetric closure: if (a->b) survived top-K on either side, emit both
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return edges.unionByName(rev).groupBy("src", "dst").agg(
        F.max("weight").alias("weight")
    )


#: lexical OR-retry expansion defaults
#: (search_engine_config.h:297-299; search_lexical_pipeline.cpp:246-290)
LEXICAL_EXPANSION_MIN_HITS = 3
LEXICAL_EXPANSION_PENALTY = 0.65
LEXICAL_EXPANSION_MAX_TERMS = 6
LEXICAL_EXPANSION_MIN_TERM_LEN = 3


def expansion_terms(tokens: list[str]) -> list[str]:
    """OR-expansion term selection (search_lexical_pipeline.cpp:252-264):
    unique tokens of >= 3 chars, first 6 in query order; expansion only
    fires with >= 2 of them."""
    out: list[str] = []
    seen: set[str] = set()
    for t in tokens:
        if len(t) < LEXICAL_EXPANSION_MIN_TERM_LEN:
            continue
        if t not in seen:
            seen.add(t)
            out.append(t)
        if len(out) >= LEXICAL_EXPANSION_MAX_TERMS:
            break
    return out if len(out) >= 2 else []


def hybrid_search(
    spark: SparkSession,
    docs: DataFrame,
    query_text: str,
    query_embedding,
    id_col: str = "doc_id",
    text_col: str = "text",
    embedding_df: DataFrame | None = None,
    limit: int = 10,
    enable_lexical_expansion: bool = True,
    doc_tags: DataFrame | None = None,
    query_tags: list[str] | None = None,
    tags_match_all: bool = True,
    doc_metadata: DataFrame | None = None,
    metadata_filters: dict[str, str] | None = None,
    enable_cross_rerank: bool = False,
    rerank_top_n: int = 5,
    auto_phrase: bool = False,
    hotzone_df: DataFrame | None = None,
    hotzone_weight: float = 0.0,
    include_snippets: bool = False,
    kg_doc_entities: DataFrame | None = None,
    kg_edges: DataFrame | None = None,
    doc_paths: DataFrame | None = None,
    node_embeddings: DataFrame | None = None,
    node_docs: DataFrame | None = None,
    enable_simeon: bool = False,
    kg_tables: dict | None = None,
    route_gate: DataFrame | None = None,
    enable_concept_boost: bool = False,
) -> DataFrame:
    """One hybrid query: BM25 lexical component + cosine vector component →
    per-component ranks → weighted-RRF fusion → deterministic top-k
    (SearchEngine fanout → EvidenceSearchPipeline, SURVEY §3.2).

    The lexical base query is implicit-AND (FTS5 MATCH semantics). When it
    returns fewer than ``LEXICAL_EXPANSION_MIN_HITS`` documents, the
    OR-retry fires (search_lexical_pipeline.cpp:246-290): up to 6 unique
    >=3-char tokens are re-queried disjunctively, the expanded-only hits
    join the candidate pool with their normalized scores multiplied by the
    0.65 penalty.

    Double-quoted spans in ``query_text`` are FTS5 phrases: candidates must
    contain the tokens adjacently in order, checked against the positional
    posting index (search_query_helpers.cpp:356-384); ``auto_phrase=True``
    additionally phrases unquoted 3-4 token natural-language queries whole,
    like the reference's NL query builder. ``hotzone_df`` (key, boost)
    applies the recency boost to fused scores before the final top-k:
    score' = score · (1 + hotzone_weight · (boost - 1))
    (enhanced_search_executor.cpp:101-110, hotzone_manager.h:15-59)."""
    import numpy as np

    parsed = parse_match_query(query_text, auto_phrase=auto_phrase)
    multi_phrases = [p for p in parsed["phrases"] if len(p) >= 2]
    # FTS5 semantics: a quoted phrase is ONE indexed query term (scored by
    # its adjacency tf), its member tokens do not contribute separately;
    # single-token "phrases" degrade to plain terms
    terms = parsed["terms"] + [p[0] for p in parsed["phrases"] if len(p) == 1]
    all_tokens = terms + [t for p in multi_phrases for t in p]
    postings = build_posting_lists(docs, id_col, text_col)
    pos_postings = (
        build_positional_postings(docs, id_col, text_col) if multi_phrases else None
    )
    lex = bm25_scores(
        postings, terms, match_all=True, prefix_terms=parsed["prefix_terms"],
        phrases=multi_phrases, positional_postings=pos_postings,
    )
    # FTS5 bm25 is negative-better; ours is positive-better → negate before
    # the reference's range normalization (lexical_scoring.cpp:18-43)
    lex = normalize_bm25(lex.withColumn("bm25", -F.col("bm25")))
    if enable_lexical_expansion:
        base_hits = lex.count()  # scalar — the reference counts the batch too
        exp_terms = expansion_terms(all_tokens)
        if base_hits < LEXICAL_EXPANSION_MIN_HITS and exp_terms:
            expanded = bm25_scores(postings, exp_terms, match_all=False)
            expanded = normalize_bm25(expanded.withColumn("bm25", -F.col("bm25")))
            expanded = (
                expanded.join(lex.select("doc_id"), "doc_id", "left_anti")
                .withColumn("norm_score", F.col("norm_score") * F.lit(LEXICAL_EXPANSION_PENALTY))
            )
            lex = lex.unionByName(expanded)
    # rank only a bounded candidate pool (the reference pools max(8, 4·topK)
    # per component): orderBy().limit() is TakeOrderedAndProject, and the
    # rank window then runs over <= pool rows — one deliberate, bounded
    # partition instead of an unbounded global sort.
    pool = max(limit * 5, 50)
    lex_order = [F.col("norm_score").desc(), F.col("doc_id").asc()]
    lex_pooled = lex.orderBy(*lex_order).limit(pool)
    lex_comp = global_rank(lex_pooled, lex_order, "rk").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("text").alias("source"),
        F.col("norm_score").alias("score"),
        (F.col("rk") - 1).alias("rank"),
    )

    components = lex_comp
    if embedding_df is not None and query_embedding is not None:
        from yams_spark.operators.ann import cosine_topk

        q = spark.createDataFrame(
            [(-1, [float(x) for x in np.asarray(query_embedding, dtype=np.float32)])],
            f"query_id long, embedding array<float>",
        )
        near = cosine_topk(spark, embedding_df, q, k=max(limit * 3, 30), id_col="vec_id")
        vec_comp = near.select(
            F.col("vec_id").cast("string").alias("doc_id"),
            F.lit("vector").alias("source"),
            F.col("cosine").alias("score"),
            (F.col("rk") - 1).alias("rank"),
        )
        components = components.unionByName(vec_comp)

    # tag / metadata evidence (the declared fusion weights' producers,
    # search_engine.cpp:5510+): optional, appended like any other source
    if doc_tags is not None and query_tags:
        from yams_spark.operators.components import tag_component

        components = components.unionByName(
            tag_component(doc_tags, query_tags, tags_match_all, limit=limit * 5)
        )
    if doc_metadata is not None and metadata_filters:
        from yams_spark.operators.components import metadata_component

        components = components.unionByName(
            metadata_component(doc_metadata, metadata_filters, limit=limit * 5)
        )

    # kg / path_tree / entity_vector evidence (search_engine_config.h:81-94
    # weights; per-component caps :369-377) — appended like any source
    if kg_doc_entities is not None and kg_edges is not None:
        from yams_spark.operators.components import kg_component
        from yams_spark.operators.kg import query_entity_nodes

        qnodes = query_entity_nodes(query_text)
        if qnodes:
            components = components.unionByName(
                kg_component(kg_doc_entities, kg_edges, qnodes)
            )
    if doc_paths is not None:
        from yams_spark.operators.components import path_tree_component

        components = components.unionByName(
            path_tree_component(doc_paths, query_text)
        )
    if node_embeddings is not None and node_docs is not None and query_embedding is not None:
        from yams_spark.operators.components import entity_vector_component

        components = components.unionByName(
            entity_vector_component(query_embedding, node_embeddings, node_docs)
        )
    if enable_simeon and terms:
        from yams_spark.operators.simeon import simeon_text_component

        components = components.unionByName(
            simeon_text_component(postings, terms)
        )
    # graph expansion (graph_expansion.cpp): kg_tables is a populate_kg()
    # output dict (kg_nodes/kg_aliases + relation edges under 'kg_rel_edges';
    # optional 'kg_node_embeddings' enables graph_vector)
    if kg_tables is not None:
        from yams_spark.operators.graph_expansion import (
            graph_expansion_terms,
            graph_text_component,
            graph_vector_component,
        )

        exp = graph_expansion_terms(
            query_text,
            kg_tables["kg_aliases"],
            kg_tables["kg_nodes"],
            kg_tables["kg_rel_edges"],
        )
        exp_rows = exp.collect()  # bounded: <= max_terms scalars
        exp_terms = [r["term"] for r in exp_rows]
        if exp_terms:
            components = components.unionByName(
                graph_text_component(postings, exp_terms)
            )
        if (
            exp_rows
            and embedding_df is not None
            and kg_tables.get("kg_node_embeddings") is not None
        ):
            seeds = spark.createDataFrame(
                [(r["term"], float(r["score"])) for r in exp_rows],
                "alias_norm string, exp_score double",
            )
            # seed nodes for the vector leg: nodes whose alias produced a
            # surviving expansion term, weighted by that term's score
            seed_nodes = (
                kg_tables["kg_aliases"]
                .select("node_key", F.lower(F.col("alias")).alias("alias_norm"))
                .join(F.broadcast(seeds), "alias_norm")
                .groupBy("node_key")
                .agg(F.max("exp_score").alias("seed_score"))
            )
            components = components.unionByName(
                graph_vector_component(
                    seed_nodes,
                    kg_tables["kg_node_embeddings"].select("node_key", "embedding"),
                    embedding_df,
                )
            )

    # topology route gate (topology_routing_session.cpp:827-833: member-level
    # search is confined to allowedDocumentHashes of the selected cluster
    # routes) — a semi join keeps only routed candidates across EVERY
    # component; build the gate with operators.topo_routing.routed_members
    if route_gate is not None:
        gate_col = "doc_id" if "doc_id" in route_gate.columns else "doc_hash"
        components = components.join(
            route_gate.select(F.col(gate_col).cast("string").alias("doc_id")),
            "doc_id",
            "left_semi",
        )

    fused = fuse_evidence(components)
    if hotzone_df is not None and hotzone_weight > 0.0:
        from yams_spark.operators.search import apply_hotzone_boost

        fused = apply_hotzone_boost(fused, hotzone_df, hotzone_weight)
    # concept boost (enhanced_search_executor concept stage): extractor
    # concepts enriched with the fallback generator
    # (concept_resolver.cpp:11-53), then the budgeted rank-ordered boost
    # (concept_boost.cpp:33-138) over doc text as the match haystack —
    # joined onto the fused set only (pool-bounded rows), never corpus-wide
    if enable_concept_boost:
        from yams_spark.operators.concepts import (
            apply_concept_boost,
            resolve_query_concepts,
        )

        cterms = resolve_query_concepts(query_text)
        if cterms:
            hay = docs.select(
                F.col(id_col).cast("string").alias("doc_id"),
                F.col(text_col).alias("snippet"),
            )
            fused = apply_concept_boost(
                fused.join(hay, "doc_id", "left").withColumn(
                    "snippet", F.coalesce("snippet", F.lit(""))
                ),
                cterms,
                score_col="fused_score",
            ).select("doc_id", "fused_score")
    head = topk_with_rescue(fused, limit=limit)

    def decorate(result: DataFrame) -> DataFrame:
        # search-result snippet hydration (search_ops.cpp:191): the
        # best-coverage window over every query term, joined onto the
        # (tiny) head only — never computed corpus-wide
        if not include_snippets or not all_tokens:
            return result
        from yams_spark.operators.grep import snippet_multi_expr

        hit_docs = docs.select(
            F.col(id_col).cast("string").alias("doc_id"), F.col(text_col)
        ).join(result.select("doc_id"), "doc_id", "left_semi")
        toks = F.expr(
            f"filter(split(lower(regexp_replace({text_col}, '[^0-9a-zA-Z]+', ' ')), ' '), "
            "x -> x <> '')"
        )
        snips = hit_docs.select(
            "doc_id",
            snippet_multi_expr(toks, all_tokens).alias("snippet"),
        )
        return result.join(snips, "doc_id", "left")

    if not enable_cross_rerank:
        return decorate(head)

    # cross-rerank blend of the top-N (cross_rerank.cpp:60-160): rerank
    # scores from the deterministic overlap scorer, min-max blend
    # alpha·rerank + (1-alpha)·original; ranks below top-N keep their order
    from yams_spark.operators.search import cross_rerank_blend, rerank_scores_overlap

    order = [F.col("fused_score").desc(), F.col("doc_id").asc()]
    top_n = head.orderBy(*order).limit(rerank_top_n)
    rest = head.join(top_n.select("doc_id"), "doc_id", "left_anti")
    scored = rerank_scores_overlap(top_n, docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ), query_text, id_col="doc_id", text_col="text")
    blended = cross_rerank_blend(scored)
    # the blend reorders only the head; tail keeps its fused order after it
    b_ranked = global_rank(
        blended.select("doc_id", "fused_score", "blended_score"),
        [F.col("blended_score").desc(), F.col("doc_id").asc()],
        "final_rank",
    )
    r_ranked = global_rank(rest, order, "__r").select(
        "doc_id", "fused_score",
        F.lit(None).cast("double").alias("blended_score"),
        (F.col("__r") + rerank_top_n).alias("final_rank"),
    )
    return decorate(b_ranked.unionByName(r_ranked).orderBy("final_rank"))
