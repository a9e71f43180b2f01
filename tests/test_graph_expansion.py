"""Graph expansion (operators/graph_expansion.py): query tokenization,
seed resolution, term scoring, and the graph_text / graph_vector fusion
components (graph_expansion.cpp recast), hand-computed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yams_spark.operators.graph_expansion import (
    co_mention_relation_edges,
    graph_expansion_terms,
    graph_text_component,
    graph_vector_component,
    kg_query_tokens,
)

ALPHA = "nl_entity:span:alpha"
BETA = "nl_entity:span:beta"


def _kg(spark):
    nodes = spark.createDataFrame(
        [(ALPHA, "Alpha", "span"), (BETA, "Beta", "span"),
         ("doc:1", "1", "document")],
        "node_key string, label string, type string",
    )
    aliases = spark.createDataFrame(
        [(ALPHA, "Alpha", "surface", 1.0), (ALPHA, "alpha", "lower", 0.9),
         (BETA, "Beta", "surface", 1.0), (BETA, "beta", "lower", 0.9)],
        "node_key string, alias string, source string, confidence double",
    )
    edges = spark.createDataFrame(
        [(ALPHA, BETA, "co_mentioned_with", 0.5),
         (ALPHA, "doc:1", "mentioned_in", 1.0)],
        "src string, dst string, relation string, weight double",
    )
    return nodes, aliases, edges


def test_kg_query_tokens() -> None:
    toks = kg_query_tokens("Alpha-scan beta_2 THE")
    # phrases first (4..2-grams), then >=2-char tokens, all lowercase
    assert "alpha scan" in toks and "alpha" in toks and "scan" in toks
    assert "beta" in toks and "the" in toks  # no stopwording here
    assert toks.index("alpha scan") < toks.index("alpha")
    assert all(t == t.lower() for t in toks)
    assert kg_query_tokens("!?") == []


def test_expansion_terms_hand_computed(spark) -> None:
    nodes, aliases, edges = _kg(spark)
    got = {r["term"]: r["score"] for r in
           graph_expansion_terms("alpha scan", aliases, nodes, edges).collect()}
    # seed alpha: best alias conf 1.0 x span weight .6 = .6; surface terms
    # re-apply node weight (graph_expansion.cpp:441-444 does too):
    # 'alpha' = .6 x 1 x .6 x (conf 1.0 x surface 1.0) = .36
    assert got["alpha"] == pytest.approx(0.36)
    # neighbor beta via co_mentioned_with (.5) x edge weight .5 -> factor
    # .25: 'beta' = .6 x .25 x .6 x 1.0 = .09
    assert got["beta"] == pytest.approx(0.09)
    # doc:1 neighbor excluded (document node weight 0); no other terms
    assert set(got) == {"alpha", "beta"}
    with pytest.raises(ValueError, match="query surfaces"):
        graph_expansion_terms("!?", aliases, nodes, edges)


def test_graph_text_component(spark) -> None:
    from yams_spark.operators.search import build_posting_lists

    docs = spark.createDataFrame(
        [(1, "alpha here now"), (2, "beta here now"), (3, "none of them")],
        "doc_id long, text string",
    )
    postings = build_posting_lists(docs, "doc_id", "text")
    comp = graph_text_component(postings, ["alpha", "beta"])
    rows = {int(r["doc_id"]): r for r in comp.collect()}
    # equal idf/tf/dl -> equal bm25 -> degenerate range falls back to
    # bm25/25; both docs survive with score x 0.78
    assert set(rows) == {1, 2}
    assert rows[1]["score"] == rows[2]["score"]
    assert all(r["source"] == "graph_text" for r in rows.values())
    assert 0 < rows[1]["score"] < 0.78
    with pytest.raises(ValueError, match="expansion terms"):
        graph_text_component(postings, [])


def test_graph_vector_component(spark) -> None:
    seeds = spark.createDataFrame(
        [(ALPHA, 0.36)], "node_key string, seed_score double"
    )
    node_emb = spark.createDataFrame(
        [(ALPHA, [1.0, 0.0])], "node_key string, embedding array<float>"
    )
    doc_emb = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {int(r["doc_id"]): r for r in
            graph_vector_component(seeds, node_emb, doc_emb).collect()}
    # centroid = [1, 0]; doc1 cos 1.0 x 0.82; doc2 cos 0 dropped
    assert set(rows) == {1}
    assert rows[1]["score"] == pytest.approx(0.82)
    assert rows[1]["source"] == "graph_vector" and rows[1]["rank"] == 0


def test_co_mention_relation_edges(spark) -> None:
    co = spark.createDataFrame(
        [(ALPHA, BETA, 3)], "src string, dst string, n_docs long"
    )
    r = co_mention_relation_edges(co).collect()[0]
    assert r["relation"] == "co_mentioned_with"
    assert r["weight"] == pytest.approx(0.75)


def test_hybrid_search_graph_sources(spark) -> None:
    """kg_tables wiring: expansion terms pull a graph-only doc into the
    fused result alongside the text hits."""
    from yams_spark.operators.neighbors import hybrid_search

    docs = spark.createDataFrame(
        [(1, "alpha something here"), (2, "beta only doc here"),
         (3, "unrelated text row")],
        "doc_id long, text string",
    )
    nodes, aliases, edges = _kg(spark)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    node_emb = spark.createDataFrame(
        [(ALPHA, [1.0, 0.0]), (BETA, [1.0, 0.0])],
        "node_key string, embedding array<float>",
    )
    out = hybrid_search(
        spark, docs, query_text="alpha", query_embedding=None,
        embedding_df=emb, limit=10,
        kg_tables={
            "kg_nodes": nodes, "kg_aliases": aliases, "kg_rel_edges": edges,
            "kg_node_embeddings": node_emb,
        },
    )
    got = {int(r["doc_id"]) for r in out.collect()}
    # doc1 via text+graph; doc2 ONLY via the beta expansion term and the
    # graph_vector centroid — proves the graph sources feed fusion
    assert 1 in got and 2 in got


def test_fuzzy_alias_fallback(spark) -> None:
    """A misspelled query surface that misses exact alias lookup resolves
    through the SymSpell fallback with the 0.8 discount
    (graph_expansion.cpp:403-414); exact hits are never discounted."""
    from yams_spark.operators.graph_expansion import graph_expansion_seeds

    nodes, aliases, edges = _kg(spark)
    # 'alpah' is 2 edits from 'alpha' (transposition); exact lookup misses
    seeds = {r["node_key"]: r["seed_score"] for r in
             graph_expansion_seeds("alpah", aliases, nodes).collect()}
    # fuzzy: conf 1.0 ('Alpha'->alpha_norm) x 0.8 x span .6 = 0.48
    assert seeds == {ALPHA: pytest.approx(0.48)}
    # exact surface is NOT discounted and the fuzzy branch adds nothing
    seeds = {r["node_key"]: r["seed_score"] for r in
             graph_expansion_seeds("alpha", aliases, nodes).collect()}
    assert seeds[ALPHA] == pytest.approx(0.6)
    # the misspelled seed still expands to terms end-to-end
    got = {r["term"]: r["score"] for r in
           graph_expansion_terms("alpah", aliases, nodes, edges).collect()}
    assert got["alpha"] == pytest.approx(0.36 * 0.8)
    assert got["beta"] == pytest.approx(0.09 * 0.8)
