"""kg / path_tree / entity_vector fusion components + hybrid wiring.

The reference fans search out to 9 weighted scoring components
(search_engine_config.h:78-96); round 4 adds the three that were
producers-only: kg (kg_scorer_simple.cpp:132-243), path_tree
(search_engine.cpp:5101-5160), entity_vector
(search_vector_pipeline.cpp:421-487). The end-to-end test hand-computes
one fused score from the published weighted-RRF formula.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from yams_spark.operators.components import (
    build_path_seeds,
    entity_vector_component,
    kg_component,
    path_tree_component,
)


def test_build_path_seeds() -> None:
    seeds = build_path_seeds("en/src1 doc_7 corpus")
    texts = [s[0] for s in seeds]
    kinds = {s[0]: s[1] for s in seeds}
    weights = {s[0]: s[2] for s in seeds}
    assert texts[0] == "en/src1 doc_7 corpus" and weights[texts[0]] == 1.0
    assert kinds["en/src1"] == "structured_token" and weights["en/src1"] == 0.95
    assert kinds["doc_7"] == "structured_token"
    assert weights["corpus"] == 0.70 and weights["src1"] == 0.70
    assert len(seeds) <= 8
    # case-insensitive dedupe; stopwords and short terms dropped
    s2 = build_path_seeds("The THE the")
    assert [t for t, _, _ in s2] == ["The THE the"]  # whole query only
    # unstructured long queries contribute no whole-query seed
    long_q = " ".join(["word"] * 20)
    assert all(k != "whole_query" for _, k, _ in build_path_seeds(long_q))


def test_path_tree_component_scoring(spark) -> None:
    docs = spark.createDataFrame(
        [(1, "/data/alpha/doc1.txt"), (2, "/data/other/doc2.txt")],
        "doc_id long, path string",
    )
    comp = path_tree_component(docs, "Alpha versus Table")
    rows = {r["doc_id"]: r for r in comp.collect()}
    assert set(rows) == {"1"}
    # seed 'alpha' (content_term, 0.70) at offset 6 of a 20-char path:
    # 0.70 * (0.56 + (1 - 6/20)*0.18 + (5/20)*0.26)
    want = 0.70 * (0.56 + 0.7 * 0.18 + 0.25 * 0.26)
    assert rows["1"]["score"] == pytest.approx(want)
    assert rows["1"]["rank"] == 0 and rows["1"]["source"] == "path_tree"
    # cap honored
    many = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("/corpus/x"), F.col("id"), F.lit(".txt")).alias("path"),
    )
    capped = path_tree_component(many, "corpus")
    assert capped.count() == 150
    with pytest.raises(ValueError, match="no path seeds"):
        path_tree_component(docs, "a")


def test_kg_component_overlap(spark) -> None:
    doc_entities = spark.createDataFrame(
        [
            (1, "nl_entity:span:alpha"),
            (1, "nl_entity:span:gamma"),
            (2, "nl_entity:span:beta"),
        ],
        "doc_id long, entity string",
    )
    edges = spark.createDataFrame(
        [("nl_entity:span:alpha", "nl_entity:span:beta"),
         ("nl_entity:span:beta", "nl_entity:span:alpha")],
        "src string, dst string",
    )
    comp = kg_component(doc_entities, edges, ["nl_entity:span:alpha"])
    rows = {r["doc_id"]: r for r in comp.collect()}
    # hood = {alpha, beta} (seed + 1-hop), n_hood = 2
    # doc1: entities {alpha, gamma}, inter {alpha} -> 1/(2+2-1)
    # doc2: entities {beta}, inter {beta} -> 1/(1+2-1)
    assert rows["2"]["score"] == pytest.approx(0.5)
    assert rows["1"]["score"] == pytest.approx(1.0 / 3.0)
    assert rows["2"]["rank"] == 0 and rows["1"]["rank"] == 1
    with pytest.raises(ValueError, match="query entity nodes"):
        kg_component(doc_entities, edges, [])


def test_entity_vector_component(spark) -> None:
    node_embeddings = spark.createDataFrame(
        [("n:a", [2.0, 0.0]), ("n:b", [1.0, 1.0]), ("n:z", [0.0, 3.0])],
        "node_key string, embedding array<float>",
    )
    node_docs = spark.createDataFrame(
        [("n:a", 1), ("n:b", 1), ("n:z", 2)],
        "node_key string, doc_id long",
    )
    comp = entity_vector_component([1.0, 0.0], node_embeddings, node_docs)
    rows = {r["doc_id"]: r for r in comp.collect()}
    # doc1 best node = n:a (cos 1.0) beats n:b (cos ~0.707); doc2 cos 0
    assert rows["1"]["score"] == pytest.approx(1.0)
    assert rows["2"]["score"] == pytest.approx(0.0, abs=1e-12)
    assert rows["1"]["rank"] == 0


def test_hybrid_search_full_fanout_hand_computed(spark) -> None:
    """End-to-end: hybrid_search with kg + path_tree + entity_vector wired
    in; the top doc's fused score equals the hand-computed weighted-RRF
    sum over all four contributing sources
    (evidence_search_pipeline.cpp:184-229: w · 1/(12 + rank + 1) ·
    (1 + 0.5·clamp(score)))."""
    from yams_spark.operators.neighbors import hybrid_search

    docs = spark.createDataFrame(
        [(1, "alpha versus table scan"), (2, "beta table scan here"),
         (3, "gamma nothing here now")],
        "doc_id long, text string",
    )
    doc_entities = spark.createDataFrame(
        [(1, "nl_entity:span:alpha")], "doc_id long, entity string"
    )
    edges = spark.createDataFrame([], "src string, dst string")
    doc_paths = spark.createDataFrame(
        [(1, "/data/alpha/doc1.txt"), (2, "/data/other/doc2.txt"),
         (3, "/data/other/doc3.txt")],
        "doc_id long, path string",
    )
    node_embeddings = spark.createDataFrame(
        [("nl_entity:span:alpha", [2.0, 0.0])],
        "node_key string, embedding array<float>",
    )
    node_docs = spark.createDataFrame(
        [("nl_entity:span:alpha", 1)], "node_key string, doc_id long"
    )
    out = hybrid_search(
        spark, docs, query_text="Alpha versus Table", query_embedding=[1.0, 0.0],
        embedding_df=None, limit=10,
        kg_doc_entities=doc_entities, kg_edges=edges, doc_paths=doc_paths,
        node_embeddings=node_embeddings, node_docs=node_docs,
    )
    rows = {r["doc_id"]: r["fused_score"] for r in out.collect()}

    def rrf(weight, rank, score):
        return weight * (1.0 / (12.0 + rank + 1.0)) * (
            1.0 + 0.5 * min(max(score, 0.0), 1.0)
        )

    # text: only doc1 holds all of {alpha, versus, table} (implicit AND);
    # dl=4=avgdl, tf=1 -> per-term contribution = idf; df is computed over
    # the post-AND candidate set (1 doc), so every term has df=1; single-
    # row normalization is degenerate -> norm = bm25/25
    idf = lambda df_: math.log(1.0 + (3.0 - df_ + 0.5) / (df_ + 0.5))
    bm25 = 3 * idf(1)
    text_c = rrf(0.70, 0, bm25 / 25.0)
    # kg: query entities {alpha, table}, no edges -> hood = {alpha, table};
    # doc1 entities {alpha} -> |inter|=1 / |union|=1+2-1 = 0.5
    kg_c = rrf(0.04, 0, 0.5)
    # path_tree: seed 'alpha' (0.70) at offset 6 of 20-char path
    path_c = rrf(0.08, 0, 0.70 * (0.56 + 0.7 * 0.18 + 0.25 * 0.26))
    # entity_vector: node cos 1.0 -> doc1
    ev_c = rrf(0.05, 0, 1.0)
    assert rows["1"] == pytest.approx(text_c + kg_c + path_c + ev_c, rel=1e-9)
    # one AND hit (< 3) fires the OR retry over {alpha, versus, table}:
    # it adds doc2 ('table' only), whose min-max norm over the OR set
    # {doc1, doc2} is 0 (x 0.65 penalty), ranked second in the text
    # component; no other doc reaches any component
    assert rows["2"] == pytest.approx(rrf(0.70, 1, 0.0), rel=1e-9)
    assert set(rows) == {"1", "2"}
