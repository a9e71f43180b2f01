"""KG population stage (operators/kg.py): extraction offsets vs re.finditer,
node/alias/edge construction, node stats — the PostIngestQueue KG stage
analog (PostIngestQueue.cpp:2440-2720; migration.cpp:867-938)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from yams_spark.operators.kg import (
    ENTITY_PATTERN,
    build_kg_aliases,
    build_kg_edges,
    build_kg_nodes,
    extract_doc_entities,
    kg_node_stats,
    populate_kg,
)

TEXTS = [
    (1, "Alpha Beta went to New York City while alpha beta slept"),
    (2, "the Quick Fox and the Quick Fox again met Bob"),  # Bob: 3 chars
    (3, "no capitals here at all"),
    (4, "Ab is too short but Abc counts; McAlpha Alpha overlaps"),
    (5, None),
]


def test_extraction_matches_finditer(spark) -> None:
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    got = {
        (r["document_id"], r["entity_text"], r["start_offset"], r["end_offset"])
        for r in extract_doc_entities(docs).collect()
    }
    want = set()
    for doc_id, text in TEXTS:
        if text is None:
            continue
        for m in re.finditer(ENTITY_PATTERN, text):
            if len(m.group(0)) >= 3:
                want.add((doc_id, m.group(0), m.start(), m.end()))
    assert got == want
    # greedy multi-word spans: "New York City" is ONE entity, not three
    assert (1, "New York City", 19, 32) in got
    # 2-char matches dropped ("Ab"), 3-char kept ("Abc", "Bob")
    assert not any(e == "Ab" for _, e, _, _ in got)
    assert any(e == "Abc" for _, e, _, _ in got)


def test_extraction_acronyms_and_unicode(spark) -> None:
    """Widened span classes: all-caps acronyms ("NASA") and Latin-1
    accented names are entities; × / ÷ stay separators (unicode61 treats
    accented letters as token chars, the two non-letters as not)."""
    docs = spark.createDataFrame(
        [(1, "NASA launched Apollo Today"),
         (2, "Åsa Ärlig meets ØYVIND and Þor"),
         (3, "size×weight is ÷ no entity")],
        "doc_id long, text string",
    )
    got = {r["entity_text"]: r for r in extract_doc_entities(docs).collect()}
    assert got["NASA"]["node_key"] == "nl_entity:span:nasa"
    assert got["NASA"]["confidence"] == 0.75
    assert "Apollo Today" in got
    assert got["Åsa Ärlig"]["node_key"] == "nl_entity:span:åsa ärlig"
    assert "ØYVIND" in got and "Þor" in got
    assert not any("×" in e or "÷" in e for e in got)


def test_entity_pattern_cross_engine_parity() -> None:
    """Python re and DuckDB RE2 must produce IDENTICAL match lists for
    ENTITY_PATTERN (only greedy character-class quantifiers, no
    alternation/lookaround), and the entry's restated oracle pattern must
    be the same string — this is what keeps q43-q45/q61 oracle-green."""
    import duckdb

    import __spark_entry__ as entry

    assert entry._KG_PATTERN_DUCK == ENTITY_PATTERN
    con = duckdb.connect()
    cases = [
        "NASA launched Apollo Today",
        "the NAsa NASAlaunch ÉcoleNormale École Normale",
        "I Am Groot A B CD Ef",
        "Åsa Ärlig meets ØYVIND and Þor",
        "mixed ÀÖ×Øß÷øÿ bounds × ÷ test",
        "TCP-based Path To NOWHERE fast",
        "ALL CAPS RUN here",
    ] + [t for _, t in TEXTS if t]
    for c in cases:
        py = [m.group(0) for m in re.finditer(ENTITY_PATTERN, c)]
        dk = con.execute(
            "SELECT regexp_extract_all(?, ?)", [c, ENTITY_PATTERN]
        ).fetchone()[0]
        assert py == dk, c


def test_query_entity_nodes() -> None:
    from yams_spark.operators.kg import query_entity_nodes

    assert query_entity_nodes("compare NASA speed versus Table rows") == [
        "nl_entity:span:nasa", "nl_entity:span:table",
    ]
    assert query_entity_nodes("no capitals at all") == []


def test_node_key_and_confidence(spark) -> None:
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    ents = extract_doc_entities(docs)
    rows = {r["entity_text"]: r for r in ents.collect()}
    assert rows["New York City"]["node_key"] == "nl_entity:span:new york city"
    assert rows["New York City"]["confidence"] == 1.0  # 3 words, capped
    assert rows["Abc"]["confidence"] == 0.75  # single word
    assert rows["Alpha Beta"]["confidence"] == 1.0  # two words
    assert rows["Abc"]["extractor"] == "capspan"


def test_kg_nodes_and_doc_nodes(spark) -> None:
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    ents = extract_doc_entities(docs)
    nodes = {r["node_key"]: r for r in build_kg_nodes(ents).collect()}
    qf = nodes["nl_entity:span:quick fox"]
    assert qf["label"] == "Quick Fox" and qf["type"] == "span"
    assert qf["times_seen"] == 2  # two mentions in doc 2
    assert nodes["doc:1"]["type"] == "document"
    assert "doc:3" not in nodes  # no entities -> no doc context node
    # without doc nodes: entity rows only
    ent_only = build_kg_nodes(ents, include_doc_nodes=False)
    assert ent_only.where(F.col("type") == "document").count() == 0


def test_kg_aliases_variants(spark) -> None:
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    al = build_kg_aliases(extract_doc_entities(docs))
    rows = {
        (r["node_key"], r["source"]): (r["alias"], r["confidence"])
        for r in al.collect()
    }
    k = "nl_entity:span:new york city"
    assert rows[(k, "surface")] == ("New York City", 1.0)
    assert rows[(k, "lower")] == ("new york city", 0.9)
    assert rows[(k, "acronym")] == ("NYC", 0.7)
    # single-word entities get no acronym variant
    assert ("nl_entity:span:abc", "acronym") not in rows


def test_kg_edges_and_node_stats(spark) -> None:
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    ents = extract_doc_entities(docs)
    edges = build_kg_edges(ents)
    e = {(r["src"], r["dst"]): r for r in edges.collect()}
    # one edge per (entity, doc) even with repeated mentions
    assert ("nl_entity:span:quick fox", "doc:2") in e
    assert e[("nl_entity:span:quick fox", "doc:2")]["relation"] == "mentioned_in"
    assert e[("nl_entity:span:quick fox", "doc:2")]["weight"] == 1.0

    stats = {r["node"]: r for r in kg_node_stats(edges, pagerank_iters=10).collect()}
    # document nodes are pure sinks: in-degree only
    d2 = stats["doc:2"]
    assert d2["out_degree"] == 0 and d2["in_degree"] == d2["degree"]
    assert d2["neighbor_count"] == d2["in_degree"]
    # pagerank is a distribution over all nodes
    assert sum(r["pagerank"] for r in stats.values()) == pytest.approx(1.0, abs=1e-9)


def test_populate_kg_surface(spark) -> None:
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    out = populate_kg(docs, pagerank_iters=3)
    assert set(out) == {
        "kg_doc_entities", "kg_nodes", "kg_aliases", "kg_edges", "kg_node_stats",
    }
    assert out["kg_doc_entities"].count() > 0
    assert out["kg_node_stats"].where(F.col("pagerank").isNull()).count() == 0


def test_kg_node_embeddings_centroid(spark) -> None:
    """kg_node_embeddings = mean embedding of mentioning documents
    (migration.cpp:903-910; document-centroid stand-in)."""
    from yams_spark.operators.kg import build_kg_node_embeddings

    docs = spark.createDataFrame(
        [(1, "Alpha Beta here"), (2, "Alpha Beta again, twice Alpha Beta"),
         (3, "Solo Entity")],
        "doc_id long, text string",
    )
    ents = extract_doc_entities(docs)
    embs = spark.createDataFrame(
        [(1, [1.0, 3.0]), (2, [5.0, 7.0]), (3, [9.0, 11.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["node_key"]: r for r in build_kg_node_embeddings(ents, embs).collect()}
    # mentioned in docs 1 and 2 -> mean of their embeddings; repeated
    # mentions inside doc 2 do not double-weight it (distinct doc join)
    a = out["nl_entity:span:alpha beta"]
    assert a["n_docs"] == 2 and a["dim"] == 2
    assert a["embedding"] == [3.0, 5.0]
    # single-doc entity gets its doc's embedding verbatim
    solo = out["nl_entity:span:solo entity"]
    assert solo["n_docs"] == 1 and solo["embedding"] == [9.0, 11.0]
