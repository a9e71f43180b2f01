"""Semantic-neighbor graph + hybrid search tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yams_spark.functions.sketches import feature_hash_embedding
from yams_spark.operators.neighbors import hybrid_search, semantic_neighbor_edges


def test_neighbor_edges_topk_symmetric_clamped(spark) -> None:
    pairs = spark.createDataFrame(
        [
            ("a", "b", 0.99), ("a", "c", 0.95), ("a", "d", 0.91),
            ("b", "c", 0.97), ("a", "b", 0.90),  # duplicate pair, lower sim
        ],
        "url_a string, url_b string, cosine double",
    )
    edges = semantic_neighbor_edges(pairs, top_k=2, threshold=0.92)
    got = {(r["src"], r["dst"]): r["weight"] for r in edges.collect()}
    # per-src top-2: a -> b(.99), c(.95); b -> a(.99), c(.97); c -> b, a; d -> a
    assert got[("a", "b")] == pytest.approx(0.99)
    assert got[("b", "a")] == pytest.approx(0.99)  # symmetric
    assert ("a", "d") not in got or got.get(("a", "d"))  # d not in a's top-2...
    assert ("d", "a") in got  # ...but a IS d's best neighbor, so edge exists both ways
    assert ("a", "d") in got  # symmetric closure
    # weight clamped up to threshold
    assert got[("d", "a")] == pytest.approx(max(0.91, 0.92))
    # dedupe kept the max sim for (a,b)
    assert got[("a", "b")] == pytest.approx(0.99)


def test_hybrid_search_lexical_plus_vector(spark, sf_dir) -> None:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    emb = docs.select(
        F.col("doc_id").alias("vec_id"), "text"
    )
    import pandas as pd

    pdf = emb.toPandas()
    rows = [
        (int(r.vec_id), [float(x) for x in feature_hash_embedding(r.text.split())])
        for r in pdf.itertuples(index=False)
    ]
    embedding_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    target_text = pdf.iloc[0]["text"]
    qe = feature_hash_embedding(target_text.split())

    out = hybrid_search(
        spark, docs, query_text=" ".join(target_text.split()[:8]),
        query_embedding=qe, embedding_df=embedding_df, limit=5,
    ).collect()
    assert len(out) == 5
    # the target document (exact vector match, cosine 1.0) must fuse into
    # the top-5; with the tiny shared vocabulary the lexical component can
    # legitimately rank other docs above it (text weight 0.70 vs 0.30)
    target = str(int(pdf.iloc[0]["vec_id"]))
    assert any(r["doc_id"] == target for r in out)
    scores = [r["fused_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_zero_hit_query_returns_empty(spark) -> None:
    """A query whose terms appear nowhere in the corpus returns an empty
    result (the reference's empty FTS result), not a crash in the
    min-max normalizer."""
    docs = spark.createDataFrame(
        [(1, "alpha bravo charlie"), (2, "delta echo foxtrot")],
        "doc_id long, text string",
    )
    out = hybrid_search(
        spark, docs, query_text="zzz qqq xxx",
        query_embedding=None, embedding_df=None, limit=5,
    ).collect()
    assert out == []


def test_lexical_or_retry_expansion(spark) -> None:
    """search_lexical_pipeline.cpp:246-290: a scarce AND query (< 3 base
    hits) retries OR-expanded with the 0.65 score penalty on expanded-only
    docs; an abundant query never fires the expansion."""
    rows = [
        (1, "alpha bravo charlie delta common words here"),
        (2, "alpha bravo charlie something else entirely"),
        (3, "alpha only document without the others"),
        (4, "bravo only document without the others"),
        (5, "charlie only document without the others"),
        (6, "unrelated text about nothing in particular"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # scarce: all three terms together appear in only 2 docs -> expansion
    out = hybrid_search(
        spark, docs, query_text="alpha bravo charlie",
        query_embedding=None, embedding_df=None, limit=10,
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert {"1", "2"} <= ids, "base AND hits must survive"
    assert {"3", "4", "5"} <= ids, "OR expansion must pull single-term docs"
    assert "6" not in ids

    # abundant: single common term -> >= 3 base hits, expansion must NOT
    # fire (expansion needs >= 2 terms anyway; check via a 2-term query)
    out2 = hybrid_search(
        spark, docs, query_text="document without",
        query_embedding=None, embedding_df=None, limit=10,
    ).collect()
    ids2 = {r["doc_id"] for r in out2}
    assert ids2 == {"3", "4", "5"}  # the 3 AND hits, nothing expanded

    from yams_spark.operators.neighbors import expansion_terms

    assert expansion_terms(["alpha", "of", "alpha", "bravo"]) == ["alpha", "bravo"]
    assert expansion_terms(["ab", "xy"]) == []  # short tokens never expand
    assert len(expansion_terms([f"term{i}" for i in range(10)])) == 6


def test_tag_metadata_components(spark) -> None:
    """Tag matchAll intersects (score 1.0); metadata filters are
    conjunctive."""
    from yams_spark.operators.components import metadata_component, tag_component

    doc_tags = spark.createDataFrame(
        [(1, "red"), (1, "blue"), (2, "red"), (3, "blue")],
        "doc_id long, tag string",
    )
    allhits = tag_component(doc_tags, ["red", "blue"], match_all=True).collect()
    assert [(r["doc_id"], r["score"], r["rank"]) for r in allhits] == [("1", 1.0, 0)]
    anyhits = tag_component(doc_tags, ["red", "blue"], match_all=False).collect()
    assert [r["doc_id"] for r in anyhits] == ["1", "2", "3"]  # 2 matches first
    assert anyhits[1]["score"] == pytest.approx(1.0 / 1.1)

    doc_meta = spark.createDataFrame(
        [(1, "lang", "en"), (1, "src", "a"), (2, "lang", "en"), (2, "src", "b")],
        "doc_id long, key string, value string",
    )
    m = metadata_component(doc_meta, {"lang": "en", "src": "a"}).collect()
    assert [(r["doc_id"], r["score"]) for r in m] == [("1", 1.0)]
