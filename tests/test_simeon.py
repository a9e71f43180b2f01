"""Simeon lexical analog (operators/simeon.py): PMI concept mining and
the z-score blend + out-of-pool reconcile, hand-computed on a 4-doc
fixture (simeon_lexical_backend.cpp:63-88,604-620)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from yams_spark.operators.search import build_posting_lists
from yams_spark.operators.simeon import pmi_concepts, simeon_text_component

DOCS = [
    (1, "spark table join"),
    (2, "spark table scan"),
    (3, "spark index scan"),
    (4, "other words here"),
]
TERMS = ["spark", "table"]


def _postings(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return build_posting_lists(docs, "doc_id", "text")


def test_pmi_concepts_hand_computed(spark) -> None:
    got = {r["concept"]: r["pmi"] for r in pmi_concepts(_postings(spark), TERMS).collect()}
    # only (spark, scan) co-occurs in >= 2 docs among non-query terms;
    # pmi = ln(N * df12 / (df_spark * df_scan)) = ln(4*2/(3*2))
    assert set(got) == {"scan"}
    assert got["scan"] == pytest.approx(math.log(8.0 / 6.0))
    with pytest.raises(ValueError, match="query terms"):
        pmi_concepts(_postings(spark), [])


def test_simeon_component_blend_hand_computed(spark) -> None:
    comp = simeon_text_component(_postings(spark), TERMS)
    rows = {int(r["doc_id"]): r for r in comp.collect()}
    assert set(rows) == {1, 2, 3}
    assert all(r["source"] == "simeon_text" for r in rows.values())

    # pool = docs with BOTH terms = {1, 2}; both bm25 equal -> z(bm25)=0;
    # concept 'scan' gives doc2 cscore = pmi*ln2, doc1 = 0 ->
    # z(concept) = ±1 -> blend doc2 = +0.5, doc1 = -0.5 (floor)
    # doc3 (out of pool, bm25 = idf_spark) = floor - 1 + b/(b+1)
    idf_spark = math.log(1.0 + (4.0 - 3.0 + 0.5) / 3.5)
    b3 = idf_spark
    blend = {1: -0.5, 2: 0.5, 3: -0.5 - 1.0 + b3 / (b3 + 1.0)}
    mn, mx = blend[3], blend[2]
    assert rows[2]["score"] == pytest.approx(1.0)
    assert rows[1]["score"] == pytest.approx((blend[1] - mn) / (mx - mn))
    assert rows[3]["score"] == pytest.approx(0.0, abs=1e-12)
    # ordering: pool z-blend order, then out-of-pool strictly below
    assert (rows[2]["rank"], rows[1]["rank"], rows[3]["rank"]) == (0, 1, 2)


def test_hybrid_search_simeon_source(spark) -> None:
    from yams_spark.operators.neighbors import hybrid_search

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")

    def run(**kw):
        out = hybrid_search(
            spark, docs, query_text="spark table", query_embedding=None,
            embedding_df=None, limit=10, **kw,
        )
        return {int(r["doc_id"]): r["fused_score"] for r in out.collect()}

    # docs 1 and 2 hold both terms; with 2 AND hits the OR retry adds
    # doc3 ('spark'); the simeon source adds evidence on top of the text
    base, got = run(), run(enable_simeon=True)
    assert set(base) == set(got) == {1, 2, 3}
    assert all(got[d] >= base[d] for d in got)
    assert any(got[d] > base[d] for d in got)
