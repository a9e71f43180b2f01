"""Fallback query concepts (operators/concept_fallback.py) vs
hand-derived expectations from query_expansion.cpp:32-297."""

from __future__ import annotations

from collections import defaultdict

import pytest

from yams_spark.operators.concept_fallback import (
    fallback_concepts_df,
    generate_anchored_sub_phrases,
    generate_fallback_query_concepts,
    infer_fallback_concept_type,
    normalize_graph_surface,
    token_fallback_salience,
    tokenize_query_tokens,
)


def test_tokenize_and_surfaces():
    toks = tokenize_query_tokens("Hello, World-42!")
    assert [(t.original, t.normalized, t.index) for t in toks] == [
        ("Hello", "hello", 0), ("World", "world", 1), ("42", "42", 2),
    ]
    assert normalize_graph_surface("  CD4+ T-Cell  ") == "cd4 t cell"
    assert tokenize_query_tokens("...") == []


def test_salience_tiers():
    def sal(s):
        [t] = tokenize_query_tokens(s)
        return round(token_fallback_salience(t), 6)

    assert sal("2024") == pytest.approx(0.05 + 1.25 + 0.10, abs=1e-6)
    assert sal("activation") == pytest.approx(0.80, abs=1e-6)   # len 10
    assert sal("kinase") == pytest.approx(0.40, abs=1e-6)       # len 6
    assert sal("cell") == pytest.approx(0.15, abs=1e-6)         # len 4
    assert sal("go") == pytest.approx(0.05, abs=1e-6)           # len 2


def test_anchored_phrases_order_and_windows():
    # saliences: activation 0.80 anchors first; windows ordered by
    # center distance, 3-token before 2-token, full query excluded
    got = generate_anchored_sub_phrases(
        "protein kinase activation pathway", 4
    )
    assert got == [
        "kinase activation pathway",
        "protein kinase activation",
        "kinase activation",
        "activation pathway",
    ]
    assert generate_anchored_sub_phrases("too short", 4) == []
    assert generate_anchored_sub_phrases("a b c d", 0) == []


def test_anchored_weak_numeric_and_compressed():
    got = generate_anchored_sub_phrases("results show 2024 cancer treatment", 3)
    # every window containing 'show' (weak) or '2024' (numeric) dies;
    # the <=4-token compressed remainder fills the budget
    assert got == ["cancer treatment", "results cancer treatment"]


def test_type_cascade():
    assert infer_fallback_concept_type("CD4") == "protein"
    assert infer_fallback_concept_type("IL 2") == "protein"
    assert infer_fallback_concept_type("cdk inhibitors") == "protein"
    assert infer_fallback_concept_type("stem cell") == "cell"
    assert infer_fallback_concept_type("tumor growth") == "disease"
    assert infer_fallback_concept_type("signal pathway") == "biological_process"
    assert infer_fallback_concept_type("machine learning") == "concept"
    # keyword hits outrank the later tiers (cascade order)
    assert infer_fallback_concept_type("receptor cell") == "protein"


def test_generate_concepts_confidences_and_cap():
    out = generate_fallback_query_concepts(
        "protein kinase activation pathway", max_concepts=3
    )
    assert [c.text for c in out] == [
        "kinase activation pathway",
        "protein kinase activation",
        "kinase activation",
    ]
    assert all(c.confidence == pytest.approx(0.62, abs=1e-6) for c in out)
    assert out[0].type == "protein"  # 'kinase' fires before 'activation'
    assert out[0].end_offset == len(out[0].text)
    # token tier: confidence 0.45 + min(0.25, score*0.02)
    toks = generate_fallback_query_concepts("kinase 2024", max_concepts=4)
    assert [c.text for c in toks] == ["2024", "kinase"]  # salience order
    assert toks[0].confidence == pytest.approx(0.45 + 1.40 * 0.02, abs=1e-5)
    assert toks[1].confidence == pytest.approx(0.45 + 0.40 * 0.02, abs=1e-5)
    assert generate_fallback_query_concepts("anything", max_concepts=0) == []
    # min-length-3 surface gate drops 2-char concepts
    assert all(
        len(normalize_graph_surface(c.text)) >= 3
        for c in generate_fallback_query_concepts("go ab kinase", max_concepts=5)
    )


#: battery for the dataflow-twin equivalence: weak tokens, numerics,
#: repeats, casing, punctuation/unicode separators, short/degenerate
#: queries, >max_concepts anchors
_TWIN_QUERIES = [
    "protein kinase activation pathway",
    "results show 2024 cancer treatment",
    "CD4 T cell receptor signaling in monocyte differentiation",
    "tumor suppressor gene TP53 mutation analysis 2019 cohort",
    "IL 2 receptor alpha chain expression",
    "stem cell derived bipolar neuron cultures",
    "the of an in on at by",
    "reveals revealed suggests demonstrated shown",
    "alpha alpha alpha beta Alpha ALPHA beta",
    "Hello, World-42! naïve café résumé",
    "too short",
    "x",
    "",
    "machine learning based inhibition response models demonstrate robust "
    "pathway activation signatures across disease cohorts",
    "a1 b2 c3 d4 e5 f6",
    "9000 8000 7000 kinase",
    "go ab kinase pathway xy",
]


def test_dataflow_twin_matches_scalar(spark):
    """fallback_concepts_df ≡ generate_fallback_query_concepts on the
    full battery — text, type, rank order, and confidence (float32
    scalar vs double dataflow agree to 1e-6 at these magnitudes)."""
    df = spark.createDataFrame(
        [(i, q) for i, q in enumerate(_TWIN_QUERIES)],
        "query_id long, query string",
    )
    rows = fallback_concepts_df(df, max_concepts=8).orderBy(
        "query_id", "rank"
    ).collect()
    by_q: dict[int, list] = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    for i, q in enumerate(_TWIN_QUERIES):
        exp = generate_fallback_query_concepts(q, 8)
        got = by_q.get(i, [])
        assert [(r.text, r.type) for r in got] == [
            (c.text, c.type) for c in exp
        ], f"query {i}: {q!r}"
        assert [r.rank for r in got] == list(range(1, len(exp) + 1))
        for r, c in zip(got, exp):
            assert r.confidence == pytest.approx(c.confidence, abs=2e-6)


def test_dataflow_twin_cap_variants(spark):
    """Cap semantics survive the dedup-then-truncate rewrite at small
    and large budgets."""
    qs = [
        "protein kinase activation pathway",
        "tumor suppressor gene TP53 mutation analysis 2019 cohort",
    ]
    df = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qs)], "query_id long, query string"
    )
    for cap in (1, 3, 16):
        rows = fallback_concepts_df(df, max_concepts=cap).orderBy(
            "query_id", "rank"
        ).collect()
        by_q: dict[int, list] = defaultdict(list)
        for r in rows:
            by_q[r.query_id].append(r)
        for i, q in enumerate(qs):
            exp = generate_fallback_query_concepts(q, cap)
            assert [r.text for r in by_q.get(i, [])] == [c.text for c in exp]
