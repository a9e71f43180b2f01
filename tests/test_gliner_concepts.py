"""GLiNER query-concept post-processing (gliner_query_extractor.cpp +
query_text_utils.cpp) — hand-computed cascade goldens."""

from __future__ import annotations

from pyspark.sql import functions as F

from yams_spark.operators.gliner_concepts import (
    canonicalize_entity_type_py,
    gliner_query_concepts,
    trim_collapse_punct,
)


def test_trim_collapse_punct(spark):
    cases = [
        ("  (hello,  world)!  ", "hello, world"),
        ("((nested))", "nested"),
        ("--keep-dashes--", "--keep-dashes--"),
        ("_under_", "_under_"),
        ("( spaced )", " spaced "),  # one-pass strip exposes spaces
        ("!!!", ""),
        ("a", "a"),
    ]
    df = spark.createDataFrame(cases, "raw string, want string")
    for r in df.select(
        "want", trim_collapse_punct("raw").alias("got")
    ).collect():
        assert r["got"] == r["want"]


def test_canonicalize_entity_type():
    assert canonicalize_entity_type_py("ORG") == "organization"
    assert canonicalize_entity_type_py(" Company ") == "organization"
    assert canonicalize_entity_type_py("loc") == "location"
    assert canonicalize_entity_type_py("Tool") == "method"  # via technology
    assert canonicalize_entity_type_py("technology") == "method"
    assert canonicalize_entity_type_py("library") == "framework"
    assert canonicalize_entity_type_py("") == "concept"
    assert canonicalize_entity_type_py("Gene") == "gene"


def _entities(spark):
    rows = [
        # (query, idx, text, type, conf)
        (1, 0, "  Apache   Spark ", "Technology", 0.9),
        (1, 1, "apache spark", "tool", 0.95),       # same key, higher conf
        (1, 2, "(CD28)", "protein", 0.8),           # punct strip
        (1, 3, "low", "concept", 0.39),             # below floor
        (1, 4, "2021", "date", 0.99),               # low-value type
        (1, 5, "x", "concept", 0.9),                # too short
        (1, 6, "!!!", "concept", 0.9),              # no alnum after strip
        (1, 7, "42", "concept", 0.9),               # no alpha & len<=2
        (1, 8, "420", "concept", 0.9),              # no alpha but len 3: kept
        (1, 9, "mystery", "weird_type", 0.9),       # not in requested set
        (2, 0, "BERT", "Org", 0.7),
        (2, 1, "bert", "company", 0.7),             # same canonical key, tie
    ]
    return spark.createDataFrame(
        rows,
        "query_id long, entity_idx int, entity_text string, "
        "entity_type string, confidence double",
    )


def test_gliner_cascade(spark):
    out = gliner_query_concepts(_entities(spark)).collect()
    q1 = sorted(
        [r for r in out if r["query_id"] == 1], key=lambda r: r["rank"]
    )
    # kept: apache spark (method, 0.95 wins dedup), CD28 (protein 0.8),
    # 420 (concept 0.9). Order: conf desc, text asc.
    assert [
        (r["concept_text"], r["concept_type"], r["confidence"], r["rank"])
        for r in q1
    ] == [
        ("apache spark", "method", 0.95, 1),
        ("420", "concept", 0.9, 2),
        ("CD28", "protein", 0.8, 3),
    ]
    q2 = [r for r in out if r["query_id"] == 2]
    # Org and company both canonicalize to organization|bert; the tie
    # keeps the earlier entity (idx 0, 'BERT').
    assert len(q2) == 1 and q2[0]["concept_text"] == "BERT"


def test_surface_variants():
    from yams_spark.operators.gliner_concepts import (
        generate_surface_variants,
        split_code_symbol_tokens,
    )

    assert split_code_symbol_tokens("FooBar::baz_qux v2") == [
        "foo", "bar", "baz", "qux", "v2",
    ]
    # biomedical: greek expansion + tokens (min len 2) + joined
    v = generate_surface_variants("TNF-α", "biomedical", 8)
    assert v == [
        "tnf-α",              # normalized input
        "tnf",                # graph surface of input ('α' is non-alnum)
        "tnf- alpha",         # normalized greek expansion
        "tnf alpha",          # graph surface of expansion
        # token variants: tnf (dup), alpha; joined 'tnf alpha' (dup)
        "alpha",
    ]
    # general: 3-char token floor drops 'of'
    g = generate_surface_variants("Bank of Ideas", "general", 8)
    assert g == [
        "bank of ideas",      # normalized (lowered) input
        "bank", "ideas",      # tokens >= 3 chars
        # joined 'bank of ideas' dups the first entry
    ]
    # code symbol: camel split + suffix chains
    c = generate_surface_variants("QueryRouter::route", "code_symbol", 10)
    assert c[0] == "queryrouter::route"
    assert "queryrouter route" in c          # graph surface
    assert "query router route" in c         # code-token join
    assert "router route" in c               # suffix chain
    # cap respected, keep-first order
    assert generate_surface_variants("TNF-α", "biomedical", 2) == [
        "tnf-α", "tnf",
    ]
    assert generate_surface_variants("", "general", 8) == []
    assert generate_surface_variants("x", "general", 0) == []


def test_surface_variants_col(spark):
    from pyspark.sql import functions as F

    from yams_spark.operators.gliner_concepts import (
        generate_surface_variants,
        surface_variants_col,
    )

    rows = [
        ("TNF-α", "biomedical"),
        ("Bank of Ideas", "general"),
        ("QueryRouter::route", "code_symbol"),
    ]
    df = spark.createDataFrame(rows, "text string, kind string")
    got = {
        r["text"]: r["v"]
        for r in df.select(
            "text", surface_variants_col("text", "kind").alias("v")
        ).collect()
    }
    for text, kind in rows:
        assert got[text] == generate_surface_variants(text, kind, 8)
