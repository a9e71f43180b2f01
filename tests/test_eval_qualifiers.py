"""Tests for the evaluation operator and the metadata query filter."""

from __future__ import annotations

import pytest

from yams_spark.operators.evaluation import labeled_pairs, pairwise_f1


def test_pairwise_f1_hand_computed(spark) -> None:
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"), ("a", "d")],
        "url_a string, url_b string",
    )
    truth = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 3), ("e", 3)], "url string, family_id long"
    )
    members = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("d", "g2"), ("e", "g2")], "url string, group_key string"
    )
    row = pairwise_f1(labeled_pairs(pairs, truth), members).collect()[0]
    # matches: (a,b) tp; (d,e) tp; (a,c) pred F label F tn; (b,c) tn; (a,d) tn
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (2, 0, 0, 3)
    assert row["f1"] == pytest.approx(1.0)


def test_metadata_query_filter(spark):
    from yams_spark.operators.qualifiers import metadata_query_filter

    rows = [
        ("a", "text/html", "report_1.txt",
         {"project": "x", "keep": ""}, 100, 200),
        ("b", "text/plain", "report_2.txt",
         {"project": "y", "tmp": ""}, 150, 250),
        ("c", "text/html", "notes.md", {"project": "x"}, 50, 300),
        ("d", "text/html", "report_3.txt", {}, 120, 220),
    ]
    df = spark.createDataFrame(
        rows, "k string, mime_type string, name string, "
        "tags map<string,string>, created_ts long, modified_ts long"
    )

    def keys(**kw):
        return {
            r["k"] for r in df.where(metadata_query_filter(**kw)).collect()
        }

    assert keys(mime_type="text/html") == {"a", "c", "d"}
    # std::regex_match = FULL match: 'report_' alone matches nothing
    assert keys(name_pattern="report_") == set()
    assert keys(name_pattern=r"report_\d\.txt") == {"a", "b", "d"}
    assert keys(required_tags=["project", "keep"]) == {"a"}
    assert keys(any_tags=["keep", "tmp"]) == {"a", "b"}
    assert keys(exclude_tags=["tmp"]) == {"a", "c", "d"}
    assert keys(created_after=100) == {"a", "b", "d"}
    assert keys(modified_before=220) == {"a", "d"}
    assert keys(custom_fields={"project": "x"}) == {"a", "c"}
    assert keys(
        mime_type="text/html", required_tags=["project"],
        custom_fields={"project": "x"}, created_after=60,
    ) == {"a"}
