"""Facet sampling (operators/facets.py): exact fallback, deterministic
hash sample, sampled-vs-exact agreement bounds (search_facets.cpp:78-97
recast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yams_spark.operators.facets import (
    choose_sample_digits,
    facet_counts,
)


def _skewed(spark, n=20000):
    # category shares: a=50%, b=30%, c=15%, d=5% (deterministic by id)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 20 < 10, "a")
        .when(F.col("id") % 20 < 16, "b")
        .when(F.col("id") % 20 < 19, "c")
        .otherwise("d")
        .alias("cat"),
        F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(F.lit("x")).alias("sp"),
    )


def test_choose_sample_digits() -> None:
    assert choose_sample_digits(None) == 0
    assert choose_sample_digits(1000) == 0  # under target -> exact
    assert choose_sample_digits(65536) == 0  # FACET_SAMPLE_TARGET
    assert choose_sample_digits(16 * 65536) == 1
    assert choose_sample_digits(16**2 * 65536) == 2


def test_exact_facets(spark) -> None:
    d = _skewed(spark, 2000)
    out = facet_counts(d, ["cat", "sp"]).collect()
    rows = {(r["field"], r["value"]): r for r in out}
    assert rows[("cat", "a")]["n"] == 1000 and rows[("cat", "a")]["rk"] == 1
    assert rows[("cat", "b")]["rk"] == 2 and rows[("cat", "d")]["rk"] == 4
    # nulls skipped, not a facet value
    assert ("sp", None) not in rows
    assert rows[("sp", "x")]["n"] == d.where(F.col("sp").isNotNull()).count()
    assert not any(r["approximate"] for r in out)
    with pytest.raises(ValueError, match="facet fields"):
        facet_counts(d, [])


def test_sampled_agreement_and_determinism(spark) -> None:
    d = _skewed(spark)
    exact = {
        r["value"]: r["n"] for r in facet_counts(d, ["cat"]).collect()
    }
    sampled = facet_counts(d, ["cat"], sample_hex_digits=1)
    s1 = {r["value"]: r["n"] for r in sampled.collect()}
    # deterministic: identical on re-run
    assert {r["value"]: r["n"] for r in sampled.collect()} == s1
    assert all(r["approximate"] for r in facet_counts(d, ["cat"], sample_hex_digits=1).collect())
    # scaled estimates agree within 15% relative error for values with
    # >= 5% true share (binomial: ~1100+ sampled rows at 1/16 of 20k)
    for v, n_true in exact.items():
        if n_true / 20000 >= 0.05:
            assert s1[v] == pytest.approx(n_true, rel=0.15), v
    # the big/small ordering survives sampling
    ranked = [r["value"] for r in sampled.orderBy("rk").collect()]
    assert ranked[0] == "a"
