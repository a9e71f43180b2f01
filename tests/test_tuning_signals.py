"""Tuning signals (operators/tuning_signals.py) vs hand-derived
expectations from tuning_features.cpp:34-110, tuning_reward.cpp:26-49,
and search_tuner.h:770-803."""

from __future__ import annotations

import pytest

from yams_spark.operators.tuning_signals import (
    bucketize,
    combine_reward,
    featurize,
)

_CTX_SCHEMA = (
    "doc_count_log10 double, code_ratio double, prose_ratio double, "
    "embedding_coverage double, native_symbol_density double, "
    "path_relative_depth_avg double, binary_ratio double, "
    "kg_edge_density double, query_token_count_log2 double, "
    "query_has_vector_path int, query_has_kg_anchors int, "
    "corpus_epoch long, topology_epoch long"
)


def test_featurize_goldens(spark):
    rows = [
        # typical mid-range context
        (3.0, 0.75, 0.25, 0.5, 5.0, 4.0, 0.1, 20.0, 3.0, 1, 0, 7, 2),
        # everything saturating / out of range
        (9.0, 1.2, -0.5, 2.0, 25.0, 12.0, 0.9, 0.0, 12.0, 0, 1, 0, 0),
    ]
    df = spark.createDataFrame(rows, _CTX_SCHEMA)
    got = featurize(df).collect()
    f = [got[0][f"f{i}"] for i in range(11)]
    assert f == pytest.approx(
        [0.5, 0.5, -0.5, 0.0, -0.5, 0.4, -0.8, 1.0, 0.5, 1.0, -1.0]
    )
    g = [got[1][f"f{i}"] for i in range(11)]
    # 9/6 clamps to 1; ratios clamp to [0,1] before centering; 25/10-1
    # clamps to 1; 12/10 clamps to 1; kg 0/10-1 = -1; 12/6 clamps to 1
    assert g == pytest.approx(
        [1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 0.8, -1.0, 1.0, -1.0, 1.0]
    )


def test_bucketize_goldens(spark):
    rows = [
        (3.2, 0.25, 0.0, 1.0 / 3.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0, 0, 42, 7),
        (-1.0, 0.74, 0.0, 0.9, 0.0, 0.0, 0.49, 0.0, 0.0, 0, 0, 0, 0),
        (6.5, 1.5, 0.0, -0.2, 0.0, 0.0, 1.0, 0.0, 0.0, 0, 0, 1, 1),
    ]
    df = spark.createDataFrame(rows, _CTX_SCHEMA)
    got = [r["bucket"] for r in bucketize(df).collect()]
    # quartile boundary 0.25 -> 1; tercile boundary 1/3 -> 1; m: 0.5 -> 1
    assert got[0] == "c1/d3/e1/m1/ce42/te7"
    # negative log10 -> decade 0; 0.74 -> q2; 0.9 -> t2; 0.49 -> m0
    assert got[1] == "c2/d0/e2/m0/ce0/te0"
    # 6.5 caps at 6; ratio 1.5 clamps -> q3; coverage clamps low -> t0
    assert got[2] == "c3/d6/e0/m1/ce1/te1"


def test_combine_reward_branches(spark):
    nan, inf = float("nan"), float("inf")
    rows = [
        # label only, over-budget penalty, trivial proxy -> labels
        (1, 0.9, 0.0, 0.0, 0.0, 0.2),
        # label + non-trivial proxy -> mixed, label still drives value
        (2, 0.5, 0.5, 0.0, 0.0, 0.0),
        # no label -> proxy blend 0.6+0.2+0.2
        (3, None, 1.0, 1.0, 1.0, 0.0),
        # NaN label routes to the proxy branch
        (4, nan, 0.5, 0.0, 0.0, 0.0),
        # infinite proxy inputs are zeroed; negative over-budget floors at 0
        (5, None, inf, 0.4, -inf, -0.5),
        # label clamps to [0,1]
        (6, 2.0, 0.0, 0.0, 0.0, 0.0),
        # proxy under-budget clamps to 0
        (7, None, 0.1, 0.0, 0.0, 0.9),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, label_reward double, kg_utility double, "
        "freshness_boost double, agreement_boost double, "
        "latency_over_budget double",
    )
    got = {r["id"]: r for r in combine_reward(df).collect()}
    assert got[1]["reward_value"] == pytest.approx(0.7)
    assert got[1]["reward_source"] == "labels"
    assert got[2]["reward_value"] == pytest.approx(0.5)
    assert got[2]["reward_source"] == "mixed"
    assert got[3]["reward_value"] == pytest.approx(1.0)
    assert got[3]["reward_source"] == "proxy"
    assert got[4]["reward_value"] == pytest.approx(0.3)
    assert got[4]["reward_source"] == "proxy"
    assert got[5]["reward_value"] == pytest.approx(0.4 * 0.2)
    assert got[5]["reward_source"] == "proxy"
    assert got[6]["reward_value"] == pytest.approx(1.0)
    assert got[6]["reward_source"] == "labels"
    assert got[7]["reward_value"] == 0.0
    assert got[7]["reward_source"] == "proxy"
