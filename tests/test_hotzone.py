"""Hotzone decay operator tests (reference semantics
hotzone_manager.cpp:18-61) — pure-math goldens and the batch operator."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from yams_spark.streaming import hotzone as hz

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def test_decay_factor() -> None:
    assert hz.decay_factor(0.0) == 1.0
    # 24 h half-life (hotzone_manager.h:19)
    assert hz.decay_factor(24.0) == pytest.approx(0.5)
    assert hz.decay_factor(48.0) == pytest.approx(0.25)


def test_boost_saturation() -> None:
    assert hz.boost_from_score(0.0) == 1.0
    # score=1 maps near max influence (hotzone_manager.cpp:55-56)
    assert hz.boost_from_score(1.0) == pytest.approx(2.0)
    assert hz.boost_from_score(100.0) == 2.0  # saturates at max boost
    b = hz.boost_from_score(0.5)
    assert 1.0 < b < 2.0


def test_fold_events_reference_recurrence() -> None:
    events = [(T0, 1.0), (T0 + timedelta(hours=24), 3.0)]
    score, last = hz.fold_events(events)
    assert score == pytest.approx(1.0 * 0.5 + 3.0)
    assert last == T0 + timedelta(hours=24)
    # non-positive weights ignored (record() guard)
    score2, _ = hz.fold_events([(T0, 1.0), (T0 + timedelta(hours=1), 0.0)])
    assert score2 == pytest.approx(1.0)
    # minute truncation like duration_cast<minutes>
    score3, _ = hz.fold_events([(T0, 1.0), (T0 + timedelta(seconds=90), 1.0)])
    assert score3 == pytest.approx(1.0 * hz.decay_factor(1 / 60.0) + 1.0)


def test_hotzone_batch(spark) -> None:
    rows = [
        ("a", T0.replace(tzinfo=None), 1.0),
        ("a", (T0 + timedelta(hours=24)).replace(tzinfo=None), 3.0),
        ("b", T0.replace(tzinfo=None), 2.0),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, weight double")
    got = {r["key"]: r for r in hz.hotzone_batch(df).collect()}
    assert got["a"]["score"] == pytest.approx(3.5)
    assert got["b"]["score"] == pytest.approx(2.0)
    assert got["a"]["boost"] == pytest.approx(hz.boost_from_score(3.5))
