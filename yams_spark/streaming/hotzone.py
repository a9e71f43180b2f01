"""Hotzone decay: per-key decayed interest scores and boosts.

Re-implements the reference's interest tracker
(``include/yams/search/hotzone_manager.h:15-59``,
``src/search/hotzone_manager.cpp:18-61``): per key, an exponentially
decayed score (factor ``0.5^(hours/half_life)``) accumulated on every
interaction, and a soft-saturating multiplicative boost

    boost = 1 + (max_boost-1) · clamp((1-e^-score)/(1-e^-1), 0, 1)

Spark recast: ``hotzone_batch`` folds each key's events in one
``applyInPandas`` group with the reference recurrence (``fold_events``).
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import pandas as pd

DEFAULT_HALF_LIFE_HOURS = 24.0  # hotzone_manager.h:19
DEFAULT_MAX_BOOST = 2.0  # hotzone_manager.h:21


def decay_factor(hours: float) -> float:
    """hotzone_manager.cpp:18-23."""
    return 0.5 ** (hours / DEFAULT_HALF_LIFE_HOURS)


def boost_from_score(score: float) -> float:
    """hotzone_manager.cpp:55-60 (soft saturation)."""
    sat = (1.0 - math.exp(-score)) / (1.0 - math.exp(-1.0))
    sat = min(max(sat, 0.0), 1.0)
    boost = 1.0 + (DEFAULT_MAX_BOOST - 1.0) * sat
    return min(max(boost, 1.0), DEFAULT_MAX_BOOST)


def fold_events(
    events: list[tuple[datetime, float]],
) -> tuple[float, datetime | None]:
    """record() semantics (hotzone_manager.cpp:25-41) folded over the
    events in time order: score = score·decay(elapsed) + weight. Elapsed
    is truncated to whole minutes like the C++ duration_cast."""
    score, last = 0.0, None
    for ts, weight in sorted(events, key=lambda e: e[0]):
        if weight <= 0.0:
            continue
        if last is None:
            score, last = weight, ts
            continue
        minutes = int((ts - last).total_seconds() // 60)
        score = score * decay_factor(minutes / 60.0) + weight
        last = ts
    return score, last


OUTPUT_SCHEMA = "key string, score double, boost double, last_ts timestamp"


def hotzone_batch(
    events,
    key_col: str = "key",
    ts_col: str = "ts",
    weight_col: str = "weight",
):
    """Batch twin: same math over a static DataFrame (one Arrow pass per
    key group via applyInPandas)."""
    from pyspark.sql import functions as F

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        events_l = []
        for ts, w in zip(pdf[ts_col], pdf[weight_col]):
            t = ts.to_pydatetime()
            if t.tzinfo is None:
                t = t.replace(tzinfo=timezone.utc)
            events_l.append((t, float(w)))
        score, last = fold_events(events_l)
        return pd.DataFrame(
            {
                "key": [pdf[key_col].iloc[0]],
                "score": [score],
                "boost": [boost_from_score(score)],
                "last_ts": [last.replace(tzinfo=None) if last else None],
            }
        )

    return events.groupBy(key_col).applyInPandas(fold, schema=OUTPUT_SCHEMA)
