"""Search-tuner bandit: UCB1 arm selection + batch reward aggregation.

The reference tunes retrieval strategy per query with a UCB1
multi-armed bandit (``reference src/search/tuner_mab.cpp``): arms are
sampled once each, then score ``mean + c·sqrt(ln(max(1,total))/n)``
with ``c = sqrt(2)`` (:17,44-50), rewards clamp to [0,1] (:64), ties
break to the lexicographically smaller arm id so replayed streams are
identical (:51-56), and state round-trips through JSON (:108-186).

Two recasts:

* ``TunerMAB`` — an exact sequential replica for driver-side use (the
  reference holds one per daemon; selection is inherently sequential).
* ``mab_stats`` — the batch view: pulls / clamped reward sums / means /
  UCB scores / best-arm flag computed from a reward log with one keyed
  aggregation. Sums and counts are order-free, so the batch result
  equals the sequential fold's final state exactly — making the bandit
  bootstrappable from a historical log at any scale and the whole thing
  oracle-checkable.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SQRT2 = 1.4142135623730951  # tuner_mab.cpp:13
MAB_SCHEMA_VERSION = 1


class TunerMAB:
    """Exact UCB1 replica (tuner_mab.cpp). Arms: list of (id, value)."""

    def __init__(self, exploration_c: float = SQRT2):
        self.exploration_c = exploration_c
        self.arms: list[dict] = []
        self.total_pulls = 0
        self.last_reward_source = "unknown"

    def set_arms(self, arms: list[tuple[str, float]]) -> None:
        self.arms = [
            {"id": a, "value": v, "pulls": 0, "reward_sum": 0.0} for a, v in arms
        ]
        self.total_pulls = 0
        self.last_reward_source = "unknown"

    def select_arm(self) -> int | None:
        if not self.arms:
            return None
        for i, a in enumerate(self.arms):
            if a["pulls"] == 0:
                return i
        best_score = -math.inf
        best = 0
        total = float(self.total_pulls)
        for i, a in enumerate(self.arms):
            n = float(a["pulls"])
            mean = a["reward_sum"] / n
            score = mean + self.exploration_c * math.sqrt(
                math.log(max(1.0, total)) / n
            )
            if score > best_score or (
                score == best_score and a["id"] < self.arms[best]["id"]
            ):
                best_score = score
                best = i
        return best

    def record_reward(self, arm_index: int, reward: float, source: str = "unknown") -> None:
        if arm_index >= len(self.arms):
            return
        clamped = min(max(reward, 0.0), 1.0)
        a = self.arms[arm_index]
        a["pulls"] += 1
        a["reward_sum"] += clamped
        self.total_pulls += 1
        self.last_reward_source = source

    def best_arm_id(self) -> str | None:
        best = None
        best_mean = -math.inf
        for a in self.arms:
            if a["pulls"] == 0:
                continue
            mean = a["reward_sum"] / a["pulls"]
            if mean > best_mean or (
                best is not None and mean == best_mean and a["id"] < best["id"]
            ):
                best_mean = mean
                best = a
        return best["id"] if best else None

    def to_json(self) -> str:
        return json.dumps(
            {
                "schema_version": MAB_SCHEMA_VERSION,
                "exploration_c": self.exploration_c,
                "total_pulls": self.total_pulls,
                "last_reward_source": self.last_reward_source,
                "arms": [
                    {"id": a["id"], "value": a["value"], "pulls": a["pulls"],
                     "reward_sum": a["reward_sum"]}
                    for a in self.arms
                ],
            }
        )

    def from_json(self, payload: str) -> bool:
        """Restore stats matching arms by id; unknown ids drop, missing
        arms reset (tuner_mab.cpp:152-169). False on schema mismatch
        (caller starts fresh)."""
        try:
            j = json.loads(payload)
        except ValueError:
            for a in self.arms:
                a["pulls"], a["reward_sum"] = 0, 0.0
            self.total_pulls = 0
            return False
        if not isinstance(j, dict) or j.get("schema_version") != MAB_SCHEMA_VERSION:
            return False
        restored = {e["id"]: e for e in j.get("arms", []) if "id" in e}
        total = 0
        for a in self.arms:
            m = restored.get(a["id"])
            if m is not None:
                a["pulls"] = int(m.get("pulls", 0))
                a["reward_sum"] = float(m.get("reward_sum", 0.0))
                total += a["pulls"]
            else:
                a["pulls"], a["reward_sum"] = 0, 0.0
        self.exploration_c = float(j.get("exploration_c", SQRT2))
        self.total_pulls = total
        self.last_reward_source = j.get("last_reward_source", "unknown")
        return True


def mab_stats(
    rewards: DataFrame,
) -> DataFrame:
    """(arm_id, pulls, reward_sum, mean_reward, ucb_score, is_best): the
    bandit's final state from a reward log — per-event clamp to [0,1]
    (tuner_mab.cpp:64), UCB at the final pull count, best arm = max mean
    with id-asc tie-break (:73-94). One keyed aggregation + a 1-row
    total broadcast; equals the sequential fold exactly because sums
    commute."""
    clamped = F.least(F.greatest(F.col("reward").cast("double"), F.lit(0.0)), F.lit(1.0))
    per_arm = (
        rewards.select(F.col("arm_id"), clamped.alias("r"))
        .groupBy("arm_id")
        .agg(F.count("*").alias("pulls"), F.sum("r").alias("reward_sum"))
    )
    total = per_arm.agg(F.sum("pulls").alias("total_pulls"))
    scored = (
        per_arm.crossJoin(F.broadcast(total))
        .withColumn("mean_reward", F.col("reward_sum") / F.col("pulls"))
        .withColumn(
            "ucb_score",
            F.col("mean_reward")
            + F.lit(SQRT2)
            * F.sqrt(
                F.log(F.greatest(F.lit(1.0), F.col("total_pulls").cast("double")))
                / F.col("pulls")
            ),
        )
    )
    best = (
        scored.orderBy(F.col("mean_reward").desc(), F.col("arm_id").asc())
        .limit(1)
        .select(F.col("arm_id").alias("best_arm"))
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .withColumn("is_best", F.col("arm_id") == F.col("best_arm"))
        .drop("total_pulls", "best_arm")
    )
