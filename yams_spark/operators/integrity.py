"""Integrity verification: chunk validation against manifests + the
verification scheduler — bit-rot detection as batch dataflow.

Re-expresses the reference's integrity subsystem
(``/root/reference/src/integrity/chunk_validator.cpp:31-140``
``validateChunk``/``validateManifest``,
``integrity_verifier.cpp``, ``verification_scheduler.cpp`` with the
priority model of ``include/yams/integrity/verifier.h:87-105``) the
Spark way: the reference walks one manifest at a time through a chunk
provider callback; at 100 TB the same check is ONE equi-join of the
manifest table against the chunk store with the hash recomputed
JVM-side (``sha2``), so validation throughput is scan-bound and every
store shard validates in parallel. Missing chunks fall out of the left
join; per-file rollups reproduce ``ValidationReport`` /
``IntegrityReport`` (success/error rates, verifier.h:71-82).

The scheduler is a ranking, not a queue: the reference's max-heap
priority ``failureCount·1000 + age_hours/24 + accessCount/10``
(verifier.h:95-99, Balanced strategy; ByAge/BySize/ByFailures/ByAccess
order by one factor) becomes an ``orderBy().limit(budget)`` —
TakeOrderedAndProject, no global sort — so "verify the stalest N blocks
this cycle" is the same bounded query at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: verifier.h:95-99 getPriority() constants
PRIORITY_FAILURE_WEIGHT = 1000
PRIORITY_AGE_DIVISOR_H = 24  # age in hours / 24 (i.e. days)
PRIORITY_ACCESS_DIVISOR = 10

SCHEDULING_STRATEGIES = ("by_age", "by_size", "by_failures", "by_access", "balanced")


def validate_chunks(
    manifests: DataFrame,
    store: DataFrame,
) -> DataFrame:
    """manifests (file_hash, chunk_hash, offset, size) × store
    (chunk_hash, data) → per-chunk validation rows
    (chunk_validator.cpp:31-43, 54-140): status 'valid' when
    sha256(data) matches the manifest hash, 'corrupt' on mismatch,
    'missing' when the store has no row. One left join + a JVM-side
    sha2 — no Python in the loop."""
    st = store.select(
        F.col("chunk_hash").alias("_expected"),
        F.sha2(F.col("data").cast("binary"), 256).alias("_actual"),
    )
    return (
        manifests.join(
            st, manifests["chunk_hash"] == st["_expected"], "left"
        )
        .select(
            "file_hash",
            "chunk_hash",
            "offset",
            "size",
            F.when(F.col("_actual").isNull(), F.lit("missing"))
            .when(F.col("_actual") == F.col("chunk_hash"), F.lit("valid"))
            .otherwise(F.lit("corrupt"))
            .alias("status"),
        )
    )


def integrity_report(validated: DataFrame) -> DataFrame:
    """Per-file rollup of ``validate_chunks`` output — the
    ValidationReport / IntegrityReport counters and rates
    (verifier.h:60-82: success = passed/verified, error =
    (failed+missing)/verified; chunk_validator.cpp:141-170)."""
    agg = validated.groupBy("file_hash").agg(
        F.count("*").alias("blocks_verified"),
        F.sum((F.col("status") == "valid").cast("long")).alias("blocks_passed"),
        F.sum((F.col("status") == "corrupt").cast("long")).alias("blocks_failed"),
        F.sum((F.col("status") == "missing").cast("long")).alias("blocks_missing"),
        F.sum(F.col("size")).alias("total_bytes"),
    )
    return agg.select(
        "file_hash",
        "blocks_verified",
        "blocks_passed",
        "blocks_failed",
        "blocks_missing",
        "total_bytes",
        (F.col("blocks_passed") / F.col("blocks_verified")).alias("success_rate"),
        (
            (F.col("blocks_failed") + F.col("blocks_missing"))
            / F.col("blocks_verified")
        ).alias("error_rate"),
        (F.col("blocks_failed") + F.col("blocks_missing") == 0).alias(
            "overall_success"
        ),
    )


def repair_chunks(
    validated: DataFrame,
    repair_source: DataFrame,
) -> DataFrame:
    """Repair attempt for every failed chunk (repair_manager.cpp:116-170
    ``attemptRepair``: try strategies in order — backup / P2P / parity /
    manifest reconstruction — and accept a candidate only if it hashes
    back to the expected block). ``repair_source`` is the ordered union
    of those strategies' candidate tables, (chunk_hash, data, strategy,
    priority) with LOWER priority tried first.

    Returns one row per failed chunk: (file_hash, chunk_hash, offset,
    size, status, repaired boolean, repair_strategy) — repaired=true only
    when some candidate's sha256 equals the expected hash, keeping the
    best (lowest-priority) verifying candidate. All verification is one
    join + JVM-side sha2; no per-chunk callbacks."""
    failed = validated.where(F.col("status") != "valid")
    cand = repair_source.select(
        F.col("chunk_hash").alias("_rhash"),
        F.sha2(F.col("data").cast("binary"), 256).alias("_ractual"),
        F.col("strategy").alias("_rstrategy"),
        F.col("priority").alias("_rpriority"),
    )
    joined = failed.join(
        cand,
        (failed["chunk_hash"] == cand["_rhash"])
        & (cand["_ractual"] == failed["chunk_hash"]),
        "left",
    )
    best = (
        joined.groupBy("file_hash", "chunk_hash", "offset", "size", "status")
        .agg(
            F.min(
                # unmatched left rows must stay NULL (min skips nulls);
                # a bare struct(null, null) would win the min instead
                F.when(
                    F.col("_rhash").isNotNull(),
                    F.struct("_rpriority", "_rstrategy"),
                )
            ).alias("_best")
        )
        .select(
            "file_hash",
            "chunk_hash",
            "offset",
            "size",
            "status",
            F.col("_best").isNotNull().alias("repaired"),
            F.col("_best._rstrategy").alias("repair_strategy"),
        )
    )
    return best


def integrity_report_with_repairs(
    validated: DataFrame, repairs: DataFrame
) -> DataFrame:
    """Per-file IntegrityReport including ``blocksRepaired`` — success
    rate counts repaired blocks as good, exactly verifier.h:71-75:
    (passed + repaired) / verified."""
    rep = repairs.groupBy("file_hash").agg(
        F.sum(F.col("repaired").cast("long")).alias("blocks_repaired")
    )
    base = integrity_report(validated).drop("success_rate", "overall_success")
    return (
        base.join(rep, "file_hash", "left")
        .withColumn(
            "blocks_repaired", F.coalesce(F.col("blocks_repaired"), F.lit(0))
        )
        .select(
            "file_hash",
            "blocks_verified",
            "blocks_passed",
            "blocks_failed",
            "blocks_missing",
            "blocks_repaired",
            "total_bytes",
            (
                (F.col("blocks_passed") + F.col("blocks_repaired"))
                / F.col("blocks_verified")
            ).alias("success_rate"),
            "error_rate",
            (
                F.col("blocks_failed") + F.col("blocks_missing")
                == F.col("blocks_repaired")
            ).alias("fully_repaired"),
        )
    )


def monitor_metrics(
    events: DataFrame,
    window_sec: int = 60,
    error_rate_threshold: float = 0.1,
) -> DataFrame:
    """Verification monitor (verification_monitor.cpp: RateTracker 60 s
    windows + shouldAlert): events (ts timestamp, status, repaired
    boolean nullable) → per-window metrics. Alert fires only with
    sufficient activity (verifications/s ≥ 1, :160-166) and when the
    error ratio exceeds the threshold (default 0.1, :103). The
    reference's in-memory deque is a tumbling event-time window here —
    the same aggregation works as a Structured Streaming sink."""
    w = F.window("ts", f"{window_sec} seconds")
    agg = events.groupBy(w.alias("w")).agg(
        F.count("*").alias("total_verifications"),
        F.sum((F.col("status") != "valid").cast("long")).alias("total_errors"),
        F.sum(F.col("repaired").isNotNull().cast("long")).alias(
            "repair_attempts"
        ),
        F.sum(F.coalesce(F.col("repaired"), F.lit(False)).cast("long")).alias(
            "successful_repairs"
        ),
    )
    vps = F.col("total_verifications") / F.lit(float(window_sec))
    eps = F.col("total_errors") / F.lit(float(window_sec))
    # the reference divides the two RATES; over one shared window that is
    # exactly the count ratio — computed as counts here so the value (and
    # the threshold comparison) doesn't pick up an extra rounding step
    ratio = F.when(
        F.col("total_verifications") > 0,
        F.col("total_errors") / F.col("total_verifications"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("w.start").alias("window_start"),
        "total_verifications",
        "total_errors",
        "repair_attempts",
        "successful_repairs",
        vps.alias("verifications_per_sec"),
        eps.alias("errors_per_sec"),
        ratio.alias("error_rate"),
        ((vps >= 1.0) & (ratio > error_rate_threshold)).alias("should_alert"),
    )


def verification_priority(
    blocks: DataFrame,
    now_epoch: int,
    strategy: str = "balanced",
):
    """Priority column per verifier.h:95-99. blocks carry
    (block_hash, last_verified_epoch, failure_count, size, access_count).
    ``balanced`` is the reference's getPriority(); the single-factor
    strategies order by their one factor (verifier.h SchedulingStrategy).
    Integer arithmetic matches the C++ (floor divisions)."""
    if strategy not in SCHEDULING_STRATEGIES:
        raise ValueError(f"strategy must be one of {SCHEDULING_STRATEGIES}")
    age_hours = F.floor(
        (F.lit(now_epoch) - F.col("last_verified_epoch")) / 3600
    ).cast("long")
    if strategy == "by_age":
        return age_hours
    if strategy == "by_size":
        return F.col("size").cast("long")
    if strategy == "by_failures":
        return F.col("failure_count").cast("long")
    if strategy == "by_access":
        return F.col("access_count").cast("long")
    return (
        F.col("failure_count").cast("long") * PRIORITY_FAILURE_WEIGHT
        + F.floor(age_hours / PRIORITY_AGE_DIVISOR_H).cast("long")
        + F.floor(F.col("access_count") / PRIORITY_ACCESS_DIVISOR).cast("long")
    )


def verification_schedule(
    blocks: DataFrame,
    budget: int,
    now_epoch: int,
    strategy: str = "balanced",
) -> DataFrame:
    """The scheduler's next verification cycle: top ``budget`` blocks by
    priority (desc, hash asc tie-break) — the max-heap drain of
    verification_scheduler.cpp as TakeOrderedAndProject."""
    prio = verification_priority(blocks, now_epoch, strategy)
    return (
        blocks.withColumn("priority", prio)
        .orderBy(F.col("priority").desc(), F.col("block_hash").asc())
        .limit(budget)
    )
