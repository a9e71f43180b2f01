"""Storage reference counting + GC (reference_counter.cpp /
garbage_collector.cpp) — hand-computed fixtures."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from yams_spark.operators.storage_gc import (
    block_statistics,
    build_block_references,
    gc_candidates,
    gc_collect,
    transaction_history,
    unreferenced_blocks,
)


def _store(spark):
    # b1 referenced 3x, b2 1x, b3/b4 orphans; b4 has NULL uncompressed
    return spark.createDataFrame(
        [
            Row(block_hash="b1", block_size=100, uncompressed_size=160,
                created_at=1000, last_accessed=5000),
            Row(block_hash="b2", block_size=50, uncompressed_size=50,
                created_at=1100, last_accessed=4000),
            Row(block_hash="b3", block_size=70, uncompressed_size=90,
                created_at=1200, last_accessed=3000),
            Row(block_hash="b4", block_size=30, uncompressed_size=None,
                created_at=1300, last_accessed=3000),
        ]
    )


def _manifests(spark):
    return spark.createDataFrame(
        [Row(block_hash=h) for h in ["b1", "b1", "b1", "b2"]]
    )


def test_build_block_references(spark):
    refs = build_block_references(_store(spark), _manifests(spark))
    rows = {r.block_hash: r for r in refs.collect()}
    assert rows["b1"].ref_count == 3
    assert rows["b2"].ref_count == 1
    assert rows["b3"].ref_count == 0 and rows["b4"].ref_count == 0
    # uncompressed_size coalesces to block_size (schema CHECK allows NULL)
    assert rows["b4"].uncompressed_size == 30
    assert rows["b1"].uncompressed_size == 160


def test_block_statistics_hand_computed(spark):
    refs = build_block_references(_store(spark), _manifests(spark))
    s = block_statistics(refs).collect()[0]
    assert s.total_blocks == 4
    assert s.total_references == 4  # 3 + 1 + 0 + 0
    assert s.total_bytes == 250
    assert s.unreferenced_blocks == 2
    assert s.unreferenced_bytes == 100  # b3 + b4
    assert abs(s.avg_ref_count - 1.0) < 1e-12
    assert s.max_ref_count == 3


def test_unreferenced_view_and_candidates(spark):
    refs = build_block_references(_store(spark), _manifests(spark))
    unref = {r.block_hash: r for r in unreferenced_blocks(refs, 10000).collect()}
    assert set(unref) == {"b3", "b4"}
    assert unref["b3"].age_seconds == 7000
    # min_age excludes nothing at 7000; order = last_accessed then hash
    cand = gc_candidates(refs, 10000, min_age_seconds=7000, max_blocks=10)
    assert [r.block_hash for r in cand.collect()] == ["b3", "b4"]
    # budget cap (maxBlocksPerRun) takes the oldest-accessed first
    cand1 = gc_candidates(refs, 10000, min_age_seconds=0, max_blocks=1)
    assert [r.block_hash for r in cand1.collect()] == ["b3"]
    # min_age gate: only blocks >= 7001s stale -> none (max age is 7000)
    assert gc_candidates(refs, 10000, min_age_seconds=7001).count() == 0


def test_gc_collect(spark):
    refs = build_block_references(_store(spark), _manifests(spark))
    stats, surv = gc_collect(refs, 10000, min_age_seconds=0, max_blocks=10)
    s = stats.collect()[0]
    assert (s.blocks_scanned, s.blocks_deleted, s.bytes_reclaimed) == (2, 2, 100)
    assert (s.gc_runs, s.gc_blocks_collected, s.gc_bytes_reclaimed) == (1, 2, 100)
    assert {r.block_hash for r in surv.collect()} == {"b1", "b2"}
    # empty candidate set -> zero row, no gc_runs tick
    estats, _ = gc_collect(refs, 10000, min_age_seconds=99999, max_blocks=10)
    e = estats.collect()[0]
    assert (e.blocks_scanned, e.blocks_deleted, e.gc_runs) == (0, 0, 0)


def test_transaction_history_view(spark):
    txns = spark.createDataFrame(
        [
            Row(transaction_id=1, start_timestamp=100, commit_timestamp=110,
                state="COMMITTED"),
            Row(transaction_id=2, start_timestamp=200, commit_timestamp=None,
                state="PENDING"),
        ]
    )
    ops = spark.createDataFrame(
        [
            Row(transaction_id=1, operation="INCREMENT", delta=2),
            Row(transaction_id=1, operation="INCREMENT", delta=1),
            Row(transaction_id=1, operation="DECREMENT", delta=5),
        ]
    )
    hist = transaction_history(txns, ops).collect()
    # newest first (start_timestamp DESC)
    assert [r.transaction_id for r in hist] == [2, 1]
    by_id = {r.transaction_id: r for r in hist}
    assert by_id[1].operation_count == 3
    assert by_id[1].increments == 3 and by_id[1].decrements == 5
    # op-less transaction keeps zero counts through the left join
    assert by_id[2].operation_count == 0
    assert by_id[2].increments == 0 and by_id[2].decrements == 0
