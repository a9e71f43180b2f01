"""Content-addressed storage reference counting + garbage collection as
batch dataflow.

Re-expresses the reference's storage-GC subsystem
(``/root/reference/src/storage/garbage_collector.cpp`` and
``/root/reference/src/storage/reference_counter.cpp``) the Spark way.
The reference keeps a transactional SQLite ``block_references`` table
(reference_counter.cpp:251-262: block_hash PK, ref_count, block_size,
uncompressed_size, created_at, last_accessed) maintained by
increment/decrement ops, and GC walks ``getUnreferencedBlocks``
(reference_counter.cpp:549-556: ``WHERE ref_count = 0 AND age >= minAge
ORDER BY last_accessed ASC LIMIT maxBlocksPerRun``) deleting one block
at a time (garbage_collector.cpp:76-99, 116-196).

At 100 TB the same bookkeeping is a keyed aggregation, not a row store:

- reference counts are ONE map-side-combined ``groupBy(block_hash)``
  over the manifest table (a manifest row IS an increment — the same
  derivation ``rebuildReferenceDatabase`` uses when it re-scans storage,
  garbage_collector.cpp:260-338);
- the unreferenced set is a broadcast-friendly left join of the store
  inventory against those counts — blocks nobody references fall out
  with ``ref_count = 0``;
- the GC candidate pick is ``orderBy().limit(max_blocks)`` —
  TakeOrderedAndProject, bounded by the per-run budget, never a global
  sort of the store;
- the post-GC state is an anti-join (surviving blocks), so a scheduled
  collection cycle (garbage_collector.cpp:205-235) is just this plan
  re-run on the next snapshot — no mutable shared state.

Determinism note: the reference orders candidates by ``last_accessed``
alone; equal timestamps are returned in SQLite scan order. Here equal
``last_accessed`` ties break on ``block_hash`` so the candidate set is
reproducible across engines (same stance as the medoid tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "build_block_references",
    "block_statistics",
    "unreferenced_blocks",
    "gc_candidates",
    "gc_collect",
    "transaction_history",
]


def build_block_references(
    store: DataFrame,
    manifests: DataFrame,
) -> DataFrame:
    """Derive the ``block_references`` table
    (reference_counter.cpp:251-262) from a store inventory and the
    manifest table.

    ``store``: one row per stored block — ``block_hash, block_size,
    uncompressed_size, created_at, last_accessed`` (sizes in bytes,
    times in epoch seconds). ``manifests``: one row per (file, block)
    reference with a ``block_hash`` column; each row is one increment,
    exactly how ``rebuildReferenceDatabase`` replays storage into the
    reference DB (garbage_collector.cpp:274-321). Blocks present in the
    store but referenced by no manifest row get ``ref_count = 0`` — the
    GC candidate population."""
    counts = manifests.groupBy(F.col("block_hash").alias("_h")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        store.join(counts, store["block_hash"] == counts["_h"], "left")
        .select(
            "block_hash",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("ref_count"),
            F.col("block_size").cast("long").alias("block_size"),
            F.coalesce(F.col("uncompressed_size"), F.col("block_size"))
            .cast("long")
            .alias("uncompressed_size"),
            F.col("created_at").cast("long").alias("created_at"),
            F.col("last_accessed").cast("long").alias("last_accessed"),
        )
    )


def block_statistics(refs: DataFrame) -> DataFrame:
    """The ``block_statistics`` view (reference_counter.cpp:340-350):
    one-row store health rollup. ``avg_ref_count`` is AVG over all
    blocks (unreferenced ones included), as in the view."""
    zero = F.col("ref_count") == 0
    return refs.agg(
        F.count(F.lit(1)).alias("total_blocks"),
        F.sum("ref_count").alias("total_references"),
        F.sum("block_size").alias("total_bytes"),
        F.sum(zero.cast("long")).alias("unreferenced_blocks"),
        F.sum(F.when(zero, F.col("block_size")).otherwise(F.lit(0))).alias(
            "unreferenced_bytes"
        ),
        F.avg("ref_count").alias("avg_ref_count"),
        F.max("ref_count").alias("max_ref_count"),
    )


def unreferenced_blocks(refs: DataFrame, now_ts: int) -> DataFrame:
    """The ``unreferenced_blocks`` view (reference_counter.cpp:328-337):
    every zero-ref block with its age; unlimited, unordered (ordering
    belongs to the GC candidate pick)."""
    return refs.where(F.col("ref_count") == 0).select(
        "block_hash",
        "block_size",
        "created_at",
        "last_accessed",
        (F.lit(int(now_ts)) - F.col("last_accessed")).alias("age_seconds"),
    )


def gc_candidates(
    refs: DataFrame,
    now_ts: int,
    min_age_seconds: int = 0,
    max_blocks: int = 1000,
) -> DataFrame:
    """``getUnreferencedBlocks(limit, minAge)``
    (reference_counter.cpp:549-556, 792-814): zero-ref blocks at least
    ``min_age_seconds`` stale, oldest-accessed first, capped at the
    per-run budget (``GCOptions.maxBlocksPerRun``,
    garbage_collector.cpp:141-142). ``orderBy().limit()`` keeps this a
    bounded top-k at any store size."""
    return (
        unreferenced_blocks(refs, now_ts)
        .where(F.col("age_seconds") >= int(min_age_seconds))
        .orderBy(F.col("last_accessed").asc(), F.col("block_hash").asc())
        .limit(int(max_blocks))
    )


def gc_collect(
    refs: DataFrame,
    now_ts: int,
    min_age_seconds: int = 0,
    max_blocks: int = 1000,
    dry_run: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """One GC run (garbage_collector.cpp:116-196): returns
    ``(stats, surviving_refs)``.

    ``stats`` is the one-row ``GCStats`` rollup — ``blocks_scanned``
    (candidates returned), ``blocks_deleted`` / ``bytes_reclaimed``
    (0 on dry runs, garbage_collector.cpp:85-97; bytes are the stored
    block size, the ``getBlockSize`` the reference sums) — plus the
    ``ref_statistics`` counter deltas ``recordCollectionStatistics``
    applies (gc_runs / gc_blocks_collected / gc_bytes_reclaimed,
    garbage_collector.cpp:32-41: all zero when dryRun or nothing
    deleted). ``surviving_refs`` is the store after the run: an
    anti-join against the deleted set (identity on dry runs), i.e. the
    transaction's ``pruneReference`` batch applied atomically."""
    cand = gc_candidates(refs, now_ts, min_age_seconds, max_blocks)
    scanned = F.count(F.lit(1))
    deleted = F.lit(0).cast("long") if dry_run else F.count(F.lit(1))
    reclaimed = (
        F.lit(0).cast("long")
        if dry_run
        else F.coalesce(F.sum("block_size"), F.lit(0))
    )
    stats = cand.agg(
        scanned.cast("long").alias("blocks_scanned"),
        deleted.cast("long").alias("blocks_deleted"),
        reclaimed.cast("long").alias("bytes_reclaimed"),
    ).select(
        "*",
        F.when(F.col("blocks_deleted") > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("gc_runs"),
        F.col("blocks_deleted").alias("gc_blocks_collected"),
        F.col("bytes_reclaimed").alias("gc_bytes_reclaimed"),
    )
    if dry_run:
        survivors = refs
    else:
        survivors = refs.join(
            cand.select("block_hash"), on="block_hash", how="left_anti"
        )
    return stats, survivors


def transaction_history(txns: DataFrame, ops: DataFrame) -> DataFrame:
    """The ``transaction_history`` view (reference_counter.cpp:353-366):
    per-transaction op counts and increment/decrement totals via a left
    join (transactions with no ops keep zero counts), newest first.
    ``start_timestamp`` ties break on ``transaction_id`` descending for
    cross-engine determinism."""
    o = ops.groupBy(F.col("transaction_id").alias("_tid")).agg(
        F.count(F.lit(1)).alias("operation_count"),
        F.sum(
            F.when(F.col("operation") == "INCREMENT", F.col("delta")).otherwise(
                F.lit(0)
            )
        ).alias("increments"),
        F.sum(
            F.when(F.col("operation") == "DECREMENT", F.col("delta")).otherwise(
                F.lit(0)
            )
        ).alias("decrements"),
    )
    return (
        txns.join(o, txns["transaction_id"] == o["_tid"], "left")
        .select(
            "transaction_id",
            "start_timestamp",
            "commit_timestamp",
            "state",
            F.coalesce(F.col("operation_count"), F.lit(0))
            .cast("long")
            .alias("operation_count"),
            F.coalesce(F.col("increments"), F.lit(0))
            .cast("long")
            .alias("increments"),
            F.coalesce(F.col("decrements"), F.lit(0))
            .cast("long")
            .alias("decrements"),
        )
        .orderBy(
            F.col("start_timestamp").desc(), F.col("transaction_id").desc()
        )
    )
