"""Incremental streaming entity resolution.

The reference's PostIngestQueue deduplicates *as documents arrive*: each
ingested document is signed, its blocking keys probed against the
existing index, and new duplicate relations recorded
(``reference src/daemon/components/PostIngestQueue.cpp:289-500`` +
the dedupe trace). The Structured-Streaming recast:

    pages stream → foreachBatch:
        sign(batch)                       (Arrow, narrow)
        blocks(batch)                     (explode keys)
        new-vs-old pair join              (batch blocks ⋈ accumulated blocks)
        new-vs-new pair join              (batch blocks self-join)
        score gates                       (same scored_pairs_stage)
        append accepted pairs + batch blocks/signatures to the store

All writes are partitioned by ``batch_id`` with dynamic partition
overwrite, so an at-least-once replay rewrites its own partition instead
of duplicating state.

**Equivalence**: after the stream drains, accepted pairs over all batches
equal the batch pipeline's accepted pairs on the same corpus — the pair
set is split by arrival order (old×new ∪ new×new per batch covers every
within-block pair exactly once), property-tested in
tests/test_streaming.py. Connected components / publication run as the
usual batch step over the accumulated pair table (the reference likewise
closes groups in a repair pass, not per-document).

At scale the old-blocks table is the big side: the per-batch join shuffles
only the batch's keys (broadcast when small), and the accumulated store is
partitioned by block_key prefix so probes prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yams_spark.operators.blocking import DEFAULT_FAMILIES, blocks_stage
from yams_spark.operators.scoring import attach_pair_features, scored_pairs_stage
from yams_spark.operators.signatures import signatures_stage

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def start_incremental_er(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.92,
    families: tuple[str, ...] = DEFAULT_FAMILIES,
    trigger_once: bool = True,
):
    """Stream page parquet files through incremental blocking + scoring.

    ``store_dir`` accumulates three tables: ``signatures.parquet``,
    ``blocks.parquet``, ``accepted_pairs.parquet`` (each partitioned by
    batch_id). Returns the StreamingQuery.
    """
    sig_path = os.path.join(store_dir, "signatures.parquet")
    blk_path = os.path.join(store_dir, "blocks.parquet")
    pair_path = os.path.join(store_dir, "accepted_pairs.parquet")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        sig = signatures_stage(batch_df).persist()
        new_blocks = blocks_stage(sig, families).persist()

        # candidate pairs: new×new (within-batch) plus new×old (against the
        # accumulated store). Ordering by url keeps url_a < url_b global.
        left = new_blocks.select("block_key", F.col("url").alias("u1"))
        nn = (
            left.join(
                new_blocks.select("block_key", F.col("url").alias("u2")),
                "block_key",
            )
            .where(F.col("u1") < F.col("u2"))
        )
        pairs = nn
        have_old = os.path.exists(blk_path)
        if have_old:
            old_blocks = sess.read.parquet(blk_path).select(
                "block_key", F.col("url").alias("u2")
            )
            no = (
                left.join(old_blocks, "block_key")
                .where(F.col("u1") != F.col("u2"))
            )
            pairs = pairs.unionByName(no)
        cand = (
            pairs.select(
                F.least("u1", "u2").alias("url_a"),
                F.greatest("u1", "u2").alias("url_b"),
            )
            .dropDuplicates(["url_a", "url_b"])
        )

        # hydrate features from new + old signatures, score with the same
        # gates as the batch pipeline
        all_sigs = sig
        if have_old:
            all_sigs = sig.unionByName(
                sess.read.parquet(sig_path).drop("batch_id")
            )
        scored = scored_pairs_stage(
            attach_pair_features(cand, all_sigs), threshold
        )
        accepted = scored.where(F.col("accepted"))

        _write_batch(accepted, pair_path, batch_id)
        _write_batch(new_blocks, blk_path, batch_id)
        _write_batch(sig, sig_path, batch_id)
        sig.unpersist()
        new_blocks.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def accumulated_accepted_pairs(spark: SparkSession, store_dir: str) -> DataFrame:
    """The pair table the publication step (clusters_stage) consumes."""
    return spark.read.parquet(os.path.join(store_dir, "accepted_pairs.parquet"))
