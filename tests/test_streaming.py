"""Structured-Streaming ER test: file-source micro-batches through
incremental entity resolution with checkpointed, idempotent replay
(PostIngestQueue recast)."""

from __future__ import annotations

import pandas as pd

from yams_spark.sources.pages import generate_pages_pdf


def test_incremental_er_equals_batch(spark, sf_dir, tmp_path_factory) -> None:
    """Incremental streaming ER (new×new ∪ new×old per batch) accepts
    exactly the batch pipeline's pair set on the same corpus, and a full
    replay (fresh checkpoint, same store) is idempotent."""
    from yams_spark.plans.er_pipeline import PipelineConfig, run_pipeline
    from yams_spark.streaming.incremental_er import (
        accumulated_accepted_pairs,
        start_incremental_er,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    corpus = generate_pages_pdf(docs.head(40), replicate=1)
    pages = spark.createDataFrame(corpus[["url", "warc_ts", "html", "text", "lang"]])

    in_dir = str(tmp_path_factory.mktemp("ier_in"))
    # three arrival batches (files), interleaved so families span batches
    pages.where("length(url) % 3 = 0").coalesce(1).write.mode("append").parquet(in_dir)
    pages.where("length(url) % 3 = 1").coalesce(1).write.mode("append").parquet(in_dir)
    pages.where("length(url) % 3 = 2").coalesce(1).write.mode("append").parquet(in_dir)

    store = str(tmp_path_factory.mktemp("ier_store"))
    q = start_incremental_er(
        spark, in_dir, store, str(tmp_path_factory.mktemp("ier_ck")),
        trigger_once=True,
    )
    q.awaitTermination(240)
    got = {
        (r["url_a"], r["url_b"])
        for r in accumulated_accepted_pairs(spark, store).collect()
    }

    batch_out = run_pipeline(spark, pages, PipelineConfig())
    want = {
        (r["url_a"], r["url_b"])
        for r in batch_out["scored_pairs"].where("accepted").collect()
    }
    assert got == want and len(want) > 0

    # replay with lost offsets: same store, fresh checkpoint -> identical
    q2 = start_incremental_er(
        spark, in_dir, store, str(tmp_path_factory.mktemp("ier_ck2")),
        trigger_once=True,
    )
    q2.awaitTermination(240)
    again = {
        (r["url_a"], r["url_b"])
        for r in accumulated_accepted_pairs(spark, store).collect()
    }
    assert again == want

