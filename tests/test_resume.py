"""Resume-from-checkpoint: rerunning the pipeline after losing a later
stage's watermark recomputes only that stage and yields identical outputs
(FIXTURES.md §5.6; the Spark analog of WAL replay, wal_manager.h:23-80).
"""

from __future__ import annotations

import json
import os
import threading

import pandas as pd
import pytest

from yams_spark.plans import er_pipeline
from yams_spark.plans.er_pipeline import METRICS_SCHEMA, PipelineConfig, run_pipeline
from yams_spark.sources.pages import generate_pages_pdf


@pytest.fixture(scope="module")
def small_corpus(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    return generate_pages_pdf(docs.head(40), replicate=1)


def _watermark_run(ckpt: str, stage: str) -> str:
    with open(os.path.join(ckpt, f"{stage}.watermark.json")) as f:
        return json.load(f)["run_id"]


@pytest.mark.parametrize("lost", ["cluster_groups", "cluster_members"])
def test_resume_skips_completed_stages(spark, small_corpus, tmp_path_factory, lost) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    pages = spark.createDataFrame(small_corpus[["url", "warc_ts", "html", "text", "lang"]])

    cfg1 = PipelineConfig(checkpoint_dir=ckpt, run_id="run1")
    first = run_pipeline(spark, pages, cfg1)
    clusters1 = sorted(first["clusters"].toPandas()["group_key"])

    sign_mtime = os.path.getmtime(os.path.join(ckpt, "sign.watermark.json"))

    # lose either cluster table -> rerun rebuilds both, and only clustering
    os.remove(os.path.join(ckpt, f"{lost}.watermark.json"))
    cfg2 = PipelineConfig(checkpoint_dir=ckpt, run_id="run2")
    second = run_pipeline(spark, pages, cfg2)
    clusters2 = sorted(second["clusters"].toPandas()["group_key"])

    assert clusters1 == clusters2
    assert _watermark_run(ckpt, "cluster_groups") == "run2"
    assert _watermark_run(ckpt, "cluster_members") == "run2"
    # earlier stages untouched (watermark not rewritten)
    assert _watermark_run(ckpt, "sign") == "run1"
    assert os.path.getmtime(os.path.join(ckpt, "sign.watermark.json")) == sign_mtime


def test_failed_stage_propagates_and_releases_lineage_thread(
    spark, small_corpus, tmp_path_factory, monkeypatch
) -> None:
    """A stage build that raises surfaces its error, and the lineage
    worker thread is shut down rather than left behind."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_fail"))
    pages = spark.createDataFrame(small_corpus[["url", "warc_ts", "html", "text", "lang"]])

    def boom(blocks):
        raise RuntimeError("pair stage failed")

    monkeypatch.setattr(er_pipeline, "candidate_pairs_stage", boom)

    def pool_threads():
        return {t for t in threading.enumerate()
                if t.name.startswith("ThreadPoolExecutor") and t.is_alive()}

    before = pool_threads()
    with pytest.raises(RuntimeError, match="pair stage failed"):
        run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt, run_id="frun"))
    assert pool_threads() - before == set()


def test_metrics_lineage_rows(spark, small_corpus, tmp_path_factory) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt_metrics"))
    pages = spark.createDataFrame(small_corpus[["url", "warc_ts", "html", "text", "lang"]])
    out = run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt, run_id="mrun"))
    # the lineage table is exactly METRICS_SCHEMA: names, order and types
    assert out["metrics"].dtypes == spark.createDataFrame([], METRICS_SCHEMA).dtypes
    metrics = out["metrics"].toPandas()
    stages = set(metrics["stage"])
    assert {"sign", "block", "pair", "score"}.issubset(stages)
    score_rows = metrics[metrics["stage"] == "score"]
    hist = score_rows.iloc[0]["score_histogram"]
    assert len(hist) == 20
    assert sum(hist) == score_rows.iloc[0]["pair_count"]
    # per-partition rows carry watermarks
    assert metrics["watermark_ts"].notna().all()


def test_block_oversize_lineage_rows(spark, small_corpus, tmp_path_factory) -> None:
    """A block_cap below the hot-key sizes salts those keys and reports each
    one as a block_oversize row: key, dropped-pair bound, size, fan-out."""
    cap = 3
    ckpt = str(tmp_path_factory.mktemp("ckpt_oversize"))
    pages = spark.createDataFrame(small_corpus[["url", "warc_ts", "html", "text", "lang"]])
    out = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=ckpt, run_id="orun", block_cap=cap)
    )
    assert out["metrics"].dtypes == spark.createDataFrame([], METRICS_SCHEMA).dtypes
    rows = out["metrics"].where("stage = 'block_oversize'").toPandas()
    assert len(rows) > 0
    assert rows[["block_id", "pair_count", "rows_in", "rows_out"]].notna().all().all()
    assert (rows["run_id"] == "orun").all() and (rows["partition_id"] == -1).all()
    assert rows["block_id"].is_unique
    assert (rows["rows_in"] > cap).all()
    # rows_out is the salt fan-out: ceil(block_size / cap) sub-blocks
    assert (rows["rows_out"] == -(-rows["rows_in"] // cap)).all()
    assert (rows["pair_count"] >= 0).all()
