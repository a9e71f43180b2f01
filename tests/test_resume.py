"""Resume-from-checkpoint: rerunning the pipeline after losing a later
stage's watermark recomputes only that stage and yields identical outputs
(FIXTURES.md §5.6; the Spark analog of WAL replay, wal_manager.h:23-80).
"""

from __future__ import annotations

import glob
import json
import os
import threading
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

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


def _watermark_ts(ckpt: str, stage: str) -> float:
    with open(os.path.join(ckpt, f"{stage}.watermark.json")) as f:
        return datetime.fromisoformat(json.load(f)["watermark_ts"]).timestamp()


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
    # the rerun's lineage names only the stage it rebuilt
    rerun = second["metrics"].where("run_id = 'run2'").select("stage").distinct()
    assert {r["stage"] for r in rerun.collect()} == {"cluster_groups", "cluster_members"}


def test_failed_stage_propagates_and_releases_lineage_thread(
    spark, small_corpus, tmp_path_factory, monkeypatch
) -> None:
    """A stage build that raises surfaces its error, leaves no lineage
    thread behind, and the stages that committed before it keep their
    lineage rows."""
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
    # the stages that committed before the failure still recorded lineage
    metrics = spark.read.parquet(os.path.join(ckpt, "metrics.parquet"))
    stages = {r["stage"] for r in metrics.where("run_id = 'frun'").collect()}
    assert {"sign", "block"} <= stages
    assert not stages & {"pair", "score"}


def _part_index(path: str) -> int:
    """The write task's partition index: the NNNNN of part-NNNNN-*.parquet."""
    return int(os.path.basename(path).split("-")[1])


def test_metrics_lineage_rows(spark, small_corpus, tmp_path_factory) -> None:
    ckpt = str(tmp_path_factory.mktemp("ckpt_metrics"))
    pages = spark.createDataFrame(small_corpus[["url", "warc_ts", "html", "text", "lang"]])
    out = run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=ckpt, run_id="mrun"))
    # the lineage table is exactly METRICS_SCHEMA: names, order and types
    assert out["metrics"].dtypes == spark.createDataFrame([], METRICS_SCHEMA).dtypes
    metrics = out["metrics"].toPandas()
    stages = set(metrics["stage"])
    assert {"sign", "block", "pair", "score"}.issubset(stages)
    # per-partition rows: one per write task that wrote rows, keyed by the
    # part file's index, summing to the committed table
    for stage in ("sign", "block", "pair", "cluster_groups", "cluster_members"):
        table = spark.read.parquet(os.path.join(ckpt, f"{stage}.parquet"))
        rows = metrics[(metrics["stage"] == stage) & (metrics["partition_id"] >= 0)]
        assert rows["rows_out"].sum() == table.count(), stage
        assert rows["partition_id"].is_unique, stage
        files = table.select(F.input_file_name().alias("f")).distinct().collect()
        assert set(rows["partition_id"]) == {_part_index(r["f"]) for r in files}, stage
    # committed tables come back with the schema they were written with,
    # which is the one parquet inference reads (top-level columns nullable)
    tables = {"sign": "signatures", "block": "blocks", "pair": "pairs", "score": "scored_pairs",
              "cluster_groups": "clusters", "cluster_members": "members", "metrics": "metrics"}
    for stage, key in tables.items():
        inferred = spark.read.parquet(os.path.join(ckpt, f"{stage}.parquet")).schema
        assert out[key].schema == inferred, stage
    score_rows = metrics[metrics["stage"] == "score"]
    assert len(score_rows) == 1
    hist = score_rows.iloc[0]["score_histogram"]
    assert len(hist) == 20
    n_scored = out["scored_pairs"].count()
    assert sum(hist) == score_rows.iloc[0]["pair_count"] == score_rows.iloc[0]["rows_out"] == n_scored
    # per-partition rows carry watermarks
    assert metrics["watermark_ts"].notna().all()
    # one metrics append per run: a single part file
    assert len(glob.glob(os.path.join(ckpt, "metrics.parquet", "part-*.parquet"))) == 1
    # each stage's rows carry the timestamp its commit wrote to the watermark
    for stage in ("sign", "block", "pair", "score", "cluster_groups", "cluster_members"):
        got = metrics.loc[metrics["stage"] == stage, "watermark_ts"]
        assert {t.timestamp() for t in got} == {_watermark_ts(ckpt, stage)}, stage


def test_score_histogram_counts_negative_scores(spark, tmp_path_factory) -> None:
    """Two byte-identical pages whose precomputed embeddings point in
    opposite directions (cosine -1) form one pair with a negative score. It
    lands in bin 0, so the histogram still counts every scored pair."""
    html = (b"<html><head><title>Opposite twins</title></head><body><p>"
            b"one two three four five six seven eight nine ten</p></body></html>")
    urls = ["https://a.example/x", "https://b.example/y"]
    pages = spark.createDataFrame(
        [(u, datetime(2024, 1, 1), html, "", "en") for u in urls],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    unit = [1.0] + [0.0] * 383
    embeddings = spark.createDataFrame(
        [(urls[0], unit), (urls[1], [-x for x in unit])], "url string, embedding array<float>"
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_negative"))
    out = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=ckpt, run_id="nrun"),
        precomputed_embeddings=embeddings,
    )
    scores = [r["pair_score"] for r in out["scored_pairs"].collect()]
    assert len(scores) == 1 and scores[0] < 0
    (row,) = out["metrics"].where("stage = 'score'").collect()
    assert row["score_histogram"][0] == 1
    assert sum(row["score_histogram"]) == row["pair_count"] == row["rows_out"] == 1


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
    # stamped with the block commit's watermark
    assert {t.timestamp() for t in rows["watermark_ts"]} == {_watermark_ts(ckpt, "block")}
