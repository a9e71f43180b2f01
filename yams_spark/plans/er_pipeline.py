"""End-to-end ER pipeline DAG with per-stage lineage metrics and
resume-from-checkpoint.

Stage DAG (mirrors the reference ingest→dedupe dataflow, SURVEY.md §3.1/§3.3):

    extract+sign → block → (salt) → pair → score → cluster → publish

Every stage is a pure function of its input tables and follows one rule,
written once (``stage`` in ``run_pipeline``): it resumes only when ALL of its
tables are committed (output parquet + watermark under ``checkpoint_dir``);
otherwise it is rebuilt and each table is committed, or, without a
``checkpoint_dir``, pinned in memory. A checkpointed run takes its lineage
rows from the commits themselves (parquet footers, an ``Observation`` on the
score write, each commit's watermark) and appends them to the metrics table
once, also when a later stage fails. (Idempotent resume: the WAL/recovery
analog of wal_manager.h:23-80, done the Spark way via durable table commits.)
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from yams_spark.functions.chunker import PAGE_CHUNKING, ChunkingConfig
from yams_spark.operators.blocking import (
    DEFAULT_BLOCK_CAP,
    DEFAULT_FAMILIES,
    blocks_stage,
    candidate_pairs_stage,
    salt_blocks,
)
from yams_spark.operators.clustering import DRIVER_CC_MAX_EDGES, clusters_stage
from yams_spark.operators.scoring import attach_pair_features, scored_pairs_stage
from yams_spark.operators.signatures import signatures_stage

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, block_id string, "
    "pair_count long, score_histogram array<long>, rows_in long, "
    "rows_out long, watermark_ts timestamp"
)
_METRICS_COLUMNS = [c.split(" ", 1) for c in METRICS_SCHEMA.split(", ")]
#: lineage rows read from the commits, sent to Spark as one JSON literal
_COMMIT_ROWS = (
    "array<struct<stage:string,partition_id:int,pair_count:bigint,"
    "score_histogram:array<bigint>,rows_out:bigint,watermark_ts:string>>"
)

@dataclass
class PipelineConfig:
    threshold: float = 0.92  # dedupe.h:16
    strategy: str = "keep-newest"  # dedupe.h:15
    block_cap: int = DEFAULT_BLOCK_CAP
    #: cap on published component size (topology_baseline.cpp:44-120 uses
    #: 64). None = off (default), preserving exact oracle equality; when
    #: set, oversized components are split before the packed publish and a
    #: `cluster_split` lineage row records how many components fired.
    max_component_docs: int | None = None
    #: blocking-key families (shared contract, operators/signatures.py)
    families: tuple[str, ...] = DEFAULT_FAMILIES
    #: transitive-closure driver-finish gate (clustering.DRIVER_CC_MAX_EDGES);
    #: 0 forces the pure distributed large-star/small-star path — the bench
    #: runs that once per round to time it at measured scale
    driver_cc_max_edges: int = -1  # -1 = library default
    chunk_cfg: ChunkingConfig = field(default_factory=lambda: PAGE_CHUNKING)
    checkpoint_dir: str | None = None
    run_id: str = ""

    def __post_init__(self) -> None:
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]

    @classmethod
    def scale(cls, **overrides) -> "PipelineConfig":
        """The 100-TB deployment profile in one switch.

        Differences from the default (which preserves exact oracle
        equality for the driver's correctness checks):

        * ``max_component_docs=64`` — publish-side component cap
          (topology_baseline.cpp:44-120): a boilerplate mega-component is
          split before the packed publish instead of landing in one task.

        Everything else already defends itself at scale by default
        (block_cap salting, AQE skew handling, the 2M-edge driver-CC gate
        re-checked per round). Session-level knobs that belong with this
        profile — AQE on, advisoryPartitionSizeInBytes >= 8m, no raised
        autoBroadcastJoinThreshold — live in ``yams_spark.session.get_spark``
        and BENCH/BASELINE.md.
        """
        overrides.setdefault("max_component_docs", 64)
        return cls(**overrides)


def _stage_path(cfg: PipelineConfig, stage: str) -> str:
    assert cfg.checkpoint_dir
    return os.path.join(cfg.checkpoint_dir, f"{stage}.parquet")


def _watermark_path(cfg: PipelineConfig, stage: str) -> str:
    assert cfg.checkpoint_dir
    return os.path.join(cfg.checkpoint_dir, f"{stage}.watermark.json")


def _stage_done(cfg: PipelineConfig, stage: str) -> bool:
    return (
        cfg.checkpoint_dir is not None
        and os.path.exists(_stage_path(cfg, stage))
        and os.path.exists(_watermark_path(cfg, stage))
    )


def _commit_stage(
    spark: SparkSession, cfg: PipelineConfig, stage: str, df: DataFrame
) -> tuple[DataFrame, datetime | None]:
    """Write stage output + watermark; return the durable re-read DataFrame
    and the watermark's timestamp (its lineage rows carry the same value).
    Without a checkpoint_dir the table is pinned in memory instead, so no
    downstream consumer (or the caller) recomputes it — the module's only
    pin site."""
    if cfg.checkpoint_dir is None:
        return df.persist(), None
    path = _stage_path(cfg, stage)
    df.write.mode("overwrite").parquet(path)
    ts = datetime.now(timezone.utc)
    with open(_watermark_path(cfg, stage), "w") as f:
        json.dump(
            {"run_id": cfg.run_id, "stage": stage, "watermark_ts": ts.isoformat()},
            f,
        )
    # the known schema spares a schema-inference job per commit
    return spark.read.schema(df.schema).parquet(path), ts


def _lineage_rows(df: DataFrame, run_id: str, **cols: Column) -> DataFrame:
    """Project ``df`` onto METRICS_SCHEMA lineage rows. ``cols`` maps
    metrics columns to expressions over ``df``; run_id is filled in,
    partition_id defaults to -1 (a row that is not per-partition), every
    other column is null."""
    cols = {"run_id": F.lit(run_id), "partition_id": F.lit(-1), **cols}
    return df.select(*[
        cols.get(name, F.lit(None)).cast(dtype).alias(name)
        for name, dtype in _METRICS_COLUMNS
    ])


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    precomputed_embeddings: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full ER pipeline. Returns every stage's DataFrame keyed by stage name.

    ``precomputed_embeddings`` — optional ``(url, embedding)`` table that
    hydrates embeddings from an external vector store instead of the
    in-line feature-hash stand-in (the reference keeps embeddings in a
    separate vector database keyed by document hash,
    vector_database.cpp / EmbeddingService.cpp — at 100 TB you never
    recompute vectors you already paid for). Rows without a precomputed
    vector keep the computed one (left join + coalesce, broadcast-eligible
    when the override table is small).
    """
    cfg = cfg or PipelineConfig()
    out: dict[str, DataFrame] = {}

    # A small-file input (one parquet split) would serialize the extraction
    # UDF; at 100TB there are plenty of splits and this no-ops. File count
    # is a free lower bound on scan parallelism — touching pages.rdd would
    # force a deserialization plan node just to ask the same question.
    par = spark.sparkContext.defaultParallelism
    if len(pages.inputFiles()) < par:
        pages = pages.repartition(par * 2)

    # Scale-adaptive shuffle partitioning (guide §2.2): never run the
    # pipeline's wide stages on fewer reduce slots than the session has
    # cores — a fixed small shuffle-partition constant leaves cores idle at
    # high core counts, while AQE's advisory-size coalescing still merges
    # anything that comes out tiny. Only ever raises, never lowers, so an
    # explicit cluster-tuned setting wins.
    if int(spark.conf.get("spark.sql.shuffle.partitions")) < 2 * par:
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * par))

    # The one stage rule (module docstring). Lineage is read once all of a
    # stage's tables are committed, and appended in the ``finally`` below.
    commit_rows: list[dict] = []
    report_rows: list[DataFrame] = []  # projected from small report tables

    def partition_rows(name: str, df: DataFrame, ts: datetime) -> None:
        """One row per write task that wrote rows, from the parquet footers
        (no Spark job): partition_id is the task's partition index, the
        NNNNN of part-NNNNN-*.parquet, and rows_out its row count."""
        counts: dict[int, int] = {}
        for f in glob.glob(os.path.join(_stage_path(cfg, name), "part-*.parquet")):
            n = pq.read_metadata(f).num_rows
            if n:
                pid = int(os.path.basename(f).split("-")[1])
                counts[pid] = counts.get(pid, 0) + n
        commit_rows.extend(
            {"stage": name, "partition_id": p, "rows_out": n, "watermark_ts": ts.isoformat()}
            for p, n in sorted(counts.items())
        )

    def stage(names, build, lineage=partition_rows) -> list[DataFrame]:
        if all(_stage_done(cfg, n) for n in names):
            return [spark.read.parquet(_stage_path(cfg, n)) for n in names]
        committed = [_commit_stage(spark, cfg, n, df) for n, df in zip(names, build())]
        if cfg.checkpoint_dir is not None:
            for n, (df, ts) in zip(names, committed):
                lineage(n, df, ts)
        return [df for df, _ in committed]

    def sign():  # extract + signatures; narrow, no shuffle
        sig = signatures_stage(pages, cfg.chunk_cfg)
        if precomputed_embeddings is not None:
            pre = precomputed_embeddings.select(
                "url", F.col("embedding").alias("_pre_embedding")
            )
            sig = (
                sig.join(pre, "url", "left")
                .withColumn(
                    "embedding",
                    F.coalesce(F.col("_pre_embedding"), F.col("embedding")),
                )
                .drop("_pre_embedding")
            )
        return [sig]

    salted: dict[str, DataFrame] = {}

    def block():  # + salting; the oversize report joins the block's lineage
        blocks, salted["oversize"] = salt_blocks(
            blocks_stage(signatures, cfg.families), cfg.block_cap
        )
        return [blocks]

    def block_lineage(name: str, df: DataFrame, ts: datetime) -> None:
        partition_rows(name, df, ts)
        report_rows.append(_lineage_rows(
            salted["oversize"], cfg.run_id,
            stage=F.lit("block_oversize"), watermark_ts=F.lit(ts),
            block_id=F.col("block_key"),
            pair_count=F.col("dropped_pairs_upper_bound"),
            rows_in=F.col("block_size"),
            rows_out=F.col("n_salt"),
        ))

    histogram = Observation()

    def score():  # a checkpointed write observes the 20-bin pair_score histogram
        scored = scored_pairs_stage(attach_pair_features(pairs, signatures), cfg.threshold)
        if cfg.checkpoint_dir is None:  # no lineage reads it
            return [scored]
        # clamped to [0, 19]: negative scores (cosine < 0) land in bin 0, so
        # the bins always sum to the row count
        b = F.least(F.greatest(F.floor(F.col("pair_score") * 20), F.lit(0)), F.lit(19))
        return [scored.observe(
            histogram, F.count("*").alias("n"),
            F.array(*[F.count_if(b == i) for i in range(20)]).alias("bins"))]

    def score_lineage(name: str, df: DataFrame, ts: datetime) -> None:
        got = histogram.get
        commit_rows.append({
            "stage": name, "partition_id": -1, "pair_count": got["n"],
            "score_histogram": got["bins"], "rows_out": got["n"],
            "watermark_ts": ts.isoformat(),
        })

    def cluster():  # cluster + publish
        cc_max_edges = cfg.driver_cc_max_edges
        out["cc_stats"] = {}
        return clusters_stage(
            signatures, scored.where(F.col("accepted")), cfg.threshold, cfg.strategy,
            max_component_docs=cfg.max_component_docs,
            driver_cc_max_edges=DRIVER_CC_MAX_EDGES if cc_max_edges < 0 else cc_max_edges,
            cc_stats=out["cc_stats"],
        )

    def cluster_lineage(name: str, df: DataFrame, ts: datetime) -> None:
        partition_rows(name, df, ts)
        if name != "cluster_groups" or cfg.max_component_docs is None:
            return
        # one row per split parent component (labels look like
        # "<component>#<i>"), rows_out = sub-clusters it produced
        splits = (
            df.where(F.col("component").contains("#"))
            .withColumn("parent", F.substring_index("component", "#", 1))
            .groupBy("parent")
            .agg(F.count("*").alias("n_sub"), F.sum("member_count").alias("n_docs"))
        )
        report_rows.append(_lineage_rows(
            splits, cfg.run_id, stage=F.lit("cluster_split"), watermark_ts=F.lit(ts),
            block_id=F.col("parent"),
            rows_in=F.col("n_docs"),
            rows_out=F.col("n_sub"),
        ))

    # the stages that committed keep their lineage when a later one fails
    try:
        (signatures,) = stage(["sign"], sign)
        (blocks,) = stage(["block"], block, block_lineage)
        (pairs,) = stage(["pair"], lambda: [candidate_pairs_stage(blocks)])
        (scored,) = stage(["score"], score, score_lineage)
        clusters, members = stage(
            ["cluster_groups", "cluster_members"], cluster, cluster_lineage
        )
    finally:
        if commit_rows or report_rows:
            rows = spark.range(1).select(F.inline(
                F.from_json(F.lit(json.dumps(commit_rows)), _COMMIT_ROWS)
            ))
            rows = reduce(DataFrame.unionByName, report_rows, _lineage_rows(
                rows, cfg.run_id, **{c: F.col(c) for c in rows.columns}
            ))
            # one task: the run appends one small file
            rows.coalesce(1).write.mode("append").parquet(
                os.path.join(cfg.checkpoint_dir, "metrics.parquet")
            )
    out.update(
        signatures=signatures, blocks=blocks, pairs=pairs, scored_pairs=scored,
        clusters=clusters, members=members,
    )
    if cfg.checkpoint_dir is not None:
        out["metrics"] = spark.read.schema(METRICS_SCHEMA).parquet(
            os.path.join(cfg.checkpoint_dir, "metrics.parquet")
        )
    return out
