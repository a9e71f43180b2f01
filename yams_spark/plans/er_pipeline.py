"""End-to-end ER pipeline DAG with per-stage lineage metrics and
resume-from-checkpoint.

Stage DAG (mirrors the reference ingest→dedupe dataflow, SURVEY.md §3.1/§3.3):

    extract+sign → block → (salt) → pair → score → cluster → publish

Every stage is a pure function of its input tables and follows one rule,
written once (``stage`` in ``run_pipeline``): it resumes only when ALL of its
tables are committed (output parquet + watermark under ``checkpoint_dir``);
otherwise it is rebuilt and each table is committed, or, without a
``checkpoint_dir``, pinned in memory. Lineage rows are written to the
metrics table for checkpointed runs only. (Idempotent resume: the
WAL/recovery analog of wal_manager.h:23-80, done the Spark way via durable
table commits.)
"""

from __future__ import annotations

import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
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

#: the optional KG stage's tables (``populate_kg`` with doc embeddings)
_KG_TABLES = ("kg_doc_entities", "kg_nodes", "kg_aliases", "kg_edges",
              "kg_node_stats", "kg_node_embeddings")


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
    #: real-embedding-model seam (embedding_generator.cpp:386-407): a
    #: picklable ``list[str] -> vectors`` batch callable; None keeps the
    #: deterministic feature-hash stand-in the oracles share
    embed_fn: object | None = None
    #: run the KG-population stage after signatures (the PostIngestQueue
    #: KnowledgeGraph/Entity stage position, PostIngestQueue.cpp:289-500):
    #: emits kg_doc_entities/nodes/aliases/edges/node_stats keyed by
    #: xxhash64(url) (the Spark-native analog of the reference's numeric
    #: document rowid), checkpointed + lineage-tracked like any stage
    build_kg: bool = False
    kg_pagerank_iters: int = 5
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
) -> DataFrame:
    """Write stage output + watermark; return the durable re-read DataFrame.
    Without a checkpoint_dir the table is pinned in memory instead, so no
    downstream consumer (or the caller) recomputes it — the module's only
    pin site."""
    if cfg.checkpoint_dir is None:
        return df.persist()
    path = _stage_path(cfg, stage)
    df.write.mode("overwrite").parquet(path)
    with open(_watermark_path(cfg, stage), "w") as f:
        json.dump(
            {
                "run_id": cfg.run_id,
                "stage": stage,
                "watermark_ts": datetime.now(timezone.utc).isoformat(),
            },
            f,
        )
    return spark.read.parquet(path)


def _lineage_rows(
    df: DataFrame, run_id: str, stage: str, **cols: Column
) -> DataFrame:
    """Project ``df`` onto METRICS_SCHEMA lineage rows. ``cols`` maps
    metrics columns to expressions over ``df``; run_id, stage and
    watermark_ts are filled in, partition_id defaults to -1 (a row that is
    not per-partition), every other column is null."""
    cols = {
        "run_id": F.lit(run_id),
        "stage": F.lit(stage),
        "partition_id": F.lit(-1),
        "watermark_ts": F.current_timestamp(),
        **cols,
    }
    return df.select(*[
        cols.get(name, F.lit(None)).cast(dtype).alias(name)
        for name, dtype in _METRICS_COLUMNS
    ])


def _partition_metrics(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-partition lineage rows (rows_out per partition + watermark)."""
    counts = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows_out")
    )
    return _lineage_rows(
        counts, run_id, stage,
        partition_id=F.col("partition_id"), rows_out=F.col("rows_out"),
    )


def _score_histogram_metrics(scored: DataFrame, run_id: str, stage: str) -> DataFrame:
    """20-bin histogram of pair scores over [0,1] as a lineage row.

    One job: the 20 bin counts are collected (tiny) and the row is built
    driver-side — the total is the bin sum, not a second full count()
    action over the scored table.
    """
    counts = (
        scored.withColumn(
            "bin", F.least(F.floor(F.col("pair_score") * 20).cast("int"), F.lit(19))
        )
        .groupBy("bin")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    bins = {r["bin"]: r["c"] for r in counts}
    hist = [int(bins.get(i, 0)) for i in range(20)]
    total = sum(hist)
    return _lineage_rows(
        scored.sparkSession.range(1), run_id, stage,
        pair_count=F.lit(total),
        score_histogram=F.array(*[F.lit(h) for h in hist]),
        rows_out=F.lit(total),
    )


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
    try:
        n_splits = len(pages.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits < par:
        pages = pages.repartition(par * 2)

    # Scale-adaptive shuffle partitioning (guide §2.2): never run the
    # pipeline's wide stages on fewer reduce slots than the session has
    # cores — a fixed small shuffle-partition constant leaves cores idle at
    # high core counts, while AQE's advisory-size coalescing still merges
    # anything that comes out tiny. Only ever raises, never lowers, so an
    # explicit cluster-tuned setting wins.
    try:
        cur_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        cur_parts = 0
    if 0 < cur_parts < 2 * par:
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * par))

    # The one stage rule (module docstring). Lineage jobs run on ONE thread
    # (guide §2.6): stage-N metrics scans back-fill the cores while stage N+1
    # computes, and a single worker keeps the metrics appends ordered.
    lineage_jobs: list = []

    def stage(names, build, lineage=_partition_metrics) -> list[DataFrame]:
        if all(_stage_done(cfg, n) for n in names):
            return [spark.read.parquet(_stage_path(cfg, n)) for n in names]
        tables = [_commit_stage(spark, cfg, n, df) for n, df in zip(names, build())]
        if cfg.checkpoint_dir is not None:
            metrics_path = os.path.join(cfg.checkpoint_dir, "metrics.parquet")
            for n, df in zip(names, tables):
                lineage_jobs.append(pool.submit(
                    lambda n=n, df=df: lineage(df, cfg.run_id, n)
                    .write.mode("append").parquet(metrics_path)))
        return tables

    def sign():  # extract + signatures; narrow, no shuffle
        sig = signatures_stage(pages, cfg.chunk_cfg, embed_fn=cfg.embed_fn)
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

    def kg():  # optional KG population (PostIngestQueue stage position)
        from yams_spark.operators.kg import populate_kg

        tables = populate_kg(
            signatures.select(
                F.xxhash64("url").alias("doc_id"),
                F.col("extracted_text").alias("text"),
            ),
            pagerank_iters=cfg.kg_pagerank_iters,
            doc_embeddings=signatures.select(
                F.xxhash64("url").alias("vec_id"), "embedding"
            ),
        )
        return [tables[n] for n in _KG_TABLES]

    salted: dict[str, DataFrame] = {}

    def block():  # + salting; the oversize report joins the block's lineage
        blocks, salted["oversize"] = salt_blocks(
            blocks_stage(signatures, cfg.families), cfg.block_cap
        )
        return [blocks]

    def block_lineage(df: DataFrame, run_id: str, name: str) -> DataFrame:
        return _partition_metrics(df, run_id, name).unionByName(_lineage_rows(
            salted["oversize"], run_id, "block_oversize",
            block_id=F.col("block_key"),
            pair_count=F.col("dropped_pairs_upper_bound"),
            rows_in=F.col("block_size"),
            rows_out=F.col("n_salt"),
        ))

    def cluster():  # cluster + publish
        cc_max_edges = cfg.driver_cc_max_edges
        out["cc_stats"] = {}
        return clusters_stage(
            signatures, scored.where(F.col("accepted")), cfg.threshold, cfg.strategy,
            max_component_docs=cfg.max_component_docs,
            driver_cc_max_edges=DRIVER_CC_MAX_EDGES if cc_max_edges < 0 else cc_max_edges,
            cc_stats=out["cc_stats"],
        )

    def cluster_lineage(df: DataFrame, run_id: str, name: str) -> DataFrame:
        rows = _partition_metrics(df, run_id, name)
        if name != "cluster_groups" or cfg.max_component_docs is None:
            return rows
        # one row per split parent component (labels look like
        # "<component>#<i>"), rows_out = sub-clusters it produced
        splits = (
            df.where(F.col("component").contains("#"))
            .withColumn("parent", F.substring_index("component", "#", 1))
            .groupBy("parent")
            .agg(F.count("*").alias("n_sub"), F.sum("member_count").alias("n_docs"))
        )
        return rows.unionByName(_lineage_rows(
            splits, run_id, "cluster_split",
            block_id=F.col("parent"),
            rows_in=F.col("n_docs"),
            rows_out=F.col("n_sub"),
        ))

    # queued lineage still lands if a later stage fails: its stage committed
    with ThreadPoolExecutor(max_workers=1) as pool:
        (signatures,) = stage(["sign"], sign)
        if cfg.build_kg:
            out.update(zip(_KG_TABLES, stage(_KG_TABLES, kg)))
        (blocks,) = stage(["block"], block, block_lineage)
        (pairs,) = stage(["pair"], lambda: [candidate_pairs_stage(blocks)])
        (scored,) = stage(
            ["score"],
            lambda: [scored_pairs_stage(
                attach_pair_features(pairs, signatures), cfg.threshold
            )],
            _score_histogram_metrics,
        )
        clusters, members = stage(
            ["cluster_groups", "cluster_members"], cluster, cluster_lineage
        )
        for job in lineage_jobs:
            job.result()
    out.update(
        signatures=signatures, blocks=blocks, pairs=pairs, scored_pairs=scored,
        clusters=clusters, members=members,
    )
    if cfg.checkpoint_dir is not None:
        out["metrics"] = spark.read.parquet(
            os.path.join(cfg.checkpoint_dir, "metrics.parquet")
        )
    return out
