"""Outside-in layer trace of the ER pipeline.

Calls the public stage functions in ``run_pipeline``'s order, commits each
output to parquet (as the pipeline's checkpointed path does) and tags the
Spark jobs of each call with ``setJobGroup(<layer>)``. ``cc`` is the call
to ``connected_components`` made inside ``clusters_stage``; ``publish`` is
the rest of ``clusters_stage`` plus the two published commits. Nothing
inside the program is changed or instrumented.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

ER_LAYERS = ("sign", "block", "pair", "score", "cc", "publish")


def set_job_group(sc, name: str | None) -> None:
    """Tag the calling thread's next Spark jobs with ``name`` (None clears)."""
    if name:
        sc.setJobGroup(name, name)
    else:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class LayerClock:
    """Wall seconds per layer plus the job group the layer's jobs carry."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}
        self._stack: list[str] = []

    @contextmanager
    def layer(self, name: str):
        self._stack.append(name)
        set_job_group(self.sc, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self._stack.pop()
            set_job_group(self.sc, self._stack[-1] if self._stack else None)


def prepare_pages(spark, pages):
    """The input adjustments ``run_pipeline`` makes before its first stage:
    at least 2x cores scan partitions and shuffle slots."""
    par = spark.sparkContext.defaultParallelism
    if len(pages.inputFiles()) < par:
        pages = pages.repartition(par * 2)
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if cur < 2 * par:
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * par))
    return pages


def traced_pipeline(spark, pages, cfg, out_dir: str, clock: LayerClock):
    """Run the ER stages layer by layer; returns the committed clusters."""
    from pyspark.sql import functions as F

    from yams_spark.operators import clustering
    from yams_spark.operators.blocking import (
        blocks_stage,
        candidate_pairs_stage,
        salt_blocks,
    )
    from yams_spark.operators.scoring import attach_pair_features, scored_pairs_stage
    from yams_spark.operators.signatures import signatures_stage

    def commit(df, name):
        path = os.path.join(out_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    pages = prepare_pages(spark, pages)
    with clock.layer("sign"):
        sig = commit(signatures_stage(pages, cfg.chunk_cfg), "sign")
    with clock.layer("block"):
        blocks, oversize = salt_blocks(blocks_stage(sig, cfg.families), cfg.block_cap)
        blocks = commit(blocks, "block")
        oversize.collect()  # the oversize lineage report the pipeline writes
    with clock.layer("pair"):
        pairs = commit(candidate_pairs_stage(blocks), "pair")
    with clock.layer("score"):
        scored = commit(scored_pairs_stage(attach_pair_features(pairs, sig),
                                           cfg.threshold), "score")

    cc_orig = clustering.connected_components

    def cc_traced(*args, **kwargs):
        with clock.layer("cc"):
            return cc_orig(*args, **kwargs)

    max_edges = (clustering.DRIVER_CC_MAX_EDGES if cfg.driver_cc_max_edges < 0
                 else cfg.driver_cc_max_edges)
    clustering.connected_components = cc_traced
    try:
        with clock.layer("publish"):
            clusters, members = clustering.clusters_stage(
                sig, scored.where(F.col("accepted")), cfg.threshold, cfg.strategy,
                max_component_docs=cfg.max_component_docs,
                driver_cc_max_edges=max_edges)
            clusters = commit(clusters, "cluster_groups")
            commit(members, "cluster_members")
    finally:
        clustering.connected_components = cc_orig
    # publish's clock ran around cc: count cc once
    clock.wall["publish"] -= clock.wall.get("cc", 0.0)
    return clusters
