"""SparkSession factory with the scale-oriented defaults this engine assumes:

* Arrow-batched Python UDF transfer (all our UDFs are pandas/Arrow batch),
* AQE + skew-join handling (hot blocking keys at web scale),
* a shuffle-partition count sized to the local test harness but overridable
  for cluster runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "yams_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("YAMS_SPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[$SPARK_GRAFT_CPUS]" and cores:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("YAMS_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # post-shuffle coalescing targets: the 64MB default collapses this
        # pipeline's mid-size shuffles to 1-3 partitions, serializing the
        # downstream Arrow UDF stages; 8MB keeps them parallel while still
        # coalescing tiny exchanges
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime-size-gated SMJ->SHJ rewrite: AQE only applies it when
        # EVERY post-shuffle partition of the build side fits the local map
        # threshold, so (unlike a blanket preferSortMergeJoin=false) it can
        # never pick a hash join that a skewed 100TB partition would blow up
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # NOTE: keep the default autoBroadcastJoinThreshold (10m). Raising it
        # makes Catalyst broadcast the embedding-bearing signature table in
        # the pair-hydration joins (~330MB deserialized) — driver GC churn
        # and 2-10x run variance. Small dimension tables are hinted
        # explicitly where broadcast is safe.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("YAMS_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    local_dir = os.environ.get("YAMS_SPARK_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make yams_spark importable on executors regardless of driver cwd —
    the addPyFile equivalent of ``spark-submit --py-files yams_spark.zip``.
    Ships once per SparkContext: every shipped zip rides along with each
    Python task and adds one more ``sys.path`` entry on the driver."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"yams_spark_pkg_{os.getpid()}.zip"
    )
    sc = spark.sparkContext
    if os.path.basename(zip_path) in sc._python_includes:
        return
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for name in files:
                    if name.endswith(".py"):
                        full = os.path.join(root, name)
                        rel = os.path.join(
                            "yams_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
