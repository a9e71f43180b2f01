"""SparkSession factory with the scale-oriented defaults this engine assumes:

* Arrow-batched Python UDF transfer (all our UDFs are pandas/Arrow batch),
* AQE + skew-join handling (hot blocking keys at web scale),
* a shuffle-partition count sized to the local test harness but overridable
  for cluster runs.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


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


def _package_sources() -> list[tuple[str, str]]:
    """(path inside the zip, file path) of every ``.py`` in the package,
    sorted so the fingerprint does not depend on directory order."""
    out = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                full = os.path.join(root, name)
                rel = os.path.relpath(full, _PKG_DIR)
                out.append((os.path.join("yams_spark", rel), full))
    return sorted(out)


@functools.cache
def package_fingerprint() -> str:
    """Content hash of the package's ``.py`` sources (paths and bytes),
    computed once per process: the shipped zip's name and the driver
    entry's cache tag both derive from it."""
    h = hashlib.blake2b(digest_size=8)
    for arcname, full in _package_sources():
        with open(full, "rb") as f:
            data = f.read()
        h.update(f"{arcname}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()


def _ship_package(spark: SparkSession) -> None:
    """Make yams_spark importable on executors regardless of driver cwd —
    the addPyFile equivalent of ``spark-submit --py-files yams_spark.zip``.
    Ships once per SparkContext: every shipped zip rides along with each
    Python task and adds one more ``sys.path`` entry on the driver. The
    zip is named by ``package_fingerprint()``, so processes running the
    same sources share one file and a stale zip is never reused; it is
    written under a temporary name and renamed into place."""
    import tempfile
    import zipfile

    name = f"yams_spark_pkg_{package_fingerprint()}.zip"
    sc = spark.sparkContext
    if name in sc._python_includes:
        return
    tmp_dir = os.environ.get("TMPDIR", "/tmp")
    zip_path = os.path.join(tmp_dir, name)
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(prefix=f".{name}.", dir=tmp_dir)
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
                for arcname, full in _package_sources():
                    zf.write(full, arcname)
            os.chmod(tmp, 0o644)  # mkstemp's 0600 would keep it to this user
            os.replace(tmp, zip_path)
        except BaseException:
            os.unlink(tmp)
            raise
    sc.addPyFile(zip_path)
