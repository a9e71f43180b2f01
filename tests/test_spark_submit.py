"""North-rule deployment shape: the pipeline runs via
``spark-submit --py-files yams_spark.zip`` in a clean subprocess whose
only access to the package is the shipped zip artifact."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest


def _build_zip(tmp: str) -> str:
    from yams_spark.session import _package_sources

    zip_path = os.path.join(tmp, "yams_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for arcname, full in _package_sources():
            zf.write(full, arcname)
    return zip_path


def test_spark_submit_py_files_runs_pipeline(spark, tmp_path):
    """Build a tiny pages parquet, then run the full ER pipeline through a
    REAL ``spark-submit --py-files`` subprocess (fresh JVM, no repo on
    sys.path) and check the published clusters."""
    submit = shutil.which("spark-submit")
    if submit is None:
        submit = os.path.join(
            os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
        )
        if not os.path.exists(submit):
            pytest.skip("spark-submit not available")

    # 6 pages: two identical-text pairs + two singletons
    rows = []
    for i in range(6):
        body = f"document body {i // 2}" if i < 4 else f"unique body {i}"
        html = f"<html><body>{body}</body></html>".encode()
        rows.append((f"u{i}", 1704067200 + i, bytearray(html), None, "en"))
    pages = spark.createDataFrame(
        rows, "url string, ts long, html binary, text string, lang string"
    ).selectExpr("url", "timestamp_seconds(ts) as warc_ts", "html", "text", "lang")
    pages_path = str(tmp_path / "pages.parquet")
    pages.write.parquet(pages_path)

    zip_path = _build_zip(str(tmp_path))
    out_dir = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    proc = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--py-files", zip_path,
            os.path.join(repo, "tools", "submit_er_job.py"),
            "--pages", pages_path,
            "--out", out_dir,
            "--families", "exact",
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),  # NOT the repo root: only the zip provides the pkg
        timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(
        l for l in proc.stdout.splitlines() if l.startswith("SUBMIT_RESULT ")
    )
    res = json.loads(line[len("SUBMIT_RESULT "):])
    assert res == {
        "pages": 6, "clusters": 2, "members": 4, "out": out_dir,
    }
    # stage checkpoints + lineage metrics landed as durable parquet
    assert os.path.exists(os.path.join(out_dir, "stages", "sign.parquet"))
    assert os.path.exists(os.path.join(out_dir, "stages", "metrics.parquet"))


def test_package_ships_once_per_context(spark):
    """``get_spark``, ``entry()`` and every ``queries()`` dispatch ship the
    package; after the first, a call adds no task dependency and no driver
    ``sys.path`` entry. Executors still import the package."""
    from pyspark.sql import functions as F

    from yams_spark.session import _ship_package

    sc = spark.sparkContext
    _ship_package(spark)
    path, includes = list(sys.path), list(sc._python_includes)
    _ship_package(spark)
    assert (sys.path, sc._python_includes) == (path, includes)

    @F.udf("string")
    def where(_):
        import yams_spark.sources.pages as pages

        return pages.__name__

    (row,) = spark.range(1).select(where("id").alias("m")).collect()
    assert row.m == "yams_spark.sources.pages"


def test_shipped_zip_is_named_by_content(spark):
    """The shipped zip's name carries the package fingerprint, and its
    members are the current sources byte for byte, so a zip left by an
    older run (or another process) is never shipped in their place."""
    from yams_spark import session

    session._ship_package(spark)
    name = f"yams_spark_pkg_{session.package_fingerprint()}.zip"
    assert name in spark.sparkContext._python_includes
    path = os.path.join(os.environ.get("TMPDIR", "/tmp"), name)
    with zipfile.ZipFile(path) as zf:
        shipped = {n: zf.read(n) for n in zf.namelist()}
    current = {}
    for arcname, full in session._package_sources():
        with open(full, "rb") as f:
            current[arcname] = f.read()
    assert shipped == current


def test_queries_ship_the_package_at_dispatch(spark, sf_dir, monkeypatch):
    """A query reached through ``queries()`` ships the package for its
    session before it builds its plan (here: before it reads a table)."""
    import __spark_entry__ as entry
    from yams_spark import session

    events = []
    monkeypatch.setattr(session, "_ship_package",
                        lambda s: events.append(("ship", s)))
    read = entry._t
    monkeypatch.setattr(entry, "_t",
                        lambda *a: events.append(("read", a[2])) or read(*a))
    df = entry.queries()["q101_plain_extract"](spark, sf_dir)
    assert events[:2] == [("ship", spark), ("read", "documents")]
    assert df.count() > 0


def test_only_dispatch_ships_the_package():
    """No query body ships the package itself: in ``__spark_entry__.py``
    only ``entry()`` and the ``queries()`` dispatch wrapper call
    ``_ship_package``."""
    import ast

    import __spark_entry__ as entry

    with open(entry.__file__) as f:
        tree = ast.parse(f.read())
    callers = {
        fn.name for fn in tree.body if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None))
        == "_ship_package"
    }
    assert callers == {"entry", "_shipping"}

