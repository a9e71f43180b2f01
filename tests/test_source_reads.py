"""Source tables are generated and read once: ``materialize_pages`` runs the
page generator in one pass and reuses only committed output, and the entry
reader ``__spark_entry__._t`` infers each table's schema once per process.
Spark jobs are counted per job group once the listener bus has drained."""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pytest

from yams_spark.sources.pages import (
    PAGES_COLUMNS,
    PAGES_SCHEMA,
    TRUTH_SCHEMA,
    generate_pages_pdf,
    materialize_pages,
)


def _count_jobs(spark, fn):
    """(fn's result, number of Spark jobs fn issued)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _persisted(spark) -> set[int]:
    """Ids of the cached RDDs. Other tests' pins may be released while we
    run (the context cleaner drops collected ones), so compare as sets."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _markers(out_dir: str) -> list[bool]:
    return [
        os.path.exists(os.path.join(out_dir, t, "_SUCCESS"))
        for t in ("pages.parquet", "truth.parquet")
    ]


@pytest.fixture(scope="module")
def materialized(spark, sf_dir, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("pages"))
    cached_before = _persisted(spark)
    (pages, truth), jobs = _count_jobs(
        spark, lambda: materialize_pages(spark, sf_dir, out_dir)
    )
    return {"out_dir": out_dir, "jobs": jobs, "pages": pages, "truth": truth,
            "cached_before": cached_before, "cached_after": _persisted(spark)}


def test_fresh_materialize_generates_once(materialized):
    """One generator pass and known-schema reads: documents schema, the
    pages write (shuffle + write), the truth write from the persisted
    output, and no inference job for the two read-backs. Nothing stays
    cached."""
    assert materialized["jobs"] == 5
    assert materialized["cached_after"] <= materialized["cached_before"]
    assert _markers(materialized["out_dir"]) == [True, True]
    assert materialized["pages"].schema == PAGES_SCHEMA
    assert materialized["truth"].schema == TRUTH_SCHEMA


def test_materialized_tables_equal_the_generator(materialized, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    expected = generate_pages_pdf(docs).sort_values("url").reset_index(drop=True)
    expected["warc_ts"] = expected["warc_ts"].dt.tz_localize(None).astype("datetime64[us]")

    pages = materialized["pages"].toPandas().sort_values("url").reset_index(drop=True)
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    pages["html"] = pages["html"].map(bytes)
    pd.testing.assert_frame_equal(pages, expected[PAGES_COLUMNS])

    truth = materialized["truth"].toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(truth, expected[["url", "family_id"]])


def test_committed_pair_is_reused_without_spark_jobs(spark, sf_dir, materialized):
    (pages, truth), jobs = _count_jobs(
        spark, lambda: materialize_pages(spark, sf_dir, materialized["out_dir"])
    )
    assert jobs == 0
    assert (pages.schema, truth.schema) == (PAGES_SCHEMA, TRUTH_SCHEMA)


def test_uncommitted_output_is_regenerated(spark, sf_dir, materialized):
    """A truth write that died before its commit leaves no ``_SUCCESS``:
    both tables are generated again, and both markers come back."""
    out_dir = materialized["out_dir"]
    os.remove(os.path.join(out_dir, "truth.parquet", "_SUCCESS"))
    n_pages = materialized["pages"].count()

    (pages, truth), jobs = _count_jobs(
        spark, lambda: materialize_pages(spark, sf_dir, out_dir)
    )
    assert jobs == 5
    assert _markers(out_dir) == [True, True]
    assert pages.count() == truth.count() == n_pages


def test_entry_reader_infers_each_schema_once(spark, sf_dir):
    import __spark_entry__ as entry

    first, _ = _count_jobs(spark, lambda: entry._t(spark, sf_dir, "orders"))
    again, jobs = _count_jobs(spark, lambda: entry._t(spark, sf_dir, "orders"))
    assert jobs == 0
    assert again.schema == first.schema
