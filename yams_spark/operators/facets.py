"""Facet aggregation with deterministic sampling above a size threshold.

The reference caps facet input under load — 256/512 first-ranked rows
under high/medium pressure, exact otherwise — and flags the result
approximate (``reference src/search/search_facets.cpp:33-43,78-97``;
``search_facets.h:12-22``). A ranked prefix is the right cap for an
in-memory result span; at Spark altitude it would cost a global sort, so
the recast samples by content hash instead: keep rows whose
``sha256(id)`` starts with ``k`` zero hex digits (a deterministic
1/16^k Bernoulli sample, identical in Spark and DuckDB so it stays
oracle-checkable), scale counts by ``16^k``, and flag the rows
approximate. Facet values sort count-desc then value-asc with empty
values dropped, exactly like ``buildFacet`` (:45-61).

Scale shape: the sample predicate is a narrow filter evaluated in the
scan (no shuffle, no sort); each field then pays one keyed aggregation
over ~``rows/16^k`` rows instead of the full result set — the 100M-row
facet panel costs a fraction of a scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: default target sample size — comfortably exact facet shares at <1%
#: relative error for any value with a few percent of the mass
FACET_SAMPLE_TARGET = 65536


def choose_sample_digits(input_rows: int | None) -> int:
    """Zero-hex-digit count for ~``FACET_SAMPLE_TARGET`` sampled rows: the
    largest k with rows/16^k >= target (0 = exact). Pass the caller's
    row-count hint — like the ANN ``corpus_rows`` hint, this avoids
    paying a count() job per facet call."""
    if not input_rows or input_rows <= FACET_SAMPLE_TARGET:
        return 0
    return int(math.floor(math.log(input_rows / FACET_SAMPLE_TARGET, 16)))


def facet_counts(
    results: DataFrame,
    fields: list[str],
    id_col: str = "doc_id",
    sample_hex_digits: int = 0,
) -> DataFrame:
    """(field, value, n, rk, approximate): per-field value counts over
    ``results`` — exact when ``sample_hex_digits`` is 0, otherwise over
    the deterministic ``sha256(id)``-prefix sample with counts scaled by
    ``16^k`` (so ``n`` estimates the exact count). ``rk`` ranks values
    inside each field by (count desc, value asc), the reference's facet
    ordering."""
    if not fields:
        raise ValueError("facet_counts requires facet fields")
    if sample_hex_digits < 0:
        raise ValueError("sample_hex_digits must be >= 0")
    ratio = 16 ** sample_hex_digits
    src = results
    if sample_hex_digits > 0:
        h = F.sha2(F.encode(F.col(id_col).cast("string"), "UTF-8"), 256)
        src = results.where(
            F.substring(h, 1, sample_hex_digits) == "0" * sample_hex_digits
        )
    parts = []
    for field in fields:
        v = F.col(field).cast("string")
        parts.append(
            src.where(v.isNotNull() & (v != ""))
            .groupBy(v.alias("value"))
            .agg((F.count("*") * F.lit(ratio)).cast("long").alias("n"))
            .select(F.lit(field).alias("field"), "value", "n")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("field").orderBy(F.col("n").desc(), F.col("value").asc())
    return out.withColumn("rk", F.row_number().over(w)).withColumn(
        "approximate", F.lit(sample_hex_digits > 0)
    )
