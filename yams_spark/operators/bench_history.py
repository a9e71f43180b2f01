"""Benchmark latency statistics (reference ``src/search/internal_benchmark.cpp``)."""

from __future__ import annotations


def latency_stats(df, value_col: str = "latency_ms", group_cols=("bench",)):
    """LatencyStats::compute (src/search/internal_benchmark.cpp:19-74)
    for every benchmark group at once: count/min/max/mean, the
    even-count-average median, linear-interpolation p95/p99 (the
    ``(n-1)*p`` rule — exactly Spark's exact ``percentile`` and
    DuckDB's ``quantile_cont``), and the (n-1)-denominator stddev
    (0 for a single sample, like the C++ default). Map-side-combined
    keyed aggregation — one shuffle on the group key."""
    from pyspark.sql import functions as F

    v = F.col(value_col).cast("double")
    pct = F.percentile(v, F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(v).alias("sample_count"),
            F.min(v).alias("min_ms"),
            F.max(v).alias("max_ms"),
            F.avg(v).alias("mean_ms"),
            pct.alias("_pct"),
            F.stddev_samp(v).alias("_sd"),
        )
        .select(
            *group_cols,
            "sample_count", "min_ms", "max_ms", "mean_ms",
            F.col("_pct")[0].alias("median_ms"),
            F.col("_pct")[1].alias("p95_ms"),
            F.col("_pct")[2].alias("p99_ms"),
            F.coalesce(F.col("_sd"), F.lit(0.0)).alias("stddev_ms"),
        )
    )
