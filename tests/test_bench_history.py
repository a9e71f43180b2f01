"""Benchmark latency statistics (internal_benchmark.cpp LatencyStats)
against a plain-Python restatement of the C++ rule."""

from __future__ import annotations


def test_latency_stats_matches_cpp_rule(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from yams_spark.operators.bench_history import latency_stats

    samples = {
        "a": [5.0, 1.0, 9.0, 3.0, 7.0],             # odd count
        "b": [2.0, 4.0, 6.0, 8.0],                   # even count
        "c": [42.0],                                 # single sample
        "d": [float(x) for x in range(1, 101)],      # interp percentiles
    }
    rows = [(k, v) for k, vs in samples.items() for v in vs]
    df = spark.createDataFrame(rows, "bench string, latency_ms double")
    got = {r["bench"]: r.asDict() for r in latency_stats(df).collect()}

    def cpp(vals):
        s = sorted(vals)
        n = len(s)
        mid = n // 2
        median = (s[mid - 1] + s[mid]) / 2.0 if n % 2 == 0 else s[mid]

        def pct(p):
            idx = p * (n - 1)
            lo, hi = int(np.floor(idx)), int(np.ceil(idx))
            if lo == hi or hi >= n:
                return s[min(lo, n - 1)]
            frac = idx - lo
            return s[lo] * (1 - frac) + s[hi] * frac

        mean = sum(s) / n
        sd = (
            (sum((x - mean) ** 2 for x in s) / (n - 1)) ** 0.5
            if n > 1 else 0.0
        )
        return (n, s[0], s[-1], mean, median, pct(0.95), pct(0.99), sd)

    for k, vals in samples.items():
        want = cpp(vals)
        g = got[k]
        have = (
            g["sample_count"], g["min_ms"], g["max_ms"], g["mean_ms"],
            g["median_ms"], g["p95_ms"], g["p99_ms"], g["stddev_ms"],
        )
        for a, b in zip(have, want):
            assert abs(a - b) < 1e-9, (k, have, want)
