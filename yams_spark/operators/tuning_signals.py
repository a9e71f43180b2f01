"""Contextual-bandit tuning signals: feature vector, bucket key, reward.

Re-expresses the reference's pure tuning-signal functions as Catalyst
column math over a batch of ``TuningContext`` rows:

* ``featurize`` (``/root/reference/src/search/tuning_features.cpp:34-57``):
  the 11-dim normalized feature vector in [-1, 1] — docCountLog10/6,
  three 0.5-centered ratios, the /10-scaled densities and depth,
  queryTokenCountLog2/6, and the {-1,+1} boolean remap.
* ``bucketize`` (``tuning_features.cpp:100-110``): the stable
  ``c{q}/d{decade}/e{t}/m{flag}/ce{epoch}/te{epoch}`` handoff key —
  codeRatio quartile, docCountLog10 decade floor (non-finite/<=0 -> 0,
  cap 6), embeddingCoverage tercile, binaryRatio media flag, epochs
  verbatim.
* ``combine_reward`` (``tuning_reward.cpp:26-49``): label-vs-proxy
  blend — proxy = 0.6·kgUtility + 0.2·freshness + 0.2·agreement with
  non-finite inputs zeroed, latency-over-budget penalty floored at 0,
  clamp01 output, and the Labels / Mixed / Proxy source attribution
  (labels win when present AND finite; Mixed when the proxy blend is
  non-trivial, > 1e-6).

Everything is per-row column arithmetic — zero exchanges, zero Python;
the operators inherit whatever partitioning the context batch has.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: TuningContext columns (search_tuner.h:739-760); any missing column is
#: treated as the struct's zero default by the entry points below.
CONTEXT_FIELDS = (
    "doc_count_log10",
    "code_ratio",
    "prose_ratio",
    "embedding_coverage",
    "native_symbol_density",
    "path_relative_depth_avg",
    "binary_ratio",
    "kg_edge_density",
    "query_token_count_log2",
    "query_has_vector_path",
    "query_has_kg_anchors",
    "corpus_epoch",
    "topology_epoch",
)

_INF = float("inf")


def _finite(c: Column) -> Column:
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(_INF))


def _clamp1(c: Column) -> Column:
    """clamp1 (tuning_features.cpp:11-19). NaN passes through like the
    C++ (both comparisons false), but featurize inputs are finite by
    contract."""
    return F.when(c < -1.0, F.lit(-1.0)).when(c > 1.0, F.lit(1.0)).otherwise(c)


def _centered_half(c: Column) -> Column:
    """[0,1] ratio -> [-1,+1] centered signal (:21-26)."""
    clamped = F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))
    return _clamp1((clamped - F.lit(0.5)) * F.lit(2.0))


def _ctx(df: DataFrame, name: str) -> Column:
    """Field or its zero default (a zero-initialized TuningContext is the
    documented cold-start context)."""
    if name in df.columns:
        return F.col(name)
    return F.lit(0.0)


def featurize(ctx: DataFrame) -> DataFrame:
    """Append ``f0``..``f10`` (tuning_features.cpp:34-57; order is the
    persisted-bandit-state contract, tuning_features.h:14)."""
    return (
        ctx.withColumn("f0", _clamp1(_ctx(ctx, "doc_count_log10") / 6.0))
        .withColumn("f1", _centered_half(_ctx(ctx, "code_ratio")))
        .withColumn("f2", _centered_half(_ctx(ctx, "prose_ratio")))
        .withColumn("f3", _centered_half(_ctx(ctx, "embedding_coverage")))
        .withColumn(
            "f4", _clamp1(_ctx(ctx, "native_symbol_density") / 10.0 - 1.0)
        )
        .withColumn("f5", _clamp1(_ctx(ctx, "path_relative_depth_avg") / 10.0))
        .withColumn("f6", _centered_half(_ctx(ctx, "binary_ratio")))
        .withColumn("f7", _clamp1(_ctx(ctx, "kg_edge_density") / 10.0 - 1.0))
        .withColumn(
            "f8", _clamp1(_ctx(ctx, "query_token_count_log2") / 6.0)
        )
        .withColumn(
            "f9",
            F.when(_ctx(ctx, "query_has_vector_path") != 0, F.lit(1.0)).otherwise(
                F.lit(-1.0)
            ),
        )
        .withColumn(
            "f10",
            F.when(_ctx(ctx, "query_has_kg_anchors") != 0, F.lit(1.0)).otherwise(
                F.lit(-1.0)
            ),
        )
    )


def _quartile(c: Column) -> Column:
    """Quartile over [0,1] (:62-76); NaN clamps low via the comparison
    cascade exactly like std::clamp-then-compare would not — bucketize
    callers pass finite ratios (the stats pipeline zeroes non-finite)."""
    clamped = F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))
    return (
        F.when(clamped < 0.25, F.lit(0))
        .when(clamped < 0.5, F.lit(1))
        .when(clamped < 0.75, F.lit(2))
        .otherwise(F.lit(3))
    )


def _tercile(c: Column) -> Column:
    clamped = F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))
    return (
        F.when(clamped < 1.0 / 3.0, F.lit(0))
        .when(clamped < 2.0 / 3.0, F.lit(1))
        .otherwise(F.lit(2))
    )


def _doc_decade(c: Column) -> Column:
    """docDecade (:88-96): non-finite or <= 0 -> 0, floor, cap at 6."""
    floored = F.floor(c)
    return (
        F.when(F.isnan(c) | (F.abs(c) == F.lit(_INF)) | (c <= 0.0), F.lit(0))
        .when(floored >= 6.0, F.lit(6))
        .otherwise(floored.cast("int"))
    )


def bucketize(ctx: DataFrame, out_col: str = "bucket") -> DataFrame:
    """Append the stable bucket key (tuning_features.cpp:100-110)."""
    return ctx.withColumn(
        out_col,
        F.concat(
            F.lit("c"),
            _quartile(_ctx(ctx, "code_ratio")).cast("string"),
            F.lit("/d"),
            _doc_decade(_ctx(ctx, "doc_count_log10")).cast("string"),
            F.lit("/e"),
            _tercile(_ctx(ctx, "embedding_coverage")).cast("string"),
            F.lit("/m"),
            F.when(_ctx(ctx, "binary_ratio") >= 0.5, F.lit("1")).otherwise(
                F.lit("0")
            ),
            F.lit("/ce"),
            _ctx(ctx, "corpus_epoch").cast("long").cast("string"),
            F.lit("/te"),
            _ctx(ctx, "topology_epoch").cast("long").cast("string"),
        ),
    )


def combine_reward(
    observations: DataFrame,
    label_col: str = "label_reward",
    kg_col: str = "kg_utility",
    freshness_col: str = "freshness_boost",
    agreement_col: str = "agreement_boost",
    over_budget_col: str = "latency_over_budget",
) -> DataFrame:
    """Append ``reward_value`` / ``reward_source``
    (tuning_reward.cpp:26-49). ``label_col`` is the optional: NULL or
    non-finite label routes to the proxy branch; a finite label is
    penalized by the over-budget amount and attributed Labels, or Mixed
    when the proxy blend is non-trivial (> 1e-6)."""

    def clean(name: str) -> Column:
        c = F.col(name)
        return F.when(_finite(c), c).otherwise(F.lit(0.0))

    def clamp01(c: Column) -> Column:
        return F.when(~_finite(c) | (c < 0.0), F.lit(0.0)).otherwise(
            F.least(c, F.lit(1.0))
        )

    over = F.greatest(F.lit(0.0), clean(over_budget_col))
    proxy = (
        clean(kg_col) * 0.6
        + clean(freshness_col) * 0.2
        + clean(agreement_col) * 0.2
    )
    label = F.col(label_col)
    has_label = _finite(label)
    return (
        observations.withColumn("_proxy_blended", proxy)
        .withColumn(
            "reward_value",
            F.when(has_label, clamp01(label - over)).otherwise(
                clamp01(F.col("_proxy_blended") - over)
            ),
        )
        .withColumn(
            "reward_source",
            F.when(
                has_label,
                F.when(F.col("_proxy_blended") > 1e-6, F.lit("mixed")).otherwise(
                    F.lit("labels")
                ),
            ).otherwise(F.lit("proxy")),
        )
        .drop("_proxy_blended")
    )
