"""Query routing: intent / retrieval-mode / community classification.

The reference routes each query before retrieval
(``reference src/search/query_router.cpp``): intent = Path / Code /
Prose / Mixed from surface signals (:92-123), retrieval mode = Path /
Literal / Semantic / Hybrid from intent + literal/regex shape
(:198-232), community = Code / Scientific / Media from intent + term
hits against two fixed vocabularies (:125-182). Every rule is a pure
function of the query string, so the whole router is one Catalyst
expression tree over a query column — classify a million queries with a
narrow projection, no shuffle, no Python.

``route_queries`` is the batch operator; ``route_query`` classifies one
driver-side string through the same column expressions (a 1-row local
DataFrame) so both paths share one rule statement. The corpus-profile
suppression flags (``QueryRouteContext``, :127-176 — skip a community
when the whole corpus already uses that profile) default to false here,
matching the reference's default-constructed context.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: CommunityRouteFamily vocabularies (query_router.cpp:141-146,163-166)
SCIENTIFIC_TERMS = [
    "study", "analysis", "trial", "effect", "association", "mechanism",
    "inhibit", "protein", "gene", "disease", "treatment", "cohort",
    "hypothesis", "evidence", "receptor", "exposure", "mutation", "clinical",
]
MEDIA_TERMS = [
    "photo", "video", "image", "audio", "screenshot", "recording",
    "camera", "album", "clip", "thumbnail", "podcast", "playlist",
]
#: hasRegexLikeSyntax chars (query_router.cpp:18-21): [](){}*+?|^$\\


def _route_columns(q):
    """The full decision tree as column expressions over query column ``q``
    — shared by the batch and single-query paths and restated verbatim by
    the DuckDB oracle."""
    # tokenizeLower (query_text_utils.cpp:340-362): maximal ASCII-alnum
    # runs, lowercased
    tokens = F.filter(
        F.split(F.lower(F.regexp_replace(q, "[^0-9a-zA-Z]+", " ")), " "),
        lambda x: x != "",
    )
    n_tokens = F.size(tokens)

    has_path_sep = F.contains(q, F.lit("/")) | F.contains(q, F.lit("\\"))
    has_path_prefix = q.startswith("./") | q.startswith("../")
    has_code_sig = (
        F.contains(q, F.lit("::")) | F.contains(q, F.lit("->"))
        | F.contains(q, F.lit("#")) | F.contains(q, F.lit("_"))
    )
    # hasFileExtension (:64-81): last dot not at position 0, 1-5 alnum
    # chars after it, nothing else
    has_ext = q.rlike(r"^.+\.[0-9A-Za-z]{1,5}$")
    # hasCamelCase (:27-62): some alnum token with a lowercase letter AND
    # an uppercase letter that follows an earlier alpha
    alnum_tokens = F.filter(
        F.split(F.regexp_replace(q, "[^0-9a-zA-Z]+", " "), " "),
        lambda x: x != "",
    )
    camel = F.exists(
        alnum_tokens,
        lambda t: t.rlike("[a-z]") & t.rlike("[A-Za-z].*[A-Z]"),
    )
    empty = F.length(q) == 0

    intent = (
        F.when(empty, "mixed")
        .when(has_path_sep | has_path_prefix, "path")
        .when(has_code_sig | camel | has_ext, "code")
        .when(n_tokens >= 3, "prose")
        .otherwise("mixed")
    )
    intent_conf = (
        F.when(empty, 0.25)
        .when(has_path_sep | has_path_prefix, 0.98)
        .when(has_code_sig | camel | has_ext, 0.95)
        .when(n_tokens >= 3, 0.80)
        .otherwise(0.40)
    )
    intent_reason = (
        F.when(empty, "empty_query")
        .when(has_path_sep | has_path_prefix, "path_separator")
        .when(has_code_sig, "code_signature")
        .when(camel, "camel_case")
        .when(has_ext, "file_extension")
        .when(n_tokens >= 3, "token_count>=3")
        .otherwise("short_query_fallback")
    )

    quoted = (F.length(q) >= 2) & (
        (q.startswith('"') & q.endswith('"'))
        | (q.startswith("'") & q.endswith("'"))
    )
    regexy = q.rlike(r"[\[\](){}*+?|^$\\]")
    mode = (
        F.when(empty, "hybrid")
        .when(intent == "path", "path")
        .when(quoted | regexy, "literal")
        .when(intent == "code", "literal")
        .when(intent == "prose", "semantic")
        .when(n_tokens <= 2, "literal")
        .otherwise("hybrid")
    )
    mode_conf = (
        F.when(empty, 0.25)
        .when(intent == "path", 0.99)
        .when(quoted, 0.98)
        .when(regexy, 0.96)
        .when(intent == "code", 0.97)
        .when(intent == "prose", F.when(n_tokens >= 6, 0.92).otherwise(0.84))
        .when(n_tokens <= 2, 0.72)
        .otherwise(0.60)
    )
    mode_reason = (
        F.when(empty, "empty_query")
        .when(intent == "path", "path_intent")
        .when(quoted, "quoted_literal")
        .when(regexy, "regex_like")
        .when(intent == "code", "code_intent")
        .when(intent == "prose", F.when(n_tokens >= 6, "long_prose").otherwise("prose_intent"))
        .when(n_tokens <= 2, "short_query_literal_bias")
        .otherwise("mixed_intent_fallback")
    )

    sci_hits = F.size(
        F.filter(tokens, lambda t: t.isin(*SCIENTIFIC_TERMS))
    )
    first_media = F.array_position(
        F.transform(tokens, lambda t: t.isin(*MEDIA_TERMS)), True
    )
    media_term = F.when(first_media > 0, F.get(tokens, first_media.cast("int") - 1))
    community = (
        F.when(intent.isin("code", "path"), "code")
        .when(sci_hits >= 2, "scientific")
        .when(media_term.isNotNull(), "media")
    )
    community_conf = (
        F.when(intent.isin("code", "path"), 0.98)
        .when(
            sci_hits >= 2,
            F.least(F.lit(1.0), 0.55 + sci_hits.cast("double") * 0.10),
        )
        .when(media_term.isNotNull(), 0.92)
    )
    community_reason = (
        F.when(intent.isin("code", "path"), "code_or_path_intent")
        .when(
            sci_hits >= 2,
            F.concat(F.lit("scientific_terms="), sci_hits.cast("string")),
        )
        .when(media_term.isNotNull(), F.concat(F.lit("media_term="), media_term))
    )

    return {
        "intent": intent,
        "intent_confidence": intent_conf,
        "intent_reason": intent_reason,
        "mode": mode,
        "mode_confidence": mode_conf,
        "mode_reason": mode_reason,
        "community": community,
        "community_confidence": community_conf,
        "community_reason": community_reason,
    }


def route_queries(queries: DataFrame) -> DataFrame:
    """Append the 9 routing columns (intent / mode / community, each with
    confidence + reason; community null when no family claims the query
    — the reference's nullopt) to a DataFrame of query strings. Narrow
    projection: the plan is the input scan plus one Project."""
    cols = _route_columns(F.col("query"))
    return queries.select(
        "*", *[expr.alias(name) for name, expr in cols.items()]
    )


def route_query(spark: SparkSession, query: str) -> dict:
    """Route ONE query (QueryRouter::route) through the same expressions;
    returns the routing dict."""
    row = route_queries(
        spark.createDataFrame([(query,)], "query string")
    ).collect()[0]
    d = row.asDict()
    d.pop("query")
    return d
