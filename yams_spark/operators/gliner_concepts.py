"""GLiNER query-concept post-processing — the dataflow half of the
model-backed query entity extractor.

Reference: ``src/daemon/components/gliner_query_extractor.cpp`` — the
GLiNER plugin call itself is an external model (the same boundary as
the sentence-transformers embed adapter: mock-exercised, import-guarded
workers); everything AFTER the model is deterministic dataflow this
module re-expresses over a raw-entity table:

* ``trimAndCollapse`` (:22-35): whitespace trim+collapse
  (query_text_utils.cpp:115-146), then strip leading/trailing C-locale
  punctuation except ``_`` and ``-`` — one pass each end, so interior
  spaces exposed by the strip survive.
* ``isLikelyNoiseEntity`` (:37-63): length 2..160, must contain an
  alphanumeric, ``isLowValueEntityText`` on the normalized text
  (query_text_utils.cpp:223-233 — empty, or type in
  date/time/duration/number/percentage/ordinal), and the
  no-alpha-and-short rule.
* ``canonicalizeEntityType`` (query_text_utils.cpp:205-221): normalize
  for key, the alias map (org/company/institution → organization,
  loc/place → location, tool → technology, library → framework),
  technology → method, empty → concept.
* Confidence floor 0.4 (:19), requested-type gate (:161-163, against
  the canonicalized request set; default list
  query_text_utils.cpp:171-181), best-confidence dedup on
  ``type|normalized_text`` where the FIRST entity wins ties (:169-172
  — strict ``>`` keeps the earlier insertion), and the final
  confidence-desc / text-asc ordering (:181-187).

Everything is pure Catalyst (regexp projections + one per-(query, key)
window + one per-query rank window — both partitioned, never global).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "DEFAULT_QUERY_ENTITY_TYPES",
    "TYPE_ALIASES",
    "LOW_VALUE_TYPES",
    "MIN_CONFIDENCE",
    "MAX_ENTITY_TEXT_LEN",
    "trim_collapse_punct",
    "canonicalize_entity_type",
    "gliner_query_concepts",
]

#: query_text_utils.cpp:171-181
DEFAULT_QUERY_ENTITY_TYPES = (
    "technology", "concept", "organization", "person", "location",
    "product", "language", "framework", "protein", "gene", "cell",
    "disease", "chemical", "drug", "pathway", "biological_process",
    "biomarker", "anatomy", "organism",
)

#: query_text_utils.cpp:206-212
TYPE_ALIASES = {
    "org": "organization",
    "company": "organization",
    "institution": "organization",
    "loc": "location",
    "place": "location",
    "tool": "technology",
    "library": "framework",
}

#: query_text_utils.cpp:226-231
LOW_VALUE_TYPES = (
    "date", "time", "duration", "number", "percentage", "ordinal",
)

MIN_CONFIDENCE = 0.4          # gliner_query_extractor.cpp:19
MAX_ENTITY_TEXT_LEN = 160     # :20

#: C-locale ispunct minus '_' (0x5F) and '-' (0x2D) as a regex class.
_PUNCT_CLASS = r"[!-,./:-@\[-\^`{-~]"


def _trim_collapse_ws(c: Column) -> Column:
    # C isspace: space \t \n \v \f \r — trim ends, collapse runs.
    ws = "[ \\t\\n\\x0b\\f\\r]"
    out = F.regexp_replace(c, f"^{ws}+|{ws}+$", "")
    return F.regexp_replace(out, f"{ws}+", " ")


def trim_collapse_punct(text: Column | str) -> Column:
    """trimAndCollapse (gliner_query_extractor.cpp:22-35)."""
    c = F.col(text) if isinstance(text, str) else text
    collapsed = _trim_collapse_ws(c)
    stripped = F.regexp_replace(collapsed, f"^{_PUNCT_CLASS}+", "")
    return F.regexp_replace(stripped, f"{_PUNCT_CLASS}+$", "")


def _normalize_key(c: Column) -> Column:
    """normalizeEntityTextForKey (query_text_utils.cpp:148-150) —
    byte-wise ASCII lower (C-locale tolower leaves >0x7F alone)."""
    return F.translate(
        _trim_collapse_ws(c),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )


def canonicalize_entity_type(raw_type: Column | str) -> Column:
    """canonicalizeEntityType (query_text_utils.cpp:205-221)."""
    c = F.col(raw_type) if isinstance(raw_type, str) else raw_type
    t = _normalize_key(c)
    for alias, target in TYPE_ALIASES.items():
        t = F.when(t == alias, F.lit(target)).otherwise(t)
    t = F.when(t == "technology", F.lit("method")).otherwise(t)
    return F.when(t == "", F.lit("concept")).otherwise(t)


def canonicalize_entity_type_py(raw_type: str) -> str:
    """Scalar twin (for request-set canonicalization on the driver)."""
    t = " ".join(
        "".join(
            chr(ord(ch) + 0x20) if "A" <= ch <= "Z" else ch
            for ch in raw_type
        ).split()
    )
    t = TYPE_ALIASES.get(t, t)
    if t == "technology":
        return "method"
    return t or "concept"


def gliner_query_concepts(
    entities: DataFrame,
    requested_types: list[str] | None = None,
) -> DataFrame:
    """The full post-extraction cascade for every query at once.

    ``entities``: raw model output rows (query, idx-in-result, text,
    type, confidence[, start/end offsets — passed through when
    present]). ``requested_types=None`` uses the default query entity
    type list; ``[]`` disables the type gate (the C++ gate only fires
    for a non-empty canonicalized request set).
    """
    if requested_types is None:
        requested = {
            canonicalize_entity_type_py(t)
            for t in DEFAULT_QUERY_ENTITY_TYPES
        }
    else:
        requested = {canonicalize_entity_type_py(t) for t in requested_types}

    text = trim_collapse_punct(F.coalesce(F.col("entity_text"), F.lit("")))
    ctype = canonicalize_entity_type(
        F.coalesce(F.col("entity_type"), F.lit(""))
    )
    d = entities.withColumn("_text", text).withColumn("_type", ctype)
    norm = _normalize_key(F.col("_text"))
    has_alnum = F.col("_text").rlike("[0-9A-Za-z]")
    has_alpha = F.col("_text").rlike("[A-Za-z]")
    tl = F.length("_text")
    noise = (
        (tl < 2)
        | (tl > MAX_ENTITY_TEXT_LEN)
        | ~has_alnum
        | (norm == "")
        | F.col("_type").isin(*LOW_VALUE_TYPES)
        | (~has_alpha & (tl <= 2))
    )
    kept = d.where(
        (F.col("confidence") >= F.lit(MIN_CONFIDENCE))
        & (F.col("_text") != "")
        & ~noise
    )
    if requested:
        kept = kept.where(F.col("_type").isin(*sorted(requested)))
    kept = kept.withColumn(
        "_key", F.concat(F.col("_type"), F.lit("|"), norm)
    )
    w = Window.partitionBy("query_id", "_key").orderBy(
        F.col("confidence").desc(), F.col("entity_idx").asc()
    )
    best = (
        kept.withColumn("_dup", F.row_number().over(w))
        .where(F.col("_dup") == 1)
        .drop("_dup", "_key")
    )
    # (conf desc, text asc) is the C++ comparator (:181-187); std::sort
    # leaves equal (conf, text) pairs unordered, so the type column is
    # the deterministic third key here (stated divergence).
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("confidence").desc(), F.col("_text").asc(), F.col("_type").asc()
    )
    return (
        best.withColumn("rank", F.row_number().over(rank_w))
        .withColumnRenamed("_text", "concept_text")
        .withColumnRenamed("_type", "concept_type")
    )


# ---------------------------------------------------------------------------
# Surface variants (query_text_utils.cpp:28-119, 235-333)
# ---------------------------------------------------------------------------

#: query_text_utils.cpp:30-49 — UTF-8 Greek letters expand to padded
#: latin names (both cases).
GREEK_EXPANSIONS = (
    ("α", " alpha "), ("Α", " alpha "),
    ("β", " beta "), ("Β", " beta "),
    ("γ", " gamma "), ("Γ", " gamma "),
    ("δ", " delta "), ("Δ", " delta "),
    ("κ", " kappa "), ("Κ", " kappa "),
    ("λ", " lambda "), ("Λ", " lambda "),
    ("μ", " mu "), ("Μ", " mu "),
    ("τ", " tau "), ("Τ", " tau "),
    ("ν", " nu "), ("Ν", " nu "),
)

def expand_common_greek_letters(s: str) -> str:
    """expandCommonGreekLetters (:28-54)."""
    for needle, repl in GREEK_EXPANSIONS:
        s = s.replace(needle, repl)
    return s


def split_code_symbol_tokens(s: str) -> list[str]:
    """splitCodeSymbolTokens (:56-90): delimiter set ``:./\\_-`` +
    whitespace, plus a camelCase break before an uppercase that
    follows a lowercase or digit; tokens lowered byte-wise."""
    tokens: list[str] = []
    current: list[str] = []
    prev = "\0"
    for c in s:
        is_delim = c in ":./\\_-" or c in " \t\n\x0b\f\r"
        if is_delim:
            if current:
                tokens.append("".join(current))
                current = []
            prev = "\0"
            continue
        if (
            "A" <= c <= "Z"
            and current
            and (("a" <= prev <= "z") or ("0" <= prev <= "9"))
        ):
            tokens.append("".join(current))
            current = []
        current.append(
            chr(ord(c) + 0x20) if "A" <= c <= "Z" else c
        )
        prev = c
    if current:
        tokens.append("".join(current))
    return tokens


def _tokenize_lower(s: str) -> list[str]:
    """tokenizeLower (:340-362): backslashes to slashes, maximal ASCII
    alnum runs, byte-wise lower."""
    s = s.replace("\\", "/")
    tokens: list[str] = []
    current: list[str] = []
    for c in s:
        if c.isascii() and c.isalnum():
            current.append(chr(ord(c) + 0x20) if "A" <= c <= "Z" else c)
        elif current:
            tokens.append("".join(current))
            current = []
    if current:
        tokens.append("".join(current))
    return tokens


def _norm_key(s: str) -> str:
    return " ".join(
        "".join(
            chr(ord(c) + 0x20) if "A" <= c <= "Z" else c for c in s
        ).split()
    )


def _norm_graph_surface(s: str) -> str:
    out: list[str] = []
    in_ws = False
    for c in s:
        if c.isascii() and c.isalnum():
            out.append(chr(ord(c) + 0x20) if "A" <= c <= "Z" else c)
            in_ws = False
        elif out and not in_ws:
            out.append(" ")
            in_ws = True
    while out and out[-1] == " ":
        out.pop()
    return "".join(out)


def generate_surface_variants(
    text: str, kind: str = "general", max_variants: int = 8
) -> list[str]:
    """generateSurfaceVariants (:256-333): ordered keep-first variant
    emission — normalized key + graph surface of the input and its
    Greek expansion, token variants (min length 3 for General, 2
    otherwise) plus the joined form, and for CodeSymbol the camel/
    delimiter split with its suffix chains — capped at
    ``max_variants``, every candidate through the 2-char floor."""
    if max_variants == 0 or not text:
        return []
    variants: list[str] = []
    seen: set[str] = set()

    def add(value: str):
        value = _norm_key(value)
        if len(value) < 2 or value in seen:
            return
        seen.add(value)
        if len(variants) < max_variants:
            variants.append(value)

    def add_from_text(t: str):
        add(_norm_key(t))
        if len(variants) >= max_variants:
            return
        gs = _norm_graph_surface(t)
        if gs:
            add(gs)

    greek = expand_common_greek_letters(text)
    add_from_text(text)
    if len(variants) >= max_variants:
        return variants
    if greek != text:
        add_from_text(greek)
        if len(variants) >= max_variants:
            return variants

    def emit_tokens(tokens: list[str]):
        if not tokens:
            return
        min_len = 3 if kind == "general" else 2
        for tok in tokens:
            if len(tok) < min_len:
                continue
            add(tok)
            if len(variants) >= max_variants:
                return
        if len(tokens) >= 2:
            add(" ".join(tokens))

    emit_tokens(_tokenize_lower(greek))
    if len(variants) >= max_variants:
        return variants

    if kind == "code_symbol":
        code_tokens = split_code_symbol_tokens(greek)
        emit_tokens(code_tokens)
        if len(variants) >= max_variants:
            return variants
        if len(code_tokens) >= 2:
            for i in range(1, len(code_tokens)):
                add(" ".join(code_tokens[i:]))
                if len(variants) >= max_variants:
                    return variants
    return variants


def surface_variants_col(
    text: Column | str, kind: Column | str, max_variants: int = 8
) -> Column:
    """generateSurfaceVariants over columns — one Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    t = F.col(text) if isinstance(text, str) else text
    k = F.col(kind) if isinstance(kind, str) else kind

    @pandas_udf("array<string>")
    def _variants(ts: pd.Series, ks: pd.Series) -> pd.Series:
        return pd.Series(
            [
                generate_surface_variants(a or "", b or "general",
                                          max_variants)
                for a, b in zip(ts, ks)
            ]
        )

    return _variants(t, k)
