"""Fallback query concepts: anchored sub-phrases + salience-ranked
tokens, typed by the biomedical vocabulary cascade, merged behind the
plugin extractor.

Re-expresses the reference's no-backend concept path:

* ``tokenize_query_tokens`` / ``normalize_graph_surface`` /
  ``normalize_entity_text_for_key``
  (``/root/reference/src/search/query_text_utils.cpp:148-169,364-395``):
  ASCII-alnum run tokenization keeping (original, normalized, index).
* ``token_fallback_salience``
  (``query_expansion.cpp:32-49``): digit bonus 1.25, length tiers
  0.75/0.35/0.10 over a 0.05 base.
* ``generate_anchored_sub_phrases`` (``query_expansion.cpp:64-206``):
  salience-ranked anchors emit 3- then 2-token windows ordered by
  center distance, skipping numeric-only/weak tokens
  (kWeakTokens, :21-27), deduped on the normalized phrase and never
  equal to the full query; plus the ≤4-token compressed remainder.
* ``infer_fallback_concept_type`` (``query_expansion.cpp:211-242``):
  protein/cell/disease/biological_process keyword cascade over the
  normalized surface, with the digit+upper heuristic.
* ``generate_fallback_query_concepts`` (``query_expansion.cpp:245-297``):
  phrases at confidence 0.62 then ranked tokens at
  ``0.45 + min(0.25, score·0.02)``, clamped to [0.2, 0.8], capped and
  deduped on the graph surface (min length 3).
* ``enrich_with_fallback_concepts``
  (``concept_resolver.cpp:11-53``): merge behind extractor concepts on
  the ``normalized_text|type`` key up to ``max_concepts``.

Everything here is per-query scalar state (≤ max_concepts items) — the
same driver-side shape as ``operators/router.py``; the corpus-side
consumers (concept boost, Simeon PMI) are already dataflow operators.
Score arithmetic runs in float32 to match the C++ accumulators.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: kWeakTokens (query_expansion.cpp:21-27)
WEAK_TOKENS = frozenset(
    {
        "show", "shows", "showing", "shown", "demonstrate", "demonstrates",
        "demonstrated", "indicate", "indicates", "indicated", "suggest",
        "suggests", "reveals", "revealed",
    }
)


@dataclass
class QueryToken:
    original: str
    normalized: str
    index: int


@dataclass
class QueryConcept:
    text: str
    type: str
    confidence: float
    start_offset: int = 0
    end_offset: int = 0


def tokenize_query_tokens(s: str) -> list[QueryToken]:
    """query_text_utils.cpp:364-395 — maximal ASCII-alnum runs with the
    original casing kept alongside the lowered form."""
    tokens: list[QueryToken] = []
    orig: list[str] = []
    for ch in s:
        if ch.isascii() and ch.isalnum():
            orig.append(ch)
        else:
            if orig:
                o = "".join(orig)
                tokens.append(QueryToken(o, o.lower(), len(tokens)))
                orig = []
    if orig:
        o = "".join(orig)
        tokens.append(QueryToken(o, o.lower(), len(tokens)))
    return tokens


def normalize_graph_surface(s: str) -> str:
    """query_text_utils.cpp:152-169 — lowered alnum runs joined by
    single spaces, no leading/trailing separators."""
    out: list[str] = []
    in_ws = False
    for ch in s:
        if ch.isascii() and ch.isalnum():
            out.append(ch.lower())
            in_ws = False
        elif out and not in_ws:
            out.append(" ")
            in_ws = True
    return "".join(out).rstrip(" ")


def normalize_entity_text_for_key(s: str) -> str:
    """query_text_utils.cpp:148-150 — trim + collapse whitespace, lower."""
    return " ".join(s.split()).lower()


def _is_numeric_only(tok: str) -> bool:
    return bool(tok) and all(c.isascii() and c.isdigit() for c in tok)


def token_fallback_salience(token: QueryToken) -> float:
    """query_expansion.cpp:32-49 (float32 accumulation)."""
    score = np.float32(0.05)
    if any(c.isascii() and c.isdigit() for c in token.original):
        score += np.float32(1.25)
    n = len(token.normalized)
    if n >= 10:
        score += np.float32(0.75)
    elif n >= 6:
        score += np.float32(0.35)
    elif n >= 3:
        score += np.float32(0.10)
    return float(score)


def generate_anchored_sub_phrases(
    query: str,
    max_phrases: int,
    idf_by_token: dict[str, float] | None = None,
) -> list[str]:
    """query_expansion.cpp:64-206."""
    if max_phrases == 0:
        return []
    tokens = tokenize_query_tokens(query)
    if len(tokens) < 3:
        return []

    anchors: list[tuple[int, float]] = []
    for i, tok in enumerate(tokens):
        if len(tok.normalized) < 2:
            continue
        if _is_numeric_only(tok.normalized) or tok.normalized in WEAK_TOKENS:
            continue
        score = np.float32(token_fallback_salience(tok))
        if idf_by_token is not None:
            idf = idf_by_token.get(tok.normalized)
            if idf is not None and idf > 0.0:
                score += np.float32(idf)
        anchors.append((i, float(score)))
    anchors.sort(key=lambda t: -t[1])  # python sort is stable (:102-103)

    full_normalized = " ".join(t.normalized for t in tokens)
    phrases: list[str] = []
    seen: set[str] = set()
    for anchor_idx, _sal in anchors:
        if len(phrases) >= max_phrases:
            break
        for length in (3, 2):
            if len(tokens) < length:
                continue
            start_min = anchor_idx + 1 - length if anchor_idx + 1 >= length else 0
            start_max = min(anchor_idx, len(tokens) - length)
            starts = list(range(start_min, start_max + 1))
            starts.sort(key=lambda s: abs(s + length // 2 - anchor_idx))
            for start in starts:
                if len(phrases) >= max_phrases:
                    break
                parts = []
                ok = True
                for i in range(start, start + length):
                    norm = tokens[i].normalized
                    if _is_numeric_only(norm) or norm in WEAK_TOKENS:
                        ok = False
                        break
                    parts.append(norm)
                if not ok:
                    continue
                normalized_phrase = " ".join(parts)
                if normalized_phrase == full_normalized or normalized_phrase in seen:
                    continue
                seen.add(normalized_phrase)
                phrases.append(
                    " ".join(
                        tokens[i].original for i in range(start, start + length)
                    )
                )

    if len(phrases) < max_phrases:  # compressed remainder (:180-205)
        comp_norm: list[str] = []
        comp_orig: list[str] = []
        for tok in tokens:
            if (
                len(tok.normalized) < 2
                or _is_numeric_only(tok.normalized)
                or tok.normalized in WEAK_TOKENS
            ):
                continue
            comp_norm.append(tok.normalized)
            comp_orig.append(tok.original)
            if len(comp_norm) >= 4:
                break
        joined = " ".join(comp_norm)
        if len(comp_norm) >= 2 and joined != full_normalized and joined not in seen:
            seen.add(joined)
            phrases.append(" ".join(comp_orig))
    return phrases


def infer_fallback_concept_type(text: str) -> str:
    """query_expansion.cpp:211-242 vocabulary cascade."""
    normalized = normalize_graph_surface(text)
    has_digit = any(c.isascii() and c.isdigit() for c in text)
    has_upper = any(c.isascii() and c.isupper() for c in text)
    if (
        (has_digit and has_upper)
        or normalized.startswith("cd")
        or normalized.startswith("il ")
        or "protein" in normalized
        or "receptor" in normalized
        or "kinase" in normalized
    ):
        return "protein"
    if (
        "cell" in normalized
        or "bipolar" in normalized
        or "monocyte" in normalized
        or "stem cell" in normalized
    ):
        return "cell"
    if (
        "cancer" in normalized
        or "disease" in normalized
        or "tumor" in normalized
        or "metast" in normalized
    ):
        return "disease"
    if (
        "pathway" in normalized
        or "response" in normalized
        or "activation" in normalized
        or "inhibition" in normalized
    ):
        return "biological_process"
    return "concept"


def generate_fallback_query_concepts(
    query: str,
    idf_by_token: dict[str, float] | None = None,
    max_concepts: int = 8,
) -> list[QueryConcept]:
    """query_expansion.cpp:245-297."""
    if max_concepts == 0:
        return []
    idf = idf_by_token or {}
    out: list[QueryConcept] = []
    seen: set[str] = set()

    def add(text: str, confidence: float) -> None:
        normalized = normalize_graph_surface(text)
        if len(normalized) < 3 or normalized in seen or len(out) >= max_concepts:
            return
        seen.add(normalized)
        c = float(np.clip(np.float32(confidence), np.float32(0.2), np.float32(0.8)))
        out.append(
            QueryConcept(
                text=text,
                type=infer_fallback_concept_type(text),
                confidence=c,
                start_offset=0,
                end_offset=len(text),
            )
        )

    for phrase in generate_anchored_sub_phrases(query, max_concepts, idf):
        add(phrase, 0.62)

    ranked: list[tuple[str, float]] = []
    for tok in tokenize_query_tokens(query):
        if len(tok.normalized) < 2:
            continue
        score = np.float32(token_fallback_salience(tok))
        if tok.normalized in idf:
            score += np.float32(idf[tok.normalized])
        ranked.append((tok.original, float(score)))
    ranked.sort(key=lambda t: -t[1])  # stable
    for text, score in ranked:
        add(
            text,
            float(
                np.float32(0.45)
                + min(np.float32(0.25), np.float32(score) * np.float32(0.02))
            ),
        )
        if len(out) >= max_concepts:
            break
    return out


#: SQL array literal of kWeakTokens, shared by the Catalyst expressions
_WEAK_SQL = "array(" + ", ".join(f"'{w}'" for w in sorted(WEAK_TOKENS)) + ")"


def fallback_concepts_df(
    queries: DataFrame,
    max_concepts: int = 8,
    idf_df: DataFrame | None = None,
) -> DataFrame:
    """Dataflow twin of ``generate_fallback_query_concepts`` — one batch
    of queries in, the ordered fallback concepts out as
    ``(query_id, rank, text, type, confidence)``.

    Pure Catalyst: tokenization is ``regexp_extract_all`` at the scan,
    anchored sub-phrase candidates are a bounded double explode (queries
    are short strings — ≤ anchors × 2 lengths × window starts ≈ 160
    candidate rows per query), and the sequential dedup/cap semantics of
    the reference loop (query_expansion.cpp:64-206) map onto keep-first
    ``row_number`` windows over the deterministic enumeration key
    (anchor_rank, length 3-before-2, center distance, start). Every
    window partitions by query id — no global sorts. Score arithmetic is
    double here (the scalar twin keeps the reference's float32); outputs
    are rounded to 6 decimals where the two agree bit-for-bit, and the
    equivalence is pinned by tests/test_concept_fallback.py.

    ``idf_df`` (``token``, ``idf``) is the corpus-stats boost the
    reference threads through (query_expansion.cpp:96-100,258-262):
    broadcast-joined on the normalized token; anchors add it only when
    positive, the token tier adds it whenever present — exactly the two
    reference branches.
    """
    max_phrases = max_concepts
    base = (
        queries.select("query_id", "query")
        .withColumn("origs", F.expr("regexp_extract_all(query, '[A-Za-z0-9]+', 0)"))
        .withColumn("norms", F.expr("transform(origs, x -> lower(x))"))
        .withColumn("n", F.size("origs"))
        .withColumn("full_norm", F.array_join("norms", " "))
    )
    tok = (
        base.select(
            "query_id", "n", "origs", "norms", "full_norm",
            F.posexplode("origs").alias("idx", "orig"),
        )
        .withColumn("norm", F.lower("orig"))
        .withColumn("is_num", F.col("norm").rlike("^[0-9]+$"))
        .withColumn("is_weak", F.expr(f"array_contains({_WEAK_SQL}, norm)"))
        .withColumn(
            "sal",
            F.lit(0.05)
            + F.when(F.col("orig").rlike("[0-9]"), F.lit(1.25)).otherwise(F.lit(0.0))
            + F.when(F.length("norm") >= 10, F.lit(0.75))
            .when(F.length("norm") >= 6, F.lit(0.35))
            .when(F.length("norm") >= 3, F.lit(0.10))
            .otherwise(F.lit(0.0)),
        )
    )
    if idf_df is not None:
        tok = tok.join(
            F.broadcast(
                idf_df.select(
                    F.col("token").alias("norm"), F.col("idf").alias("_idf")
                )
            ),
            "norm",
            "left",
        )
    else:
        tok = tok.withColumn("_idf", F.lit(None).cast("double"))
    tok = tok.withColumn(
        # anchors add the idf boost only when positive (cpp :96-100);
        # the token tier adds it whenever the token is known (:258-262)
        "anchor_sal",
        F.col("sal")
        + F.when(F.col("_idf") > 0, F.col("_idf")).otherwise(F.lit(0.0)),
    ).withColumn("tok_sal", F.col("sal") + F.coalesce("_idf", F.lit(0.0)))
    # anchors: salience-ranked, stable on token index (cpp :102-103)
    w_anchor = Window.partitionBy("query_id").orderBy(
        F.col("anchor_sal").desc(), F.col("idx").asc()
    )
    w_tokrank = Window.partitionBy("query_id").orderBy(
        F.col("tok_sal").desc(), F.col("idx").asc()
    )
    anchors = tok.filter(
        (F.col("n") >= 3)
        & (F.length("norm") >= 2)
        & ~F.col("is_num")
        & ~F.col("is_weak")
    ).withColumn("anchor_rank", F.row_number().over(w_anchor))
    # candidate windows: 3- then 2-token, starts ordered by center distance
    cand = (
        anchors.select(
            "query_id", "n", "origs", "norms", "full_norm", "idx", "anchor_rank",
            F.explode(F.array(F.lit(3), F.lit(2))).alias("wlen"),
        )
        .filter(F.col("wlen") <= F.col("n"))
        .withColumn("start_min", F.greatest(F.lit(0), F.col("idx") + 1 - F.col("wlen")))
        .withColumn("start_max", F.least(F.col("idx"), F.col("n") - F.col("wlen")))
        .withColumn("start", F.explode(F.sequence("start_min", "start_max")))
        .withColumn(
            "dist", F.abs(F.col("start") + F.floor(F.col("wlen") / 2) - F.col("idx"))
        )
        .withColumn("len_ord", F.when(F.col("wlen") == 3, F.lit(0)).otherwise(F.lit(1)))
        .withColumn("win_norms", F.expr("slice(norms, start + 1, wlen)"))
        .withColumn(
            "invalid",
            F.expr(
                "exists(win_norms, x -> x rlike '^[0-9]+$'"
                f" or array_contains({_WEAK_SQL}, x))"
            ),
        )
        .withColumn("phrase_norm", F.array_join("win_norms", " "))
        .withColumn(
            "phrase_orig", F.array_join(F.expr("slice(origs, start + 1, wlen)"), " ")
        )
        .filter(~F.col("invalid") & (F.col("phrase_norm") != F.col("full_norm")))
    )
    okey = [
        F.col("anchor_rank").asc(), F.col("len_ord").asc(),
        F.col("dist").asc(), F.col("start").asc(),
    ]
    w_dedup = Window.partitionBy("query_id", "phrase_norm").orderBy(*okey)
    w_seq = Window.partitionBy("query_id").orderBy(*okey)
    phrases = (
        cand.withColumn("dup_rn", F.row_number().over(w_dedup))
        .filter(F.col("dup_rn") == 1)
        .withColumn("prank", F.row_number().over(w_seq))
        .filter(F.col("prank") <= max_phrases)
    )
    # compressed remainder (cpp :180-205): first <=4 strong tokens
    comp = (
        base.filter(F.col("n") >= 3)
        .withColumn(
            # get() (not [i]): Catalyst may inline these lambdas into a
            # merged filter evaluated before the n>=3 guard on degenerate
            # rows, so every element access must be total.
            "comp_idx",
            F.expr(
                "slice(filter(sequence(0, greatest(n - 1, 0)),"
                " i -> length(get(norms, i)) >= 2"
                " and not (get(norms, i) rlike '^[0-9]+$')"
                f" and not array_contains({_WEAK_SQL}, get(norms, i))), 1, 4)"
            ),
        )
        .withColumn(
            "comp_orig",
            F.expr("array_join(transform(comp_idx, i -> get(origs, i)), ' ')"),
        )
        .withColumn(
            "comp_join",
            F.expr("array_join(transform(comp_idx, i -> get(norms, i)), ' ')"),
        )
        .filter((F.size("comp_idx") >= 2) & (F.col("comp_join") != F.col("full_norm")))
    )
    pstats = phrases.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_phrases"),
        F.collect_set("phrase_norm").alias("phrase_set"),
    )
    rem = (
        comp.join(pstats, "query_id", "left")
        .filter(
            (F.coalesce(F.col("n_phrases"), F.lit(0)) < max_phrases)
            & ~F.coalesce(
                F.expr("array_contains(phrase_set, comp_join)"), F.lit(False)
            )
        )
    )
    p_stream = phrases.select(
        "query_id", F.lit(0).alias("src"), F.col("prank").alias("ord"),
        F.col("phrase_orig").alias("text"), F.col("phrase_norm").alias("cnorm"),
        F.lit(0.62).alias("confidence"),
    )
    r_stream = rem.select(
        "query_id", F.lit(0).alias("src"),
        F.lit(max_phrases + 1).alias("ord"),
        F.col("comp_orig").alias("text"), F.col("comp_join").alias("cnorm"),
        F.lit(0.62).alias("confidence"),
    )
    t_stream = (
        tok.filter(F.length("norm") >= 2)
        .withColumn("ord", F.row_number().over(w_tokrank))
        .select(
            "query_id", F.lit(1).alias("src"), "ord",
            F.col("orig").alias("text"), F.col("norm").alias("cnorm"),
            F.greatest(
                F.lit(0.2),
                F.least(
                    F.lit(0.8),
                    F.lit(0.45)
                    + F.least(F.lit(0.25), F.col("tok_sal") * F.lit(0.02)),
                ),
            ).alias("confidence"),
        )
    )
    w_d2 = Window.partitionBy("query_id", "cnorm").orderBy("src", "ord")
    w_f = Window.partitionBy("query_id").orderBy("src", "ord")
    out = (
        p_stream.unionByName(r_stream)
        .unionByName(t_stream)
        .filter(F.length("cnorm") >= 3)
        .withColumn("rn", F.row_number().over(w_d2))
        .filter(F.col("rn") == 1)
        .withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= max_concepts)
    )
    # infer_fallback_concept_type (cpp :211-242): concept texts are
    # ASCII-alnum runs joined by single spaces, so the graph surface IS
    # cnorm and the digit/upper probes reduce to ASCII regex classes.
    out = (
        out.withColumn(
            "type",
            F.when(
                (F.col("text").rlike("[0-9]") & F.col("text").rlike("[A-Z]"))
                | F.col("cnorm").startswith("cd")
                | F.col("cnorm").startswith("il ")
                | F.col("cnorm").contains("protein")
                | F.col("cnorm").contains("receptor")
                | F.col("cnorm").contains("kinase"),
                "protein",
            )
            .when(
                F.col("cnorm").contains("cell")
                | F.col("cnorm").contains("bipolar")
                | F.col("cnorm").contains("monocyte"),
                "cell",
            )
            .when(
                F.col("cnorm").contains("cancer")
                | F.col("cnorm").contains("disease")
                | F.col("cnorm").contains("tumor")
                | F.col("cnorm").contains("metast"),
                "disease",
            )
            .when(
                F.col("cnorm").contains("pathway")
                | F.col("cnorm").contains("response")
                | F.col("cnorm").contains("activation")
                | F.col("cnorm").contains("inhibition"),
                "biological_process",
            )
            .otherwise("concept"),
        )
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "text",
            "type",
            F.round("confidence", 6).cast("double").alias("confidence"),
        )
    )
    return out


def enrich_with_fallback_concepts(
    query: str,
    concepts: list[QueryConcept],
    max_concepts: int,
) -> list[QueryConcept]:
    """concept_resolver.cpp:11-53 — append deduped fallback concepts
    behind the extractor's, keyed on ``normalized_text|type``, up to
    ``max_concepts``. Returns a new list; the input is not mutated."""
    merged = list(concepts)
    if max_concepts == 0 or len(merged) >= max_concepts:
        return merged
    fallback = generate_fallback_query_concepts(query, max_concepts=max_concepts)
    if not fallback:
        return merged
    seen = {
        normalize_entity_text_for_key(c.text) + "|" + c.type for c in merged
    }
    for fc in fallback:
        if len(merged) >= max_concepts:
            break
        key = normalize_entity_text_for_key(fc.text) + "|" + fc.type
        if key in seen:
            continue
        seen.add(key)
        merged.append(fc)
    return merged
