"""Grep / content-scan with the reference's literal-prefilter cascade, and
FTS-style snippet generation.

* ``grep_scan`` — the two-phase "ripgrep strategy" of
  ``reference src/app/services/grep_service.cpp:412-446``: extract the
  longest literal run from the regex (LiteralExtractor); if it is >= 3
  chars, a cheap substring prefilter (Boyer-Moore-Horspool in the
  reference; ``F.contains`` → a Tungsten substring scan here) drops
  non-candidate rows *before* the full regex ever runs. On 100 TB the
  cascade is the difference between a regex over every byte and a regex
  over the (typically tiny) literal-hit subset — and both phases stay in
  whole-stage codegen, no Python.
* ``grep_lines_context`` — per-line matches with line numbers and
  -B/-A/-C context (the CLI surface shape: file/line/text).
* ``snippet_expr`` / ``with_snippets`` — the FTS5
  ``snippet(documents_fts, 0, '<b>', '</b>', '...', 16)`` analog
  (``reference src/metadata/repository/search_ops.cpp:191``): a 16-token
  window centered on the first matching query term, matched tokens wrapped
  in <b>..</b>. Pure Catalyst array ops — reproducible in DuckDB SQL for
  the oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: the reference enables the BMH prefilter at literal length >= 3
#: (grep_service.cpp:422)
MIN_LITERAL_LENGTH = 3

_META = set("\\^$.|?*+()[]{}")


def extract_literal(pattern: str) -> str:
    """Longest guaranteed-literal run in a regex (LiteralExtractor.extract):
    runs are broken by metacharacters, and a char followed by ?, * or {
    is excluded (it may not occur in a match)."""
    runs: list[str] = []
    cur: list[str] = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            nxt = pattern[i + 2] if i + 2 < n else ""
            if pattern[i + 1].isalnum():
                # \d \w \s \b \B \1 ... are regex classes/anchors, NOT the
                # literal letter: flush the run (literal_extractor.cpp:44-58;
                # appending the class letter would prefilter on a substring
                # that never occurs in real matches)
                runs.append("".join(cur))
                cur = []
            elif nxt in "?*{":
                # escaped punctuation that is itself quantified (\.?) may
                # not occur in a match
                runs.append("".join(cur))
                cur = []
            else:
                cur.append(pattern[i + 1])  # escaped literal: \. \* ...
            i += 2
            continue
        if c in _META:
            if c in "?*{" and cur:
                cur.pop()  # previous char is optional/repeated
            runs.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    runs.append("".join(cur))
    return max(runs, key=len) if runs else ""


def _effective_pattern(
    pattern: str,
    literal_text: bool,
    whole_word: bool,
    ignore_case: bool,
) -> tuple[str, str]:
    """(regex, prefilter_literal) after applying the reference's pattern
    options (services.hpp:373-377): -F literal, -w whole-word wrap, -i
    case fold. The prefilter literal is lowercased under -i and compared
    against lower(text) — same effect as the reference lowercasing BMH
    needles (literal_extractor.cpp:84-89)."""
    if literal_text:
        literal = pattern
        regex = re.escape(pattern)
    else:
        literal = extract_literal(pattern)
        regex = pattern
    if whole_word:
        regex = r"\b(?:" + regex + r")\b"
    if ignore_case:
        regex = "(?i)" + regex
        literal = literal.lower()
    return regex, literal


def _prefiltered(
    docs: DataFrame, literal: str, text_col: str, ignore_case: bool
) -> DataFrame:
    if len(literal) < MIN_LITERAL_LENGTH:
        return docs
    hay = F.lower(F.col(text_col)) if ignore_case else F.col(text_col)
    return docs.where(F.contains(hay, F.lit(literal)))


def grep_scan(
    docs: DataFrame,
    pattern: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    literal_text: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
    files_without_match: bool = False,
    path_glob: str | None = None,
    path_col: str | None = None,
) -> DataFrame:
    """Per-document match counts for ``pattern``, two-phase.

    Returns (id, n_matches) for documents with >= 1 match. Phase 1 is the
    literal substring prefilter (skipped if no literal >= 3 chars can be
    extracted, exactly like the reference); phase 2 runs the real regex
    only on prefilter survivors. Option surface mirrors the reference's
    GrepRequest (services.hpp:373-385): ``literal_text`` (grep -F),
    ``whole_word`` (-w), ``ignore_case`` (-i), ``files_without_match``
    (-L: ids with zero matches, n_matches = 0 — the prefilter is skipped
    because absence can't be prefiltered), ``path_glob``+``path_col``
    (include-glob scoping).
    """
    regex, literal = _effective_pattern(pattern, literal_text, whole_word, ignore_case)
    out = docs
    if path_glob is not None and path_col is not None:
        from yams_spark.operators.qualifiers import _glob_to_rlike

        out = out.where(F.col(path_col).rlike(_glob_to_rlike(path_glob)))
    if files_without_match:
        # NULL text has no matchable content → counts as zero matches
        # (grep -L lists it); regexp_count(NULL) is NULL, not 0
        return out.select(
            F.col(id_col),
            F.coalesce(
                F.regexp_count(F.col(text_col), F.lit(regex)), F.lit(0)
            ).alias("n_matches"),
        ).where(F.col("n_matches") == 0)
    out = _prefiltered(out, literal, text_col, ignore_case)
    return (
        out.select(
            F.col(id_col),
            F.regexp_count(F.col(text_col), F.lit(regex)).alias("n_matches"),
        )
        .where(F.col("n_matches") > 0)
    )


def grep_lines_context(
    docs: DataFrame,
    pattern: str,
    before: int = 0,
    after: int = 0,
    context: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    literal_text: bool = False,
    whole_word: bool = False,
    ignore_case: bool = False,
) -> DataFrame:
    """grep -B/-A/-C context lines (services.hpp:370-372): (id, line_no,
    line, is_match) for matching lines plus up to ``before`` lines above
    and ``after`` lines below each match; ``context > 0`` overrides both
    (-C semantics, services.hpp:371). Line i is emitted when any match
    exists in [i-after, i+before] — one window over the exploded lines,
    partitioned per document (never a global sort); line numbers are
    consecutive so the ROWS frame is exact."""
    if context > 0:
        before = after = context
    regex, literal = _effective_pattern(pattern, literal_text, whole_word, ignore_case)
    out = _prefiltered(docs, literal, text_col, ignore_case)
    lines = out.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line"),
    ).withColumn("is_match", F.col("line").rlike(regex))
    w = (
        Window.partitionBy(id_col)
        .orderBy("idx")
        .rowsBetween(-max(0, after), max(0, before))
    )
    visible = F.max(F.col("is_match").cast("int")).over(w) == 1
    return (
        lines.withColumn("__vis", visible)
        .where(F.col("__vis"))
        .select(F.col(id_col), (F.col("idx") + 1).alias("line_no"), "line", "is_match")
    )


def snippet_expr(
    tokens_col: Column | str,
    term: str,
) -> Column:
    """FTS5-style ``snippet(fts, col, '<b>', '</b>', '...', 16)`` over a
    tokenized column: ``window`` tokens starting at most window/2-1 before
    the first occurrence of ``term``, occurrences wrapped in tags, joined
    by ' ', with the ellipsis affixed on whichever side the window clips
    (exactly the FTS5 contract, search_ops.cpp:191). NULL when absent."""
    # FTS5 snippet(fts, col, '<b>', '</b>', '...', 16)
    window, open_tag, close_tag, ellipsis = 16, "<b>", "</b>", "..."
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    pos = F.array_position(toks, term)  # 1-based, 0 if absent
    start = F.greatest(pos - (window // 2 - 1), F.lit(1))
    snip = F.slice(toks, start, window)
    marked = F.transform(
        snip,
        lambda t: F.when(
            t == term, F.concat(F.lit(open_tag), t, F.lit(close_tag))
        ).otherwise(t),
    )
    body = F.concat_ws(" ", marked)
    pre = F.when(start > 1, F.lit(ellipsis)).otherwise(F.lit(""))
    post = F.when(
        start + window - 1 < F.size(toks), F.lit(ellipsis)
    ).otherwise(F.lit(""))
    return F.when(pos > 0, F.concat(pre, body, post))


def snippet_multi_expr(
    tokens_col: Column | str,
    terms: list[str],
) -> Column:
    """FTS5's real snippet window selection over ALL query terms
    (search_ops.cpp:191; FTS5 snippet() scores candidate windows and picks
    the one covering the most query phrases): candidate windows are
    anchored at every term hit, scored by (distinct terms covered, total
    hits in window), earliest window wins ties. Every in-window term
    occurrence is wrapped; ellipses affixed where the window clips. Pure
    Catalyst array ops — the scorer is an array_max over per-candidate
    structs, reproducible in DuckDB list SQL. NULL when no term occurs."""
    # FTS5 snippet(fts, col, '<b>', '</b>', '...', 16)
    window, open_tag, close_tag, ellipsis = 16, "<b>", "</b>", "..."
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    terms_arr = F.array(*[F.lit(t) for t in terms])
    n = F.size(toks)
    half = window // 2 - 1
    # guard n = 0: sequence(1, 0) DESCENDS in Spark and element_at(_, 0)
    # throws under ANSI — empty docs must yield an empty hit list instead
    hitpos = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.array_contains(terms_arr, F.element_at(toks, i)),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    max_start = F.greatest(n - window + 1, F.lit(1))
    starts = F.array_distinct(
        F.transform(
            hitpos, lambda p: F.least(F.greatest(p - half, F.lit(1)), max_start)
        )
    )

    def score(s):
        win = F.slice(toks, s, window)
        cov = F.size(F.array_intersect(F.array_distinct(win), terms_arr))
        nh = F.size(F.filter(win, lambda t: F.array_contains(terms_arr, t)))
        return F.struct(cov.alias("cov"), nh.alias("nh"), (-s).alias("negs"))

    best = F.array_max(F.transform(starts, score))
    s = -best["negs"]
    snip = F.slice(toks, s, window)
    marked = F.transform(
        snip,
        lambda t: F.when(
            F.array_contains(terms_arr, t),
            F.concat(F.lit(open_tag), t, F.lit(close_tag)),
        ).otherwise(t),
    )
    body = F.concat_ws(" ", marked)
    pre = F.when(s > 1, F.lit(ellipsis)).otherwise(F.lit(""))
    post = F.when(s + window - 1 < n, F.lit(ellipsis)).otherwise(F.lit(""))
    return F.when(F.size(hitpos) > 0, F.concat(pre, body, post))


def with_snippets_multi(docs: DataFrame, terms: list[str]) -> DataFrame:
    """(id, snippet) using the multi-term best-coverage window — the
    decoration column for multi-term queries (FTS5 snippet() contract)."""
    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^0-9a-zA-Z]+', ' ')), ' '), "
        "x -> x <> '')"
    )
    out = docs.select(
        F.col("doc_id"), snippet_multi_expr(toks, terms).alias("snippet")
    )
    return out.where(F.col("snippet").isNotNull())


def snippet_phrase_expr(
    tokens_col: Column | str,
    phrase: list[str],
    terms: list[str] | None = None,
    window: int = 16,
    open_tag: str = "<b>",
    close_tag: str = "</b>",
    ellipsis: str = "...",
) -> Column:
    """Phrase-aware snippet: a quoted phrase highlights as ONE unit
    (``<b>table scan</b>``), loose terms highlight individually outside
    phrase spans — FTS5's snippet() behavior for phrase queries. Window
    selection scores (phrase present as a full occurrence + distinct
    loose terms, total hits, earliest); a phrase clipped by the window
    edge renders unwrapped rather than half-tagged. Pure Catalyst array
    ops, restatable in DuckDB list SQL. NULL when neither the phrase nor
    any loose term occurs."""
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    terms = terms or []
    m = len(phrase)
    if m < 1:
        raise ValueError("phrase must be non-empty")
    terms_arr = (
        F.array(*[F.lit(t) for t in terms])
        if terms
        else F.expr("array()").cast("array<string>")
    )
    n = F.size(toks)
    half = window // 2 - 1

    # phrase occurrence starts: i where toks[i..i+m-1] == phrase
    def is_start(i):
        cond = None
        for j, t in enumerate(phrase):
            c = F.element_at(toks, i + j) == F.lit(t)
            cond = c if cond is None else (cond & c)
        return cond

    starts = F.when(
        n >= m, F.filter(F.sequence(F.lit(1), n - m + 1), is_start)
    ).otherwise(F.expr("array()").cast("array<int>"))
    ends = F.transform(starts, lambda s0: s0 + (m - 1))
    span_pos = F.array_distinct(
        F.flatten(F.transform(starts, lambda s0: F.sequence(s0, s0 + (m - 1))))
    )
    loose_hits = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.array_contains(terms_arr, F.element_at(toks, i))
            & ~F.coalesce(F.array_contains(span_pos, i), F.lit(False)),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    anchors = F.concat(starts, loose_hits)

    max_start = F.greatest(n - window + 1, F.lit(1))
    cands = F.array_distinct(
        F.transform(
            anchors, lambda p: F.least(F.greatest(p - half, F.lit(1)), max_start)
        )
    )

    def score(s):
        e = s + window - 1
        full = F.filter(starts, lambda s0: (s0 >= s) & (s0 + (m - 1) <= e))
        in_win = F.filter(loose_hits, lambda i: (i >= s) & (i <= e))
        term_cov = F.size(
            F.array_distinct(F.transform(in_win, lambda i: F.element_at(toks, i)))
        )
        cov = F.when(F.size(full) > 0, 1).otherwise(0) + term_cov
        nh = F.size(full) + F.size(in_win)
        return F.struct(cov.alias("cov"), nh.alias("nh"), (-s).alias("negs"))

    best = F.array_max(F.transform(cands, score))
    s = -best["negs"]
    e = s + window - 1
    opens = F.filter(starts, lambda s0: (s0 >= s) & (s0 + (m - 1) <= e))
    closes = F.transform(opens, lambda s0: s0 + (m - 1))

    def render(i):
        tok = F.element_at(toks, i)
        base = F.when(
            F.array_contains(terms_arr, tok)
            & ~F.coalesce(F.array_contains(span_pos, i), F.lit(False)),
            F.concat(F.lit(open_tag), tok, F.lit(close_tag)),
        ).otherwise(tok)
        pre = F.when(F.array_contains(opens, i), F.lit(open_tag)).otherwise(F.lit(""))
        post = F.when(F.array_contains(closes, i), F.lit(close_tag)).otherwise(F.lit(""))
        return F.concat(pre, base, post)

    body = F.concat_ws(" ", F.transform(F.sequence(s, F.least(e, n)), render))
    pre_e = F.when(s > 1, F.lit(ellipsis)).otherwise(F.lit(""))
    post_e = F.when(e < n, F.lit(ellipsis)).otherwise(F.lit(""))
    return F.when(F.size(anchors) > 0, F.concat(pre_e, body, post_e))


def with_snippets_phrase(
    docs: DataFrame,
    phrase: list[str],
    terms: list[str] | None = None,
) -> DataFrame:
    """(id, snippet) with phrase-unit highlighting — the decoration column
    for quoted-phrase queries. Same semantics as ``snippet_phrase_expr``
    (the single-expression reference, pytest-pinned equal), but STAGED:
    each intermediate array (tokens, phrase starts, span positions, loose
    hits, candidates, window start, opens/closes) is a real projected
    column, so it is computed once per row instead of being re-inlined at
    every use site — the one-mega-expression form re-evaluated the O(n·m)
    phrase scan per candidate and per rendered token, which is O(n²·m)
    per row (round-3 ADVICE). Multi-referenced non-cheap aliases stop
    CollapseProject from merging the stages back. A scan-level substring
    prefilter (phrase head or any loose term) prunes non-matching docs
    before any tokenization."""
    # FTS5 snippet(fts, col, '<b>', '</b>', '...', 16)
    window, open_tag, close_tag, ellipsis = 16, "<b>", "</b>", "..."
    terms = terms or []
    m = len(phrase)
    if m < 1:
        raise ValueError("phrase must be non-empty")
    half = window // 2 - 1
    terms_arr = (
        F.array(*[F.lit(t) for t in terms])
        if terms
        else F.expr("array()").cast("array<string>")
    )

    # cheap necessary condition: any anchor needs the phrase head or a
    # loose term as a substring (post-lower) — pushes as a Contains filter
    pre = None
    for needle in [phrase[0]] + terms:
        c = F.contains(F.lower(F.col("text")), F.lit(needle))
        pre = c if pre is None else (pre | c)
    staged = docs.where(pre) if pre is not None else docs

    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^0-9a-zA-Z]+', ' ')), ' '), "
        "x -> x <> '')"
    )
    s0 = staged.select(F.col("doc_id"), toks.alias("__tk"), F.size(toks).alias("__n"))

    def is_start(i):
        cond = None
        for j, t in enumerate(phrase):
            c = F.element_at(F.col("__tk"), i + j) == F.lit(t)
            cond = c if cond is None else (cond & c)
        return cond

    starts = F.when(
        F.col("__n") >= m,
        F.filter(F.sequence(F.lit(1), F.col("__n") - m + 1), is_start),
    ).otherwise(F.expr("array()").cast("array<int>"))
    s1 = s0.select("doc_id", "__tk", "__n", starts.alias("__starts"))

    span = F.array_distinct(
        F.flatten(
            F.transform(F.col("__starts"), lambda p: F.sequence(p, p + (m - 1)))
        )
    )
    s2 = s1.select("doc_id", "__tk", "__n", "__starts", span.alias("__span"))

    loose = F.when(
        F.col("__n") > 0,
        F.filter(
            F.sequence(F.lit(1), F.col("__n")),
            lambda i: F.array_contains(terms_arr, F.element_at(F.col("__tk"), i))
            & ~F.coalesce(F.array_contains(F.col("__span"), i), F.lit(False)),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    s3 = s2.select(
        "doc_id", "__tk", "__n", "__starts", "__span", loose.alias("__loose")
    ).where((F.size(F.col("__starts")) + F.size(F.col("__loose"))) > 0)

    max_start = F.greatest(F.col("__n") - window + 1, F.lit(1))
    cands = F.array_distinct(
        F.transform(
            F.concat(F.col("__starts"), F.col("__loose")),
            lambda p: F.least(F.greatest(p - half, F.lit(1)), max_start),
        )
    )
    s4 = s3.select(
        "doc_id", "__tk", "__n", "__starts", "__span", "__loose",
        cands.alias("__cands"),
    )

    def score(s):
        e = s + window - 1
        full = F.filter(
            F.col("__starts"), lambda p: (p >= s) & (p + (m - 1) <= e)
        )
        in_win = F.filter(F.col("__loose"), lambda i: (i >= s) & (i <= e))
        term_cov = F.size(
            F.array_distinct(
                F.transform(in_win, lambda i: F.element_at(F.col("__tk"), i))
            )
        )
        cov = F.when(F.size(full) > 0, 1).otherwise(0) + term_cov
        nh = F.size(full) + F.size(in_win)
        return F.struct(cov.alias("cov"), nh.alias("nh"), (-s).alias("negs"))

    best_s = -F.array_max(F.transform(F.col("__cands"), score))["negs"]
    s5 = s4.select(
        "doc_id", "__tk", "__n", "__starts", "__span", "__loose",
        best_s.alias("__s"),
    )

    opens = F.filter(
        F.col("__starts"),
        lambda p: (p >= F.col("__s"))
        & (p + (m - 1) <= F.col("__s") + window - 1),
    )
    s6 = s5.select(
        "doc_id", "__tk", "__n", "__span", "__s", opens.alias("__opens")
    )
    closes = F.transform(F.col("__opens"), lambda p: p + (m - 1))
    s7 = s6.select(
        "doc_id", "__tk", "__n", "__span", "__s", "__opens",
        closes.alias("__closes"),
    )

    def render(i):
        tok = F.element_at(F.col("__tk"), i)
        base = F.when(
            F.array_contains(terms_arr, tok)
            & ~F.coalesce(F.array_contains(F.col("__span"), i), F.lit(False)),
            F.concat(F.lit(open_tag), tok, F.lit(close_tag)),
        ).otherwise(tok)
        pre_t = F.when(
            F.array_contains(F.col("__opens"), i), F.lit(open_tag)
        ).otherwise(F.lit(""))
        post_t = F.when(
            F.array_contains(F.col("__closes"), i), F.lit(close_tag)
        ).otherwise(F.lit(""))
        return F.concat(pre_t, base, post_t)

    e = F.col("__s") + window - 1
    body = F.concat_ws(
        " ", F.transform(F.sequence(F.col("__s"), F.least(e, F.col("__n"))), render)
    )
    pre_e = F.when(F.col("__s") > 1, F.lit(ellipsis)).otherwise(F.lit(""))
    post_e = F.when(e < F.col("__n"), F.lit(ellipsis)).otherwise(F.lit(""))
    return s7.select(
        F.col("doc_id"), F.concat(pre_e, body, post_e).alias("snippet")
    )


def with_snippets(docs: DataFrame, term: str) -> DataFrame:
    """(id, snippet) for documents containing ``term`` after tokenize-lower
    (the search-result decoration column, search_ops.cpp:191)."""
    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^0-9a-zA-Z]+', ' ')), ' '), "
        "x -> x <> '')"
    )
    out = docs.select(F.col("doc_id"), snippet_expr(toks, term).alias("snippet"))
    return out.where(F.col("snippet").isNotNull())
