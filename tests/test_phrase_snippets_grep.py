"""Phrase queries over positional postings, multi-term snippets, grep
option surface (whole-word / ignore-case / context / globs) —
round-3 operators vs plain-Python references."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from yams_spark.operators.grep import (
    grep_lines_context,
    grep_scan,
    with_snippets_multi,
)
from yams_spark.operators.search import (
    build_positional_postings,
    parse_match_query,
    phrase_match,
)

DOCS = [
    (1, "the table scan runs before the table scan finishes"),
    (2, "scan the table backwards"),          # both terms, never adjacent
    (3, "table scan"),                        # exactly the phrase
    (4, "a grand table scanner scans"),       # 'scan' only as prefix
    (5, "one two three table scan table scan table scan"),
]


def _pp(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return build_positional_postings(docs, "doc_id", "text")


def test_positional_postings_positions(spark) -> None:
    pp = {(r["doc_id"], r["term"]): r for r in _pp(spark).collect()}
    assert pp[(1, "table")]["positions"] == [2, 7]
    assert pp[(1, "scan")]["positions"] == [3, 8]
    assert pp[(1, "the")]["tf"] == 2 and pp[(1, "the")]["dl"] == 9


def test_phrase_match_adjacency(spark) -> None:
    got = {r["doc_id"]: r["n_occurrences"] for r in
           phrase_match(_pp(spark), ["table", "scan"]).collect()}
    # python reference: count adjacent occurrences
    want = {}
    for doc_id, text in DOCS:
        toks = [t for t in re.sub(r"[^0-9a-zA-Z]+", " ", text).lower().split() if t]
        n = sum(1 for i in range(len(toks) - 1)
                if toks[i] == "table" and toks[i + 1] == "scan")
        if n:
            want[doc_id] = n
    assert got == want == {1: 2, 3: 1, 5: 3}
    # 3-term phrase
    got3 = {r["doc_id"]: r["n_occurrences"] for r in
            phrase_match(_pp(spark), ["the", "table", "scan"]).collect()}
    assert got3 == {1: 2}
    # repeated term inside a phrase works (same posting row joined twice)
    docs = spark.createDataFrame([(9, "ha ha ha")], "doc_id long, text string")
    pp = build_positional_postings(docs, "doc_id", "text")
    assert phrase_match(pp, ["ha", "ha"]).collect()[0]["n_occurrences"] == 2
    with pytest.raises(ValueError):
        phrase_match(pp, [])


def test_parse_match_query() -> None:
    p = parse_match_query('find "table scan" fast')
    assert p == {"phrases": [["table", "scan"]], "terms": ["find", "fast"],
                 "prefix_terms": []}
    # 3-4 token NL query auto-phrases when enabled (search_query_helpers)
    assert parse_match_query("big table scan", auto_phrase=True) == {
        "phrases": [["big", "table", "scan"]], "terms": [], "prefix_terms": []}
    assert parse_match_query("big table scan", auto_phrase=False) == {
        "phrases": [], "terms": ["big", "table", "scan"], "prefix_terms": []}
    # 5 tokens: never auto-phrased
    assert parse_match_query("one two three four five", auto_phrase=True)["phrases"] == []
    # explicit FTS5 prefix terms: 'tok*'
    p2 = parse_match_query("stream tab*", auto_phrase=True)
    assert p2 == {"phrases": [], "terms": ["stream"], "prefix_terms": ["tab"]}


def test_hybrid_search_phrase_restricts(spark) -> None:
    from yams_spark.operators.neighbors import hybrid_search

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    quoted = hybrid_search(spark, docs, '"table scan"', None, limit=10)
    loose = hybrid_search(spark, docs, "table scan", None, limit=10)
    q_ids = {r["doc_id"] for r in quoted.collect()}
    l_ids = {r["doc_id"] for r in loose.collect()}
    assert q_ids == {"1", "3", "5"}      # adjacency required
    assert l_ids == {"1", "2", "3", "5"}  # AND allows non-adjacent doc 2
    # auto_phrase phrases an unquoted 3-4 token query whole; three phrase
    # hits keep the OR retry (fewer than 3 hits) out of the result
    nl = spark.createDataFrame(
        [(1, "big table scan"), (2, "a big table scan here"),
         (3, "big table scan again"), (4, "scan big table")],
        "doc_id long, text string",
    )
    auto = hybrid_search(spark, nl, "big table scan", None, limit=10,
                         auto_phrase=True)
    plain = hybrid_search(spark, nl, "big table scan", None, limit=10)
    assert {r["doc_id"] for r in auto.collect()} == {"1", "2", "3"}
    assert {r["doc_id"] for r in plain.collect()} == {"1", "2", "3", "4"}


def test_snippet_multiterm_best_window(spark) -> None:
    # needle1 early alone; needle1+needle2 together later: the window
    # covering BOTH terms must win even though it starts later
    words = [f"w{i}" for i in range(60)]
    words[5] = "needle1"
    words[40] = "needle1"
    words[44] = "needle2"
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = with_snippets_multi(docs, ["needle1", "needle2"]).collect()
    snip = out[0]["snippet"]
    assert "<b>needle1</b>" in snip and "<b>needle2</b>" in snip
    assert snip.startswith("...") and snip.endswith("...")
    # single-hit doc still snips around the only hit
    docs2 = spark.createDataFrame([(1, "a needle1 here")], "doc_id long, text string")
    assert with_snippets_multi(docs2, ["needle1", "needle2"]).collect()[0][
        "snippet"] == "a <b>needle1</b> here"
    # no hit -> no row; empty doc -> no crash, no row
    docs3 = spark.createDataFrame([(1, "nothing"), (2, "")], "doc_id long, text string")
    assert with_snippets_multi(docs3, ["needle1"]).count() == 0


def test_grep_whole_word_and_ignore_case(spark) -> None:
    docs = spark.createDataFrame(
        [(1, "Stream of streams"), (2, "streaming only"), (3, "a stream here")],
        "doc_id long, text string",
    )
    # whole word: 'streams'/'streaming' excluded
    ww = {r["doc_id"]: r["n_matches"]
          for r in grep_scan(docs, "stream", whole_word=True).collect()}
    assert ww == {3: 1}
    # ignore case adds doc 1's 'Stream'
    wwi = {r["doc_id"]: r["n_matches"]
           for r in grep_scan(docs, "stream", whole_word=True, ignore_case=True).collect()}
    assert wwi == {1: 1, 3: 1}
    # files_without_match (-L)
    fwm = {r["doc_id"] for r in
           grep_scan(docs, "stream", whole_word=True, files_without_match=True).collect()}
    assert fwm == {1, 2}
    # NULL text = no matchable content -> -L lists it (round-3 ADVICE:
    # regexp_count(NULL) is NULL, which used to fall out of the == 0 filter)
    docs_null = spark.createDataFrame(
        [(1, "a stream here"), (2, None)], "doc_id long, text string"
    )
    fwm_null = {r["doc_id"] for r in
                grep_scan(docs_null, "stream", files_without_match=True).collect()}
    assert fwm_null == {2}


def test_grep_glob_scope(spark) -> None:
    docs = spark.createDataFrame(
        [(1, "/src/a.py", "ok line\nerror here\nfine"),
         (2, "/doc/b.md", "error everywhere")],
        "doc_id long, path string, text string",
    )
    scoped = grep_scan(docs, "error", path_glob="/src/*.py", path_col="path").collect()
    assert {r["doc_id"] for r in scoped} == {1}


def test_grep_context_lines(spark) -> None:
    text = "\n".join(f"line{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = grep_lines_context(docs, "line5", before=2, after=1).collect()
    got = {(r["line_no"], r["is_match"]) for r in out}
    # match at line 6 (1-based): before=2 -> lines 4,5; after=1 -> line 7
    assert got == {(4, False), (5, False), (6, True), (7, False)}
    # two nearby matches merge their context windows without duplicates
    docs2 = spark.createDataFrame(
        [(1, "a\nhit\nb\nhit\nc\nd\ne")], "doc_id long, text string"
    )
    out2 = grep_lines_context(docs2, "hit", before=1, after=1).collect()
    nos = sorted(r["line_no"] for r in out2)
    assert nos == [1, 2, 3, 4, 5]


def test_hybrid_search_snippet_decoration(spark) -> None:
    """include_snippets=True hydrates the result head with the multi-term
    best-coverage snippet (search_ops.cpp:191), computed only for hit
    docs."""
    from yams_spark.operators.neighbors import hybrid_search

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = hybrid_search(spark, docs, "table scan", None, limit=5,
                        include_snippets=True)
    rows = {r["doc_id"]: r["snippet"] for r in out.collect()}
    assert rows and all(s is not None for s in rows.values())
    assert "<b>table</b>" in rows["1"] and "<b>scan</b>" in rows["1"]
    # default: no snippet column
    plain = hybrid_search(spark, docs, "table scan", None, limit=5)
    assert "snippet" not in plain.columns


def test_snippet_phrase_highlight(spark) -> None:
    """Phrase-aware snippet: the phrase wraps as ONE unit, loose terms
    wrap individually outside phrase spans, clipped phrases stay
    unwrapped, overlapping occurrences nest balanced tags."""
    from yams_spark.operators.grep import snippet_phrase_expr

    def snip(text, phrase, terms=None, window=16):
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        toks = F.expr(
            "filter(split(lower(regexp_replace(text, '[^0-9a-zA-Z]+', ' ')), ' '), "
            "x -> x <> '')"
        )
        out = docs.select(
            snippet_phrase_expr(toks, phrase, terms, window).alias("s")
        ).collect()
        return out[0]["s"]

    # phrase highlighted as a unit; loose term separately
    got = snip("a fast table scan runs here", ["table", "scan"], ["fast"])
    assert got == "a <b>fast</b> <b>table scan</b> runs here"
    # phrase member tokens are NOT individually wrapped even if they are
    # also loose terms (span positions excluded)
    got2 = snip("scan the table scan", ["table", "scan"], ["scan"])
    assert got2 == "<b>scan</b> the <b>table scan</b>"
    # overlapping occurrences nest balanced tags
    got3 = snip("ha ha ha", ["ha", "ha"])
    assert got3.count("<b>") == got3.count("</b>") == 2
    # no phrase, no terms hit -> NULL (no row semantics up to the caller)
    assert snip("nothing here", ["table", "scan"], ["fast"]) is None
    # empty doc: no crash
    assert snip("", ["table", "scan"], ["fast"]) is None
    # more hits win: the double-phrase region beats the lone-term region
    # (a single occurrence each would tie on coverage and the EARLIEST
    # window would rightly win)
    words = ["fast"] + [f"w{i}" for i in range(30)] + ["table", "scan", "table", "scan"]
    got4 = snip(" ".join(words), ["table", "scan"], ["fast"], window=8)
    assert got4.count("<b>table scan</b>") == 2 and got4.startswith("...")


def test_snippet_phrase_staged_equals_expression(spark) -> None:
    """The staged production path (with_snippets_phrase: per-stage real
    columns, scan-level prefilter — the round-3 ADVICE fix for the
    O(n^2 m) one-mega-expression plan) returns exactly the rows and
    snippets of the single-expression reference on a mixed corpus."""
    from yams_spark.operators.grep import snippet_phrase_expr, with_snippets_phrase

    corpus = [
        (1, "a fast table scan runs here"),
        (2, "scan the table scan"),
        (3, "ha ha ha table"),
        (4, "nothing relevant at all"),
        (5, ""),
        (6, " ".join(["fast"] + [f"w{i}" for i in range(40)]
                     + ["table", "scan"] * 3)),
        (7, "table without its partner"),
        (8, "fast only"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^0-9a-zA-Z]+', ' ')), ' '), "
        "x -> x <> '')"
    )
    ref = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            snippet_phrase_expr(toks, ["table", "scan"], ["fast"]).alias("s"),
        ).collect()
        if r["s"] is not None
    }
    got = {
        r["doc_id"]: r["snippet"]
        for r in with_snippets_phrase(docs, ["table", "scan"], ["fast"]).collect()
    }
    assert got == ref and len(got) == 4  # docs 1, 2, 6, 8 anchor
