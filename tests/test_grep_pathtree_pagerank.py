"""Round-2 operators: grep cascade, snippets, path-tree centroid rollup,
PageRank — goldens vs plain-Python / numpy references."""

from __future__ import annotations

import re

import numpy as np
import pytest

from yams_spark.operators.grep import (
    extract_literal,
    grep_scan,
    snippet_expr,
    with_snippets,
)


def test_extract_literal() -> None:
    assert extract_literal("stream[a-z]*") == "stream"
    assert extract_literal("foo|barbaz") == "barbaz"
    assert extract_literal("colou?r") == "colo"  # 'u' optional -> excluded
    assert extract_literal("ab+c") == "ab"  # 'b+' guarantees one 'b'... conservative run-split keeps "ab"
    assert extract_literal(r"\d+ errors") == " errors"
    assert extract_literal("x*") == ""
    assert extract_literal(r"lit\.eral") == "lit.eral"  # escaped dot is literal
    # escaped alphanumerics are regex classes/anchors, never literal chars
    # (literal_extractor.cpp:44-58): \berror must prefilter on 'error', not
    # 'berror'; \d\d-\d\d has no usable literal at all
    assert extract_literal(r"\berror") == "error"
    assert extract_literal(r"\d\d-\d\d") == "-"
    assert extract_literal(r"\w+@\w+\.com") == ".com"
    assert extract_literal(r"foo\sbar") == "foo"
    assert extract_literal(r"\.?x") == "x"  # quantified escaped punct excluded


def test_grep_scan_matches_python_re(spark) -> None:
    rows = [
        (1, "the stream flows into streams and streaming logs"),
        (2, "no relevant word here"),
        (3, "streamlined"),
        (4, "st r eam split apart"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_matches"] for r in grep_scan(docs, "stream[a-z]*").collect()}
    want = {
        i: len(re.findall("stream[a-z]*", t)) for i, t in rows if re.findall("stream[a-z]*", t)
    }
    assert got == want
    # literal mode escapes regex metachars
    lit = grep_scan(
        spark.createDataFrame([(1, "a.b x a.b"), (2, "axb")], "doc_id long, text string"),
        "a.b",
        literal_text=True,
    ).collect()
    assert {(r["doc_id"], r["n_matches"]) for r in lit} == {(1, 2)}


def test_snippet_window_and_wrapping(spark) -> None:
    words = [f"w{i}" for i in range(40)]
    words[20] = "needle"
    words[25] = "needle"
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = with_snippets(docs, "needle").collect()
    assert len(out) == 1
    raw = out[0]["snippet"]
    # both sides clip (40 tokens, window 14..29) -> '...' affixes
    assert raw.startswith("...") and raw.endswith("...")
    snip = raw.removeprefix("...").removesuffix("...").split(" ")
    assert len(snip) == 16
    # window starts 7 tokens before the first hit (pos 21 1-based -> start 14)
    assert snip[0] == "w13"
    assert snip[7] == "<b>needle</b>"
    assert snip[12] == "<b>needle</b>"  # every in-window occurrence wrapped
    # absent term -> no row
    assert with_snippets(docs, "absent").count() == 0
    # hit near the start clamps the window to token 1: no leading ellipsis
    docs2 = spark.createDataFrame([(1, "needle " + " ".join(words[:20]))],
                                  "doc_id long, text string")
    raw2 = with_snippets(docs2, "needle").collect()[0]["snippet"]
    assert not raw2.startswith("...") and raw2.endswith("...")
    s2 = raw2.removesuffix("...").split(" ")
    assert s2[0] == "<b>needle</b>" and len(s2) == 16
    # short doc: window covers everything -> no ellipsis at all
    docs3 = spark.createDataFrame([(1, "a needle here")], "doc_id long, text string")
    assert with_snippets(docs3, "needle").collect()[0]["snippet"] == "a <b>needle</b> here"


def test_path_tree_rollup_centroid(spark) -> None:
    from yams_spark.operators.pathtree import path_tree_rollup

    rows = [
        ("/a/x/f1", [1.0, 3.0]),
        ("/a/x/f2", [3.0, 5.0]),
        ("/a/y/f3", [5.0, 7.0]),
        ("/b/z/f4", None),  # null embedding: counted, not averaged
    ]
    docs = spark.createDataFrame(rows, "path string, embedding array<double>")
    out = {
        r["prefix"]: r
        for r in path_tree_rollup(docs, "path", "embedding").collect()
    }
    assert out["/a"]["doc_count"] == 3 and out["/a"]["centroid_weight"] == 3
    assert out["/a"]["centroid"] == [3.0, 5.0]
    assert out["/a/x"]["centroid"] == [2.0, 4.0]
    assert out["/b"]["doc_count"] == 1 and out["/b"]["centroid_weight"] == 0
    assert out["/b"]["centroid"] is None
    assert out["/a/x/f1"]["doc_count"] == 1  # leaf node itself


def test_pagerank_matches_power_iteration(spark) -> None:
    from yams_spark.operators.graph import pagerank

    # 4 nodes: cycle 0->1->2->0, 3 dangles off 2; 3 has no out-edges
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pagerank"] for r in pagerank(df, 0.85, max_iter=25).collect()}

    # numpy reference with uniform dangling redistribution
    n, d = 4, 0.85
    A = np.zeros((n, n))
    outdeg = {0: 1, 1: 1, 2: 2}
    for s, t in edges:
        A[t, s] = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(25):
        dangling = r[3]
        r = (1 - d) / n + d * (A @ r + dangling / n)
    for i in range(n):
        assert got[i] == pytest.approx(r[i], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_relevance_metrics_hand_computed(spark) -> None:
    import math

    from yams_spark.operators.relevance import relevance_metrics

    results = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3), (1, "d", 4), (1, "e", 5),
         (2, "x", 1), (2, "y", 2)],  # query 2: nothing relevant retrieved
        "query_id long, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, "b", 1), (1, "d", 2), (1, "z", 1),  # z never retrieved
         (2, "q", 1)],
        "query_id long, doc_id string, rel int",
    )
    got = {r["query_id"]: r for r in relevance_metrics(results, qrels, k=10).collect()}

    assert got[1]["mrr"] == pytest.approx(0.5)
    dcg = 1 / math.log2(3) + 3 / math.log2(5)
    idcg = 3 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert got[1]["ndcg"] == pytest.approx(dcg / idcg)
    assert got[1]["map"] == pytest.approx((1 / 2 + 2 / 4) / 3)
    assert got[2]["mrr"] == 0.0 and got[2]["ndcg"] == 0.0 and got[2]["map"] == 0.0


def test_sgc_smoothing_matches_numpy(spark) -> None:
    """topology_sgc.cpp:23-181: X <- (D^-1/2 (A+I) D^-1/2)^hops X with
    max-weight symmetric dedupe, self-loop weight 1, degree = 1 + sum(w)."""
    from yams_spark.operators.sgc import sgc_smooth

    feats = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 0.0])]
    # duplicate edge with different weights -> max wins; node 3 isolated
    edges = [(0, 1, 0.5), (1, 0, 0.8), (1, 2, 1.0)]
    fdf = spark.createDataFrame(feats, "node long, embedding array<double>")
    edf = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = {r["node"]: list(r["embedding"])
           for r in sgc_smooth(fdf, edf, hops=2).collect()}

    W = np.zeros((4, 4))
    W[0, 1] = W[1, 0] = 0.8
    W[1, 2] = W[2, 1] = 1.0
    deg = 1.0 + W.sum(axis=1)
    inv = 1.0 / np.sqrt(deg)
    A = (W + np.eye(4)) * np.outer(inv, inv)
    X = np.array([f for _, f in feats])
    want = A @ (A @ X)
    for i in range(4):
        assert got[i] == pytest.approx(list(want[i]), rel=1e-6)
    # isolated node: degree 1, self-scale 1 -> embedding unchanged
    assert got[3] == pytest.approx([2.0, 0.0])


def test_resolve_documents_cascade(spark) -> None:
    """document_service.cpp:230-300: exact path beats basename beats suffix
    beats hash prefix; hash strategy only fires for hashy queries;
    ambiguity settles newest-wins; no match -> no row."""
    from yams_spark.operators.resolve import resolve_documents

    docs = spark.createDataFrame(
        [
            ("/a/b/readme.txt", "aabbcc112233", 1),
            ("/x/readme.txt", "ddeeff445566", 2),   # newer basename collision
            ("/a/b", "abcdef999999", 3),            # exact-path target
            ("/h/deadbeef.txt", "deadbeef0001", 4),
        ],
        "path string, doc_hash string, warc_ts long",
    )
    out = {
        r["query"]: r
        for r in resolve_documents(
            docs,
            ["/a/b", "readme.txt", "b/readme.txt", "deadbeef00", "nope.md"],
        ).collect()
    }
    # exact path wins even though '/a/b' is also a suffix of nothing else
    assert out["/a/b"]["matched_via"] == "exact_path"
    # basename collision -> newest (warc_ts 2) wins, n_matches records both
    assert out["readme.txt"]["path"] == "/x/readme.txt"
    assert out["readme.txt"]["n_matches"] == 2
    # suffix narrows to the /a/b copy
    assert out["b/readme.txt"]["path"] == "/a/b/readme.txt"
    assert out["b/readme.txt"]["matched_via"] == "suffix"
    # hashy query resolves by prefix; 'deadbeef.txt' basename does NOT match
    assert out["deadbeef00"]["matched_via"] == "hash_prefix"
    assert out["deadbeef00"]["doc_hash"] == "deadbeef0001"
    assert "nope.md" not in out


def test_resolve_cascade_cheap_path_no_scan(spark) -> None:
    """Round-3 cascade rework: queries that hit levels 1-2 resolve through
    membership filters only — the returned plan contains no cartesian
    fallback scan; misses still reach suffix/hash via the scan pass."""
    from yams_spark.operators.resolve import resolve_documents

    docs = spark.createDataFrame(
        [("/a/f.txt", "aaaa11112222", 1), ("/b/g.txt", "bbbb33334444", 2)],
        "path string, doc_hash string, warc_ts long",
    )
    out = resolve_documents(docs, ["/a/f.txt", "g.txt"])
    rows = {r["query"]: r for r in out.collect()}
    assert rows["/a/f.txt"]["matched_via"] == "exact_path"
    assert rows["g.txt"]["matched_via"] == "basename"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
