"""FTS5 tokenizer parity: unicode61 (+ tokenchars ``_-``) and Porter.

The reference's FTS index is created with
``tokenize='porter unicode61 tokenchars ''_-'''`` since migration v17
(/root/reference/src/metadata/migration.cpp:1807,1906), so its lexical
search (a) keeps ``_`` and ``-`` as token characters (``snake_case`` and
``kebab-case`` stay single tokens), (b) treats Unicode letters/numbers as
token characters with case folding and Latin diacritic removal
(unicode61's ``remove_diacritics=1`` default), and (c) stems every token
with the classic Porter (1980) algorithm, so "running" matches "run".

This module carries ONE rule set in three forms, all tested equal:

* ``porter_stem`` / ``unicode61_tokens`` — pure-Python reference (used by
  the Spark production path via Arrow-batched ``mapInPandas`` over the
  DISTINCT term vocabulary — stemming cost is O(|vocab|), never O(corpus
  tokens)).
* ``porter_duckdb_steps`` — the same algorithm as a chain of DuckDB CASE
  expressions (one per Porter step), generated from the shared rule
  tables, so a DuckDB oracle can reproduce stemmed postings exactly.
* ``unicode61_tokens_spark_expr`` / ``unicode61_tokens_duckdb`` — the
  tokenizer as Catalyst / DuckDB expressions (lower → diacritic translate
  → split on non-token chars), byte-equal across engines.

Porter variant: the tartarus reference implementation FTS5 ports — i.e.
WITH the published departures (step 2 ``bli→ble`` and ``logi→log``
replacing the paper's ``abli→able``) and the pass-through of tokens
shorter than 3 chars; tokens that are not pure ``[a-z]`` (digits,
tokenchars, non-ASCII) pass through unstemmed, mirroring the stemmer's
ASCII-letter domain. Limitations (documented, pytest-pinned): the SQL
cv-classifier resolves ``y``-runs up to length 2 exactly (longer runs do
not occur in English or in any corpus here); the diacritic table covers
Latin-1 Supplement + Latin Extended-A (the range web text actually hits).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# unicode61 (+ tokenchars '_-', remove_diacritics=1)
# ---------------------------------------------------------------------------

#: accented char -> ASCII base, lowercase side (applied after lower()).
#: Latin-1 Supplement + Latin Extended-A, 1:1 mappings only (translate()).
_DIACRITICS: dict[str, str] = {
    **{c: "a" for c in "àáâãäåāăą"},
    **{c: "c" for c in "çćĉċč"},
    **{c: "d" for c in "ďđ"},
    **{c: "e" for c in "èéêëēĕėęě"},
    **{c: "g" for c in "ĝğġģ"},
    **{c: "h" for c in "ĥħ"},
    **{c: "i" for c in "ìíîïĩīĭįı"},
    **{c: "j" for c in "ĵ"},
    **{c: "k" for c in "ķ"},
    **{c: "l" for c in "ĺļľŀł"},
    **{c: "n" for c in "ñńņňŉ"},
    **{c: "o" for c in "òóôõöøōŏő"},
    **{c: "r" for c in "ŕŗř"},
    **{c: "s" for c in "śŝşš"},
    **{c: "t" for c in "ţťŧ"},
    **{c: "u" for c in "ùúûüũūŭůűų"},
    **{c: "w" for c in "ŵ"},
    **{c: "y" for c in "ýÿŷ"},
    **{c: "z" for c in "źżž"},
}
_DIACRITIC_FROM = "".join(_DIACRITICS)
_DIACRITIC_TO = "".join(_DIACRITICS.values())

#: separator class: anything that is not a Unicode letter/number or a
#: tokenchar. The same string is a valid Java regex (Spark) and RE2
#: (DuckDB) character class.
UNICODE61_SEP_REGEX = r"[^\p{L}\p{N}_-]+"

DEFAULT_TOKENCHARS = "_-"


def unicode61_fold(text: str) -> str:
    """Case-fold + strip Latin diacritics (python reference)."""
    return text.lower().translate(str.maketrans(_DIACRITICS))


def unicode61_tokens(text: str, tokenchars: str = DEFAULT_TOKENCHARS) -> list[str]:
    """Python reference tokenizer: fold, then split on any run of
    non-token characters (token chars: Unicode L*/N* + tokenchars)."""
    folded = unicode61_fold(text)
    out: list[str] = []
    cur: list[str] = []
    for ch in folded:
        if ch in tokenchars or unicodedata.category(ch)[0] in ("L", "N"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def unicode61_tokens_spark_expr(col: Column | str) -> Column:
    """Catalyst tokenizer: array<string> of unicode61 tokens of ``col``."""
    c = F.col(col) if isinstance(col, str) else col
    folded = F.translate(F.lower(c), _DIACRITIC_FROM, _DIACRITIC_TO)
    return F.filter(
        F.split(F.regexp_replace(folded, UNICODE61_SEP_REGEX, " "), " "),
        lambda x: x != F.lit(""),
    )


def unicode61_tokens_duckdb(expr: str) -> str:
    """DuckDB SQL producing the same token list for string expr ``expr``."""
    return (
        "list_filter(string_split(regexp_replace(translate(lower("
        + expr
        + f"), '{_DIACRITIC_FROM}', '{_DIACRITIC_TO}'), "
        + f"'{UNICODE61_SEP_REGEX}', ' ', 'g'), ' '), x -> x <> '')"
    )


# ---------------------------------------------------------------------------
# Porter stemmer — shared rule tables
# ---------------------------------------------------------------------------

#: step 2 (condition m>0), longest suffix wins; tartarus departures
#: included (bli->ble, logi->log)
STEP2_RULES: list[tuple[str, str]] = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
]

#: step 3 (condition m>0)
STEP3_RULES: list[tuple[str, str]] = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

#: step 4 (condition m>1; 'ion' additionally needs stem ending s or t)
STEP4_SUFFIXES: list[str] = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in "aeiou":
        return False
    if c == "y":
        return True if i == 0 else not _is_cons(w, i - 1)
    return True


def _cv(w: str) -> str:
    return "".join("b" if _is_cons(w, i) else "a" for i in range(len(w)))


def _m(w: str) -> int:
    cv = _cv(w)
    return sum(1 for i in range(len(cv) - 1) if cv[i] == "a" and cv[i + 1] == "b")


def _has_vowel(w: str) -> bool:
    return "a" in _cv(w)


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _ends_cvc(w: str) -> bool:
    return len(w) >= 3 and _cv(w)[-3:] == "bab" and w[-1] not in "wxy"


def _longest_rule(w: str, rules: list[tuple[str, str]]):
    """The longest suffix in ``rules`` that ``w`` ends with (step
    semantics: the longest match decides the rule, even if its condition
    then fails)."""
    best = None
    for suf, rep in rules:
        if w.endswith(suf) and (best is None or len(suf) > len(best[0])):
            best = (suf, rep)
    return best


def porter_stem(word: str) -> str:
    """Classic Porter stem of ``word`` (tartarus reference variant).

    Tokens shorter than 3 chars or containing anything outside [a-z]
    (digits, ``_``/``-`` tokenchars, non-ASCII) pass through unchanged,
    as FTS5's porter wrapper does for tokens outside the stemmer's
    domain.
    """
    w = word
    if len(w) < 3 or len(w) > 64 or not all("a" <= c <= "z" for c in w):
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _m(w[:-3]) > 0:
            w = w[:-1]
    else:
        removed = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w = w[:-2]
            removed = True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w = w[:-3]
            removed = True
        if removed:
            if w.endswith(("at", "bl", "iz")):
                w = w + "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _m(w) == 1 and _ends_cvc(w):
                w = w + "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    r = _longest_rule(w, STEP2_RULES)
    if r is not None:
        stem = w[: -len(r[0])]
        if _m(stem) > 0:
            w = stem + r[1]

    # step 3
    r = _longest_rule(w, STEP3_RULES)
    if r is not None:
        stem = w[: -len(r[0])]
        if _m(stem) > 0:
            w = stem + r[1]

    # step 4
    r = _longest_rule(w, [(s, "") for s in STEP4_SUFFIXES])
    if r is not None:
        stem = w[: -len(r[0])]
        if _m(stem) > 1 and (r[0] != "ion" or stem.endswith(("s", "t"))):
            w = stem

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _m(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            w = stem

    # step 5b
    if _m(w) > 1 and _ends_double_cons(w) and w[-1] == "l":
        w = w[:-1]

    return w


# ---------------------------------------------------------------------------
# Porter as DuckDB SQL (generated from the same tables)
# ---------------------------------------------------------------------------


def _cv_sql(s: str) -> str:
    """cv classifier over {a=vowel, b=consonant}; y-runs <= 2 exact."""
    e = f"regexp_replace({s}, '[aeiou]', 'a', 'g')"
    e = f"regexp_replace({e}, '[^ay]', 'b', 'g')"
    e = f"regexp_replace({e}, '^yy', 'ba')"
    e = f"regexp_replace({e}, '^y', 'b')"
    e = f"regexp_replace({e}, 'ayy', 'aba', 'g')"
    e = f"regexp_replace({e}, 'byy', 'bab', 'g')"
    e = f"regexp_replace({e}, 'ay', 'ab', 'g')"
    e = f"regexp_replace({e}, 'by', 'ba', 'g')"
    return e


def _m_sql(s: str) -> str:
    cv = _cv_sql(s)
    return f"((length({cv}) - length(replace({cv}, 'ab', ''))) // 2)"


def _has_vowel_sql(s: str) -> str:
    return f"contains({_cv_sql(s)}, 'a')"


def _ends_double_sql(s: str) -> str:
    return (
        f"(length({s}) >= 2 AND right({s}, 1) = substr({s}, length({s}) - 1, 1)"
        f" AND right({_cv_sql(s)}, 1) = 'b')"
    )


def _ends_cvc_sql(s: str) -> str:
    return (
        f"(length({s}) >= 3 AND right({_cv_sql(s)}, 3) = 'bab'"
        f" AND right({s}, 1) NOT IN ('w', 'x', 'y'))"
    )


def _stem_of(w: str, suf: str) -> str:
    return f"substr({w}, 1, length({w}) - {len(suf)})"


def _cond_rules_sql(w: str, rules: list[tuple[str, str]], min_m: int) -> str:
    """CASE chain: longest suffix wins, replacement applied iff
    m(stem) > min_m-threshold (min_m=1 → m>0; min_m=2 → m>1)."""
    branches = []
    for suf, rep in sorted(rules, key=lambda r: -len(r[0])):
        stem = _stem_of(w, suf)
        cond = f"{_m_sql(stem)} >= {min_m}"
        if suf == "ion":
            cond += f" AND right({stem}, 1) IN ('s', 't')"
        rep_sql = f"{stem} || '{rep}'" if rep else stem
        # >= (not >): a word equal to the suffix still matches (tartarus
        # ends() allows the whole-word match) and BLOCKS shorter suffixes
        # in the same step even when its own condition then fails
        branches.append(
            f"WHEN length({w}) >= {len(suf)} AND right({w}, {len(suf)}) = '{suf}' "
            f"THEN (CASE WHEN {cond} THEN {rep_sql} ELSE {w} END)"
        )
    return "CASE " + " ".join(branches) + f" ELSE {w} END"


def porter_duckdb_steps(col: str = "w") -> list[str]:
    """The Porter steps as DuckDB SQL expressions, each over a column
    named ``col`` holding the previous step's output. Chain them as
    successive CTE stages (tiny input: the DISTINCT term vocabulary).
    The first stage must only be applied to tokens in the stemmer's
    domain — gate with ``porter_domain_sql``."""
    w = col
    steps = []

    # step 1a
    steps.append(
        f"CASE WHEN right({w}, 4) = 'sses' THEN substr({w}, 1, length({w}) - 2) "
        f"WHEN right({w}, 3) = 'ies' THEN substr({w}, 1, length({w}) - 2) "
        f"WHEN right({w}, 2) = 'ss' THEN {w} "
        f"WHEN right({w}, 1) = 's' THEN substr({w}, 1, length({w}) - 1) "
        f"ELSE {w} END"
    )

    # step 1b: two stages — removal, then the at/bl/iz|double|cvc repair.
    # Stage 1 emits a '+' marker prefix when ed/ing was removed.
    st_eed = _stem_of(w, "eed")
    st_ed = _stem_of(w, "ed")
    st_ing = _stem_of(w, "ing")
    steps.append(
        f"CASE WHEN right({w}, 3) = 'eed' THEN "
        f"(CASE WHEN {_m_sql(st_eed)} >= 1 THEN substr({w}, 1, length({w}) - 1) ELSE {w} END) "
        f"WHEN right({w}, 2) = 'ed' AND {_has_vowel_sql(st_ed)} THEN '+' || {st_ed} "
        f"WHEN right({w}, 3) = 'ing' AND {_has_vowel_sql(st_ing)} THEN '+' || {st_ing} "
        f"ELSE {w} END"
    )
    # stage 2: resolve the marker
    body = f"substr({w}, 2)"
    steps.append(
        f"CASE WHEN substr({w}, 1, 1) = '+' THEN ("
        f"CASE WHEN right({body}, 2) IN ('at', 'bl', 'iz') THEN {body} || 'e' "
        f"WHEN {_ends_double_sql(body)} AND right({body}, 1) NOT IN ('l', 's', 'z') "
        f"THEN substr({body}, 1, length({body}) - 1) "
        f"WHEN {_m_sql(body)} = 1 AND {_ends_cvc_sql(body)} THEN {body} || 'e' "
        f"ELSE {body} END) ELSE {w} END"
    )

    # step 1c
    st_y = _stem_of(w, "y")
    steps.append(
        f"CASE WHEN right({w}, 1) = 'y' AND {_has_vowel_sql(st_y)} "
        f"THEN {st_y} || 'i' ELSE {w} END"
    )

    # steps 2, 3 (m>0), 4 (m>1)
    steps.append(_cond_rules_sql(w, STEP2_RULES, 1))
    steps.append(_cond_rules_sql(w, STEP3_RULES, 1))
    steps.append(_cond_rules_sql(w, [(s, "") for s in STEP4_SUFFIXES], 2))

    # step 5a
    st_e = _stem_of(w, "e")
    steps.append(
        f"CASE WHEN right({w}, 1) = 'e' AND ({_m_sql(st_e)} > 1 "
        f"OR ({_m_sql(st_e)} = 1 AND NOT {_ends_cvc_sql(st_e)})) "
        f"THEN {st_e} ELSE {w} END"
    )

    # step 5b
    steps.append(
        f"CASE WHEN {_m_sql(w)} > 1 AND {_ends_double_sql(w)} "
        f"AND right({w}, 1) = 'l' "
        f"THEN substr({w}, 1, length({w}) - 1) ELSE {w} END"
    )
    return steps


def stem_terms(terms):
    """Add ``stem`` = Porter stem of ``term`` via an Arrow-batched
    mapInPandas pass. Intended for the DISTINCT vocabulary (stemming cost
    O(|vocab|), never O(corpus tokens)); the result joins back onto the
    posting lists."""

    def fn(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf["stem"] = [porter_stem(t) for t in pdf["term"]]
            yield pdf

    # fresh StructType: .add() would mutate the input DataFrame's cached
    # schema object and break its own resolution
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(terms.schema.fields) + [StructField("stem", StringType())]
    )
    return terms.mapInPandas(fn, schema=schema)


def porter_domain_sql(col: str) -> str:
    """Predicate: ``col`` is in the stemmer's domain (pure a-z, len 3-64)."""
    return f"(length({col}) BETWEEN 3 AND 64 AND regexp_matches({col}, '^[a-z]+$'))"


def porter_duckdb_cte(term_source: str) -> str:
    """A full DuckDB CTE body mapping DISTINCT ``term`` from
    ``term_source`` (a CTE/table name) to its Porter stem: SELECT term,
    stem FROM ... Chained stages s0..sN so each step evaluates once."""
    steps = porter_duckdb_steps("w")
    sql = (
        f"SELECT term AS term, term AS w FROM {term_source} "
        f"WHERE {porter_domain_sql('term')}"
    )
    for step in steps:
        sql = f"SELECT term, {step} AS w FROM ({sql})"
    return (
        f"SELECT term, w AS stem FROM ({sql}) "
        f"UNION ALL SELECT term AS term, term AS stem "
        f"FROM {term_source} WHERE NOT {porter_domain_sql('term')}"
    )
