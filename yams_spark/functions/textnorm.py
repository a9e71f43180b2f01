"""Token normalization + Jaccard overlap, mirroring the reference dedupe
helpers (``/root/reference/src/cli/commands/doctor/repairs/dedupe.cpp``):

* ``normalize_text_for_tokens`` — dedupe.cpp:60-81: every non-alphanumeric
  byte becomes a space, alphanumerics are lowercased, then tokens are
  re-joined with single spaces (``istream >> token`` semantics: split on
  any whitespace, drop empties).
* ``token_set`` — dedupe.cpp:83-91.
* ``jaccard_overlap`` — dedupe.cpp:93-111 (0.0 when either side is empty).

``std::isalnum``/``std::tolower`` are byte-wise C-locale: only ASCII
[0-9A-Za-z] count as alphanumeric; UTF-8 multibyte sequences become spaces.
"""

from __future__ import annotations

import re

_NORM_TABLE = bytes(
    (b + 0x20 if 0x41 <= b <= 0x5A else b)
    if (0x30 <= b <= 0x39) or (0x41 <= b <= 0x5A) or (0x61 <= b <= 0x7A)
    else 0x20
    for b in range(256)
)


def normalize_text_for_tokens(value: str) -> str:
    """dedupe.cpp:60-81 (operates on the UTF-8 bytes of ``value``)."""
    # Byte-wise translate so multibyte chars map to spaces exactly like the C++.
    raw = value.encode("utf-8", "surrogatepass")
    return b" ".join(raw.translate(_NORM_TABLE).split()).decode("ascii")


def token_set(text: str) -> frozenset[str]:
    """dedupe.cpp:83-91."""
    return frozenset(text.split())


def jaccard_overlap(lhs: str, rhs: str) -> float:
    """dedupe.cpp:93-111 — token Jaccard; 0.0 if either token set is empty."""
    lt = token_set(lhs)
    rt = token_set(rhs)
    if not lt or not rt:
        return 0.0
    intersection = len(lt & rt)
    union = len(lt) + len(rt) - intersection
    if union == 0:
        return 0.0
    return intersection / union


_TOKENIZE_LOWER_RE = re.compile(r"[0-9a-z]+")


def tokenize_lower(text: str) -> list[str]:
    """query_text_utils.cpp:340-362 — maximal ASCII-alnum runs, lowercased."""
    return _TOKENIZE_LOWER_RE.findall(text.lower())


#: BPE-style pre-tokenizer pattern (the GPT-2 pre-tokenization shape,
#: simplified to drop the trailing-whitespace lookahead so it runs
#: identically under Java regex and RE2): contraction suffixes, optional-
#: space letter runs, digit runs, punctuation runs, whitespace runs.
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
