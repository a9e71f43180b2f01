"""Pairwise similarity kernels.

* ``cosine_similarity`` — exact port of
  ``/root/reference/src/vector/vector_database.cpp:1786-1810``: double
  accumulation over float32 inputs, 0.0 on length mismatch or zero norm.
* ``cosine_matrix`` — the same math vectorized over a batch (float64
  accumulation, fixed operand order ⇒ bit-stable across partitions).
* ``levenshtein`` / ``jaro_winkler`` — standard definitions (additions
  required by the north star; the reference has SymSpell edit distance,
  src/search/symspell_search.cpp:25-29, which bounds distance ≤2 — our
  full DP is a superset used for pair features).
"""

from __future__ import annotations

import numpy as np


def cosine_similarity(a, b) -> float:
    """vector_database.cpp:1786-1810, double accumulation.

    Delegates to ``cosine_matrix`` with a 1-row batch so the scalar and the
    batched pipeline path share one summation order (einsum is per-row
    batch-size-invariant) — pair scores are bit-identical either way.
    """
    a = np.asarray(a, dtype=np.float32)
    b = np.asarray(b, dtype=np.float32)
    if a.size != b.size:
        return 0.0
    return float(cosine_matrix(a.reshape(1, -1), b.reshape(1, -1))[0])


def cosine_matrix(left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """Row-wise cosine between two (n, d) float32 batches, float64 math.

    The result is truncated through float32 before being returned: the
    reference trace's cosineSimilarity returns ``float``
    (static_cast<float> in dedupe.cpp) before the 0.92/0.975 gates, so the
    near-gate accept/reject decisions here match the C++ bit-for-bit.
    Both the Spark scoring stage and the pure-Python oracle go through this
    one kernel, so pipeline/oracle parity is preserved by construction.
    """
    # dtype=float64 makes einsum upcast per cache-sized block instead of
    # materializing full float64 copies of both operands first — bit-equal
    # to the astype path (fuzz + 100k real-embedding pairs verified) and
    # ~12x faster on float32 input; float64 input passes through unchanged.
    dots = np.einsum("ij,ij->i", left, right, dtype=np.float64)
    na = np.sqrt(np.einsum("ij,ij->i", left, left, dtype=np.float64))
    nb = np.sqrt(np.einsum("ij,ij->i", right, right, dtype=np.float64))
    denom = na * nb
    out = np.zeros(len(left), dtype=np.float64)
    nz = denom != 0.0
    out[nz] = dots[nz] / denom[nz]
    return out.astype(np.float32).astype(np.float64)


def levenshtein(a: str, b: str) -> int:
    """Classic DP edit distance (two-row)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    if len(a) > len(b):
        a, b = b, a
    prev = list(range(len(a) + 1))
    for j, cb in enumerate(b, start=1):
        cur = [j] + [0] * len(a)
        for i, ca in enumerate(a, start=1):
            cost = 0 if ca == cb else 1
            cur[i] = min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + cost)
        prev = cur
    return prev[-1]


def jaro(a: str, b: str) -> float:
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    match_window = max(la, lb) // 2 - 1
    if match_window < 0:
        match_window = 0
    a_flags = [False] * la
    b_flags = [False] * lb
    matches = 0
    for i in range(la):
        lo = max(0, i - match_window)
        hi = min(lb, i + match_window + 1)
        for j in range(lo, hi):
            if not b_flags[j] and a[i] == b[j]:
                a_flags[i] = b_flags[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(la):
        if a_flags[i]:
            while not b_flags[j]:
                j += 1
            if a[i] != b[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    m = matches
    return (m / la + m / lb + (m - transpositions) / m) / 3.0


def jaro_winkler(a: str, b: str) -> float:
    # Winkler's standard prefix scale 0.1 over at most 4 prefix characters
    base = jaro(a, b)
    prefix = 0
    for ca, cb in zip(a, b):
        if ca != cb or prefix >= 4:
            break
        prefix += 1
    return base + prefix * 0.1 * (1.0 - base)
