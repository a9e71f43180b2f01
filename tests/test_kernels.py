"""Unit tests for textnorm / similarity / sketch kernels vs hand-computed
goldens (reference semantics cited per function)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from yams_spark.functions import sketches, similarity, textnorm


def _minhash(tokens: list[str]) -> np.ndarray:
    """The signatures stage's MinHash over ``tokens``' 5-gram shingles."""
    th = sketches.hash_tokens(tokens)
    return sketches.minhash_signature_from_hashes(
        sketches.kgram_hashes(th, sketches.SHINGLE_SIZE))


def _simhash(tokens: list[str]) -> int:
    """SimHash over the token multiset, through the stage's kernel."""
    vals, counts = np.unique(sketches.hash_tokens(tokens), return_counts=True)
    return sketches.simhash64_from_hashes(vals, counts)


# --- textnorm (dedupe.cpp:60-111) ---

def test_normalize_text_for_tokens() -> None:
    assert textnorm.normalize_text_for_tokens("Hello, World!") == "hello world"
    assert textnorm.normalize_text_for_tokens("a-b_c.d") == "a b c d"
    assert textnorm.normalize_text_for_tokens("  many   spaces  ") == "many spaces"
    assert textnorm.normalize_text_for_tokens("") == ""
    assert textnorm.normalize_text_for_tokens("123abcXYZ") == "123abcxyz"
    # multibyte chars -> spaces (C-locale isalnum is ASCII-only)
    assert textnorm.normalize_text_for_tokens("café bar") == "caf bar"


def test_jaccard_overlap() -> None:
    assert textnorm.jaccard_overlap("a b c", "b c d") == pytest.approx(2 / 4)
    assert textnorm.jaccard_overlap("", "a") == 0.0
    assert textnorm.jaccard_overlap("a", "") == 0.0
    assert textnorm.jaccard_overlap("x y", "x y") == 1.0
    # duplicates collapse (token *set*)
    assert textnorm.jaccard_overlap("a a b", "a b") == 1.0


# --- similarity ---

def test_cosine_reference_semantics() -> None:
    assert similarity.cosine_similarity([1, 0], [1, 0]) == 1.0
    assert similarity.cosine_similarity([1, 0], [0, 1]) == 0.0
    # dim mismatch -> 0.0 (vector_database.cpp:1788-1790)
    assert similarity.cosine_similarity([1, 0], [1, 0, 0]) == 0.0
    # zero norm -> 0.0 (:1806-1808)
    assert similarity.cosine_similarity([0, 0], [1, 0]) == 0.0


def test_cosine_matrix_matches_scalar() -> None:
    rng = np.random.default_rng(5)
    left = rng.normal(size=(20, 16)).astype(np.float32)
    right = rng.normal(size=(20, 16)).astype(np.float32)
    mat = similarity.cosine_matrix(left, right)
    for i in range(20):
        assert mat[i] == pytest.approx(similarity.cosine_similarity(left[i], right[i]), abs=1e-12)


def test_levenshtein() -> None:
    assert similarity.levenshtein("kitten", "sitting") == 3
    assert similarity.levenshtein("", "abc") == 3
    assert similarity.levenshtein("abc", "abc") == 0
    assert similarity.levenshtein("flaw", "lawn") == 2


def test_jaro_winkler() -> None:
    assert similarity.jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert similarity.jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-4)
    assert similarity.jaro_winkler("abc", "abc") == 1.0
    assert similarity.jaro_winkler("", "x") == 0.0


# --- sketches ---

def test_minhash_identical_docs_match() -> None:
    toks = "the quick brown fox jumps over the lazy dog again and again".split()
    s1 = _minhash(toks)
    s2 = _minhash(list(toks))
    assert np.array_equal(s1, s2)
    assert len(s1) == sketches.NUM_PERM


def test_minhash_similarity_tracks_jaccard() -> None:
    rng = np.random.default_rng(0)
    base = [f"tok{i}" for i in range(300)]
    variant = base[:270] + [f"new{i}" for i in range(30)]  # ~82% shingle overlap
    s_base = _minhash(base)
    s_var = _minhash(variant)
    s_rand = _minhash([f"other{i}" for i in range(300)])
    sim_near = (s_base == s_var).mean()
    sim_far = (s_base == s_rand).mean()
    assert sim_near > 0.5
    assert sim_far < 0.1


def test_minhash_band_keys() -> None:
    toks = "a b c d e f g h".split()
    keys = sketches.minhash_band_keys(_minhash(toks))
    assert len(keys) == sketches.MINHASH_BANDS
    assert len(set(keys)) == sketches.MINHASH_BANDS  # band index prefix differs
    assert keys[0].startswith("mh0:")


def test_simhash_properties() -> None:
    a = _simhash("the quick brown fox".split() * 5)
    b = _simhash("the quick brown fox".split() * 5)
    assert a == b
    assert -(2**63) <= a < 2**63
    near = _simhash(("the quick brown fox".split() * 5) + ["extra"])
    far = _simhash("completely different words here now".split() * 5)
    def hamming(x: int, y: int) -> int:
        return bin((x ^ y) & (2**64 - 1)).count("1")

    assert hamming(a, near) < hamming(a, far)


def test_embedding_deterministic_normalized() -> None:
    toks = "spark entity resolution pipeline".split()
    e1 = sketches.feature_hash_embedding(toks)
    e2 = sketches.feature_hash_embedding(toks)
    assert np.array_equal(e1, e2)
    assert e1.dtype == np.float32
    assert len(e1) == sketches.EMBEDDING_DIM
    assert np.linalg.norm(e1.astype(np.float64)) == pytest.approx(1.0, abs=1e-6)
    assert np.all(sketches.feature_hash_embedding([]) == 0)


def test_embedding_cosine_separates_near_from_far() -> None:
    base = [f"w{i}" for i in range(120)]
    near = base[:114] + ["x1", "x2", "x3", "x4", "x5", "x6"]
    far = [f"z{i}" for i in range(120)]
    c_near = similarity.cosine_similarity(
        sketches.feature_hash_embedding(base), sketches.feature_hash_embedding(near)
    )
    c_far = similarity.cosine_similarity(
        sketches.feature_hash_embedding(base), sketches.feature_hash_embedding(far)
    )
    assert c_near > 0.92
    assert c_far < 0.5


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=60))
def test_normalize_idempotent(s: str) -> None:
    once = textnorm.normalize_text_for_tokens(s)
    assert textnorm.normalize_text_for_tokens(once) == once
