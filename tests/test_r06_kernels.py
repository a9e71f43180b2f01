"""Focused equivalence tests for the round-6 kernel rewrites.

Each optimization that changed an operator's internals this round gets a
direct committed check against an independent reference implementation:

* url Levenshtein — the score stage uses Spark's built-in ``levenshtein``;
  it must equal the scalar ``similarity.levenshtein`` (code-point edit
  distance), multi-byte UTF-8 included.
* ``cosine_matrix`` — einsum(dtype=float64) accumulation vs the old
  explicit-float64-copy path it replaced (claimed bit-equal; the scalar
  ``cosine_similarity`` now delegates to the matrix kernel, so the older
  matrix-vs-scalar test no longer pins this on its own).
* ``rolling_hash_sequence`` — the in-place shifted-view 8-step simulation
  vs the byte-at-a-time scalar recurrence (chunk_boundaries_sequential's
  inner loop), including window-crossing sizes and a window smaller than
  the 8 simulated steps.
* ``kgram_hashes`` scalar (n<k) path — intentional uint64 wraparound must
  not emit RuntimeWarning (errstate fix) and must equal exact int math.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from yams_spark.functions import chunker as ck
from yams_spark.functions import similarity
from yams_spark.functions.sketches import kgram_hashes


# ---------------------------------------------------------------- levenshtein

def _lev_cases() -> list[tuple[str, str]]:
    rng = random.Random(1234)
    alpha = "ab/.:-xyz"
    cases = [
        ("", ""), ("", "abc"), ("abc", ""), ("abc", "abc"),
        ("kitten", "sitting"), ("flaw", "lawn"),
        # shared prefix only / suffix only / both
        ("http://a.com/x", "http://a.com/y"),
        ("prefix-mid-suffix", "prefix-suffix"),          # pure deletion / insertion
        ("prefix-suffix", "prefix-mid-suffix"),
        ("same-everything", "same-everything"),
        ("aaaa", "aaa"),                                 # overlap of prefix and suffix runs
        ("aaa", "aaaa"),
        ("abab", "bab"), ("xaax", "xax"),
        ("é-fin", "è-fin"), ("ü", "u"),                  # multi-byte UTF-8: one code point each
        ("https://é.com/ü", "https://e.com/u"),
        ("a", "b"), ("a", "a"), ("ab", "ba"),
    ]
    for _ in range(300):
        p = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        s = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        ma = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 8)))
        mb = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 8)))
        cases.append((p + ma + s, p + mb + s))
    for _ in range(100):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 20)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 20)))
        cases.append((a, b))
    return cases


def test_spark_levenshtein_matches_scalar(spark) -> None:
    from pyspark.sql import functions as F

    cases = _lev_cases()
    df = spark.createDataFrame(cases, "a string, b string")
    got = [r[0] for r in df.select(F.levenshtein("a", "b")).collect()]
    assert got == [similarity.levenshtein(a, b) for a, b in cases]


# --------------------------------------------------------------------- cosine

def _cosine_matrix_astype_reference(left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """The pre-round-6 path: materialize float64 copies, then einsum."""
    l64 = left.astype(np.float64)
    r64 = right.astype(np.float64)
    dots = np.einsum("ij,ij->i", l64, r64)
    na = np.sqrt(np.einsum("ij,ij->i", l64, l64))
    nb = np.sqrt(np.einsum("ij,ij->i", r64, r64))
    denom = na * nb
    out = np.zeros(len(left), dtype=np.float64)
    nz = denom != 0.0
    out[nz] = dots[nz] / denom[nz]
    return out.astype(np.float32).astype(np.float64)


@pytest.mark.parametrize("n,d,seed", [(1, 1, 0), (7, 3, 1), (64, 384, 2), (1000, 384, 3)])
def test_cosine_matrix_einsum_bit_equals_astype_path(n: int, d: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    left = rng.normal(size=(n, d)).astype(np.float32)
    right = rng.normal(size=(n, d)).astype(np.float32)
    # adversarial rows: zeros, denormals, huge/tiny magnitude mixes, equal rows
    left[0] = 0.0
    if n >= 4:
        right[1] = 0.0
        left[2] = np.float32(1e-42)  # subnormal float32
        right[2] = np.float32(1e-42)
        left[3] *= np.float32(1e30)
        right[3] *= np.float32(1e-30)
        right[n - 1] = left[n - 1]
    got = similarity.cosine_matrix(left, right)
    ref = _cosine_matrix_astype_reference(left, right)
    assert np.array_equal(got, ref)


def test_cosine_matrix_float64_passthrough() -> None:
    rng = np.random.default_rng(9)
    left = rng.normal(size=(16, 8))
    right = rng.normal(size=(16, 8))
    got = similarity.cosine_matrix(left, right)
    ref = _cosine_matrix_astype_reference(left, right)
    assert np.array_equal(got, ref)


# --------------------------------------------------------------- rolling hash

def _rolling_hash_scalar(data: bytes, cfg: ck.ChunkingConfig) -> list[int]:
    """Byte-at-a-time recurrence, identical to chunk_boundaries_sequential's
    inner loop (chunker.py:173-188), window zero-initialized."""
    out_table = ck.make_out_table(cfg.polynomial)
    mask64 = 0xFFFFFFFFFFFFFFFF
    ring = [0] * cfg.window_size
    ring_pos = 0
    h = 0
    out = []
    for new in data:
        old = ring[ring_pos]
        ring[ring_pos] = new
        ring_pos = (ring_pos + 1) % cfg.window_size
        h = (((h - int(out_table[old])) & mask64) << 8) & mask64
        h ^= int(out_table[new])
        out.append(h)
    return out


@pytest.mark.parametrize("window", [4, 8, 48])
def test_rolling_hash_sequence_matches_scalar(window: int) -> None:
    cfg = ck.ChunkingConfig(
        min_chunk_size=16, target_chunk_size=64, max_chunk_size=256,
        chunk_mask=0x3F, window_size=window,
    )
    rng = random.Random(window)
    # sizes straddling the window and the 8-step simulation horizon
    for size in (0, 1, 7, 8, 9, window - 1, window, window + 1, 100, 1000):
        data = bytes(rng.randrange(256) for _ in range(size))
        got = ck.rolling_hash_sequence(data, cfg)
        assert got.dtype == np.uint64
        assert [int(x) for x in got] == _rolling_hash_scalar(data, cfg)


def test_rolling_hash_sequence_page_and_default_configs() -> None:
    rng = random.Random(5)
    data = bytes(rng.randrange(256) for _ in range(5000))
    for cfg in (ck.PAGE_CHUNKING, ck.ChunkingConfig()):
        got = ck.rolling_hash_sequence(data, cfg)
        assert [int(x) for x in got] == _rolling_hash_scalar(data, cfg)


# -------------------------------------------------------------- kgram errstate

def test_kgram_scalar_path_no_runtime_warning_and_exact() -> None:
    th = np.array([2**63 + 11, 2**64 - 3, 2**62 + 7], dtype=np.uint64)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = kgram_hashes(th, k=5)  # n < k -> scalar wraparound fold
    # exact integer reference of the same fold, mod 2^64; the mix constant
    # comes from the public fold itself: [1, 0] folds to 1 * c + 0
    c = int(kgram_hashes(np.array([1, 0], dtype=np.uint64), k=5)[0])
    acc = 0
    for t in th:
        acc = ((acc * c) + int(t)) & 0xFFFFFFFFFFFFFFFF
    assert got.tolist() == [acc]
