"""Deterministic signature sketches used as blocking keys and pair features.

These recast the reference's content-addressed dedup machinery (chunk-hash
identity, ``content_store_impl.cpp:199-204``) plus its vector similarity
stage (``EmbeddingService.cpp:555-610``) into Spark-friendly fixed-seed
sketches:

* MinHash (128 permutations over 5-gram shingles) banded into LSH keys,
* SimHash-64 over 3-gram shingles (+ Hamming distance as a pair feature),
* a deterministic feature-hash embedding (dim 384, L2-normalized) standing
  in for the all-MiniLM-L6-v2 model the reference seeds
  (``src/metadata/migration.cpp:1117-1143``): we need a deterministic
  embedding *function* shared by the pipeline and the oracle, not a real
  model — the F1 target is defined on the reference's pair gates re-run
  with the same embeddings.

Hot-path design: each token is hashed once (BLAKE2b-64, cached); k-gram
shingle hashes are derived from the token-hash array with an
order-sensitive polynomial mix in vectorized uint64 arithmetic — no
per-shingle string building, ~2x fewer hash calls, much lower memory
traffic (this is what the Arrow-batched UDFs spend their time in).
"""

from __future__ import annotations

import hashlib

import numpy as np

NUM_PERM = 128
MINHASH_BANDS = 32
MINHASH_ROWS = 4  # 32 bands x 4 rows = 128
SHINGLE_SIZE = 5
EMBEDDING_DIM = 384
_SEED = 0x5EED_CAFE_F00D
_U64 = np.uint64
_MASK64 = 0xFFFFFFFFFFFFFFFF

# odd mixing constant (splitmix64 increment) for order-sensitive k-gram mix
_MIX_C = 0x9E3779B97F4A7C15

# Fixed-seed affine permutations on Z/2^64: x -> a*x + b with a odd is a
# bijection, so min over a shingle set is a proper MinHash permutation and
# the whole signature vectorizes as native uint64 wraparound arithmetic.
_rng = np.random.default_rng(_SEED)
_PERM_A = _rng.integers(0, 1 << 63, size=NUM_PERM, dtype=_U64) * _U64(2) + _U64(1)
_PERM_B = _rng.integers(0, 1 << 63, size=NUM_PERM, dtype=_U64)

_HASH_CACHE: dict[str, int] = {}

_EMPTY_U64 = np.empty(0, dtype=_U64)


def token_hash64(token: str) -> int:
    """Deterministic 64-bit hash of a token (BLAKE2b-8, cached)."""
    h = _HASH_CACHE.get(token)
    if h is None:
        h = int.from_bytes(
            hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "little"
        )
        if len(_HASH_CACHE) < 1_000_000:
            _HASH_CACHE[token] = h
    return h


def hash_tokens(tokens: list[str]) -> np.ndarray:
    if not tokens:
        return _EMPTY_U64
    return np.fromiter(map(token_hash64, tokens), dtype=_U64, count=len(tokens))


# powers of the mix constant (mod 2^64), precomputed up to SHINGLE_SIZE
_POW_C = np.empty(SHINGLE_SIZE + 1, dtype=_U64)
_POW_C[0] = 1
for _i in range(1, SHINGLE_SIZE + 1):
    _POW_C[_i] = _U64((int(_POW_C[_i - 1]) * _MIX_C) & _MASK64)


def kgram_hashes(th: np.ndarray, k: int) -> np.ndarray:
    """Order-sensitive k-gram shingle hashes from a token-hash array:
    S_i = sum_j th[i+j] * C^(k-1-j) (mod 2^64), fully vectorized.
    Fewer than k tokens -> one combined hash of all tokens (same fallback
    as whole-doc shingling); empty -> empty."""
    n = len(th)
    if n == 0:
        return _EMPTY_U64
    if n < k:
        # uint64 wraparound is intentional here; scope the overflow warning
        # out so real overflow bugs elsewhere stay visible
        with np.errstate(over="ignore"):
            acc = _U64(0)
            for j in range(n):
                acc = (acc * _POW_C[1]) + th[j]
        return np.array([acc], dtype=_U64)
    m = n - k + 1
    out = np.zeros(m, dtype=_U64)
    for j in range(k):
        out += th[j : j + m] * _POW_C[k - 1 - j]
    return out


def minhash_signature_from_hashes(sh: np.ndarray) -> np.ndarray:
    """128 fixed-seed min-hashes over a shingle-hash array (uint64)."""
    if len(sh) == 0:
        return np.full(NUM_PERM, _MASK64, dtype=_U64)
    x = np.unique(sh)
    permuted = x[:, None] * _PERM_A[None, :] + _PERM_B[None, :]
    return permuted.min(axis=0)


def minhash_band_keys(sig: np.ndarray) -> list[str]:
    """LSH band keys: hash of each 4-row band, prefixed by band index."""
    raw = sig.tobytes()
    bw = MINHASH_ROWS * 8
    return [
        f"mh{band}:{hashlib.blake2b(raw[band * bw : (band + 1) * bw], digest_size=8).hexdigest()}"
        for band in range(MINHASH_BANDS)
    ]


def simhash64_from_hashes(vals: np.ndarray, counts: np.ndarray) -> int:
    """64-bit SimHash over a hashed multiset (signed, fits LongType)."""
    if len(vals) == 0:
        return 0
    bits = np.unpackbits(
        vals.view(np.uint8).reshape(len(vals), 8), axis=1, bitorder="little"
    )
    acc = (bits.astype(np.int64) * 2 - 1) * counts.astype(np.int64)[:, None]
    sums = acc.sum(axis=0)
    out = 0
    for bit in range(64):
        if sums[bit] >= 0:
            out |= 1 << bit
    if out >= 1 << 63:
        out -= 1 << 64
    return out


def simhash_band_keys(sim: int, bands: int = 4) -> list[str]:
    """Split the 64-bit simhash into 16-bit bands as blocking keys."""
    u = sim & _MASK64
    width = 64 // bands
    mask = (1 << width) - 1
    return [f"sh{i}:{(u >> (i * width)) & mask:04x}" for i in range(bands)]


def feature_hash_embedding_from_hashes(
    vals: np.ndarray, counts: np.ndarray, dim: int = EMBEDDING_DIM
) -> np.ndarray:
    """Deterministic L2-normalized feature-hash embedding (float32)."""
    vec = np.zeros(dim, dtype=np.float64)
    if len(vals):
        idx = (vals % _U64(dim)).astype(np.int64)
        sign = np.where((vals >> _U64(60)) & _U64(1) == 1, -1.0, 1.0)
        np.add.at(vec, idx, sign * counts.astype(np.float64))
        norm = np.sqrt(np.dot(vec, vec))
        if norm > 0:
            vec /= norm
    return vec.astype(np.float32)


def feature_hash_embedding(tokens: list[str], dim: int = EMBEDDING_DIM) -> np.ndarray:
    if not tokens:
        return np.zeros(dim, dtype=np.float32)
    vals, counts = np.unique(hash_tokens(tokens), return_counts=True)
    return feature_hash_embedding_from_hashes(vals, counts, dim)
