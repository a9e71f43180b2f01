"""Signature stage: per-page deterministic features + blocking keys.

One pass over the pages table computes everything downstream stages need
(mirrors the reference ingest pipeline's extract→hash→chunk→embed stages,
``content_store_impl.cpp:162-380`` + ``EmbeddingService.cpp``):

* ``doc_hash``  = sha256(html)  — document identity (content_store_impl.cpp:199-204)
* ``text_hash`` = sha256(extracted text)
* ``title`` / ``title_norm`` / ``url_norm`` — normalizeTextForTokens
  (dedupe.cpp:60-81) of extracted title and url (stand-ins for the
  reference's fileName/filePath, dedupe.cpp:127-128)
* ``chunk_hashes`` — Rabin CDC chunk hashes of the raw html bytes with a
  page-scaled config (blocking family 'chunk')
* ``minhash_bands`` — 32 LSH band keys from 128 minhashes over 5-gram
  shingles of normalized text (family 'minhash')
* ``simhash64`` + ``simhash_bands`` — 4×16-bit bands (family 'simhash')
* ``embedding`` — deterministic feature-hash embedding over 3-gram
  shingles of normalized text (dim 384, L2-normalized, float32)

The same ``compute_signature_row`` feeds the pure-Python oracle, so the
pipeline and the correctness oracle share one embedding/sketch definition
by construction.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from yams_spark.functions import sketches, textnorm
from yams_spark.functions.chunker import PAGE_CHUNKING, ChunkingConfig, chunk_data
from yams_spark.functions.html_extract import extract_text_from_html, extract_title

EMBED_SHINGLE = 3  # embedding features = 3-gram word shingles
TITLE_KEY_TOKENS = 10  # blocking family 'title': sorted title token set (capped)

#: blocking-key contract shared by the Spark ``blocks_stage`` and the
#: pure-Python oracle (single source of truth — CLAUDE.md invariant):
#: family -> (signature column, key prefix, is_array). SimHash 16-bit bands
#: are OFF in the defaults (measured 78% junk pairs at 200k docs; see
#: operators/blocking.py), but the family definition lives here so both
#: paths stay in lock-step when it's enabled.
BLOCKING_FAMILY_SPEC: dict[str, tuple[str, str, bool]] = {
    "exact": ("text_hash", "tx:", False),
    "chunk": ("chunk_hashes", "ck:", True),
    "minhash": ("minhash_bands", "", True),
    "simhash": ("simhash_bands", "", True),
    "title": ("title_key", "", False),
}
DEFAULT_BLOCKING_FAMILIES = ("exact", "chunk", "minhash", "title")


def blocking_keys_from_signature(
    sig: dict, families: tuple[str, ...] = DEFAULT_BLOCKING_FAMILIES
) -> list[tuple[str, str]]:
    """(family, key) list for one signature row — the oracle-side consumer
    of ``BLOCKING_FAMILY_SPEC`` (the Spark side is
    ``operators.blocking.blocks_stage``, built from the same spec)."""
    keys: list[tuple[str, str]] = []
    for fam in families:
        col, prefix, is_array = BLOCKING_FAMILY_SPEC[fam]
        v = sig[col]
        if v is None:
            continue
        if is_array:
            keys.extend((fam, prefix + k) for k in v)
        else:
            keys.append((fam, prefix + v))
    return keys


def title_block_key(title_norm: str) -> str | None:
    """Exact normalized-title-set blocking key: the whole sorted token set
    (order-invariant, so title token swaps still collide); capped to bound
    key size. A prefix-only key over-collides badly on small vocabularies."""
    toks = sorted(set(title_norm.split()))[:TITLE_KEY_TOKENS]
    if not toks:
        return None
    return "ti:" + "|".join(toks)


def compute_signature_row(
    url: str,
    html: bytes,
    text: str | None = None,
    chunk_cfg: ChunkingConfig = PAGE_CHUNKING,
) -> dict:
    """All signature columns for one page (shared by pipeline + oracle)."""
    if text is None:
        text = extract_text_from_html(html).decode("utf-8", "replace")
    title = extract_title(html).decode("utf-8", "replace")
    title_norm = textnorm.normalize_text_for_tokens(title)
    url_norm = textnorm.normalize_text_for_tokens(url)
    text_norm = textnorm.normalize_text_for_tokens(text)
    tokens = text_norm.split()

    th = sketches.hash_tokens(tokens)  # hash each token once
    minhash_sig = sketches.minhash_signature_from_hashes(
        sketches.kgram_hashes(th, sketches.SHINGLE_SIZE)
    )
    g3_vals, g3_counts = np.unique(
        sketches.kgram_hashes(th, EMBED_SHINGLE), return_counts=True
    )
    emb = sketches.feature_hash_embedding_from_hashes(g3_vals, g3_counts)
    sim = sketches.simhash64_from_hashes(g3_vals, g3_counts)

    return {
        "url": url,
        "size": len(html),  # fileSize analog (keep-largest strategy)
        "doc_hash": hashlib.sha256(html).hexdigest(),
        "text_hash": hashlib.sha256(text.encode("utf-8", "replace")).hexdigest(),
        "extracted_text": text,
        "title": title,
        "title_norm": title_norm,
        "url_norm": url_norm,
        "chunk_hashes": [h for _, _, h in chunk_data(html, chunk_cfg)],
        "minhash_bands": sketches.minhash_band_keys(minhash_sig),
        "simhash64": sim,
        "simhash_bands": sketches.simhash_band_keys(sim),
        "title_key": title_block_key(title_norm),
        "embedding": emb,
    }


SIGNATURE_SPARK_SCHEMA = (
    "url string, warc_ts timestamp, lang string, size long, doc_hash string, "
    "text_hash string, extracted_text string, title string, "
    "title_norm string, url_norm string, chunk_hashes array<string>, "
    "minhash_bands array<string>, simhash64 long, "
    "simhash_bands array<string>, title_key string, embedding array<float>"
)


def signatures_stage(pages_df, chunk_cfg: ChunkingConfig = PAGE_CHUNKING):
    """pages (url, warc_ts, html, text, lang) -> signatures DataFrame.

    One mapInPandas pass (Arrow-batched, no per-row Python UDF calls from
    the JVM); narrow — no shuffle. Embeddings are the deterministic
    feature-hash stand-in the correctness oracles share; vectors from a
    real model come in through ``run_pipeline(precomputed_embeddings=)``.
    """

    def compute(iterator):
        for pdf in iterator:
            rows = []
            for r in pdf.itertuples(index=False):
                sig = compute_signature_row(r.url, bytes(r.html), r.text, chunk_cfg)
                sig["warc_ts"] = r.warc_ts
                sig["lang"] = r.lang
                rows.append(sig)
            if rows:
                out = pd.DataFrame(rows)
                yield out[
                    [
                        "url", "warc_ts", "lang", "size", "doc_hash",
                        "text_hash", "extracted_text", "title", "title_norm",
                        "url_norm", "chunk_hashes", "minhash_bands",
                        "simhash64", "simhash_bands", "title_key", "embedding",
                    ]
                ]

    return pages_df.mapInPandas(compute, schema=SIGNATURE_SPARK_SCHEMA)
