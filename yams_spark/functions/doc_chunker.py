"""Embedding-side document chunking — the 7 reference strategies.

The reference chunks documents before embedding them
(``reference include/yams/vector/document_chunker.h:19-27``, impl
``src/vector/document_chunker.cpp``, 1,460 LoC): FIXED_SIZE,
SENTENCE_BASED, PARAGRAPH_BASED, SEMANTIC, SLIDING_WINDOW, RECURSIVE,
MARKDOWN_AWARE, configured by target/max/min chunk size and overlap
(document_chunker.h:32-49). This module re-implements each strategy from
its standard published definition (NOT a code port): every strategy
produces character **spans** over the original text, so offsets are exact
and ``content == text[start:end]`` by construction — the property tests
pin that invariant.

The Spark operator (``chunk_documents``) is one Arrow-batched mapInPandas
pass — per-document work, narrow, no shuffle; at 100 TB it scales with the
scan. The per-document functions double as the test oracle.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

STRATEGIES = (
    "fixed_size",
    "sentence_based",
    "paragraph_based",
    "semantic",
    "sliding_window",
    "recursive",
    "markdown_aware",
)

_SENTENCE_RE = re.compile(r"[^.!?]*[.!?]+(?:\s+|$)|[^.!?]+$", re.S)
_HEADING_RE = re.compile(r"^#{1,6} .*$", re.M)


@dataclass
class DocChunkingConfig:
    """document_chunker.h:32-49 defaults."""

    strategy: str = "sentence_based"
    target_chunk_size: int = 512  # characters
    max_chunk_size: int = 1024
    min_chunk_size: int = 100
    overlap_size: int = 50
    semantic_threshold: float = 0.5
    separators: tuple[str, ...] = ("\n\n", "\n", ". ", " ", "")


def _spans_fixed(text: str, size: int, step: int) -> list[tuple[int, int]]:
    if not text:
        return []
    step = max(1, step)
    spans = []
    i = 0
    while i < len(text):
        spans.append((i, min(i + size, len(text))))
        if i + size >= len(text):
            break
        i += step
    return spans


def _sentence_spans(text: str) -> list[tuple[int, int]]:
    return [m.span() for m in _SENTENCE_RE.finditer(text) if m.group().strip()]


def _paragraph_spans(text: str) -> list[tuple[int, int]]:
    spans = []
    pos = 0
    for part in text.split("\n\n"):
        if part.strip():
            spans.append((pos, pos + len(part)))
        pos += len(part) + 2
    return spans


def _pack_spans(
    spans: list[tuple[int, int]], target: int, max_size: int
) -> list[tuple[int, int]]:
    """Greedy packing of unit spans into chunks: close a chunk when adding
    the next unit would pass ``target`` (a unit longer than ``max_size``
    still becomes its own chunk — units are never split)."""
    out = []
    cur_start = cur_end = None
    for s, e in spans:
        if cur_start is None:
            cur_start, cur_end = s, e
            continue
        if (e - cur_start) > target and (cur_end - cur_start) > 0:
            out.append((cur_start, cur_end))
            cur_start, cur_end = s, e
        else:
            cur_end = e
    if cur_start is not None:
        out.append((cur_start, cur_end))
    return out


def _spans_recursive(
    text: str, base: int, separators: tuple[str, ...], target: int, max_size: int
) -> list[tuple[int, int]]:
    """LangChain-style recursive splitting: split on the first separator
    that appears; pieces still over ``max_size`` recurse with the next
    separator; then greedy-merge adjacent pieces up to ``target``."""
    if len(text) <= max_size or not separators:
        return [(base, base + len(text))] if text else []
    sep, rest = separators[0], separators[1:]
    if sep == "":
        return [(base + s, base + e) for s, e in _spans_fixed(text, target, target)]
    if sep not in text:
        return _spans_recursive(text, base, rest, target, max_size)
    pieces: list[tuple[int, int]] = []
    pos = 0
    for part in text.split(sep):
        if part:
            if len(part) > max_size:
                pieces.extend(_spans_recursive(part, base + pos, rest, target, max_size))
            else:
                pieces.append((base + pos, base + pos + len(part)))
        pos += len(part) + len(sep)
    return _pack_spans(pieces, target, max_size)


def _spans_markdown(text: str, cfg: DocChunkingConfig) -> list[tuple[int, int]]:
    """Split at markdown headings first (each section keeps its heading),
    then paragraph-pack within each section."""
    cuts = [m.start() for m in _HEADING_RE.finditer(text)]
    if not cuts or cuts[0] != 0:
        cuts = [0] + cuts
    cuts.append(len(text))
    spans = []
    for a, b in zip(cuts, cuts[1:]):
        section = text[a:b]
        if not section.strip():
            continue
        inner = _pack_spans(
            [(a + s, a + e) for s, e in _paragraph_spans(section)],
            cfg.target_chunk_size,
            cfg.max_chunk_size,
        )
        spans.extend(inner)
    return spans


def _spans_semantic(text: str, cfg: DocChunkingConfig) -> list[tuple[int, int]]:
    """Adjacent-sentence grouping by embedding similarity: a sentence joins
    the open chunk while cosine(sentence, chunk centroid) >= threshold and
    the chunk stays under max_chunk_size (the standard semantic-chunking
    recipe, with this repo's deterministic feature-hash embedding)."""
    import numpy as np

    from yams_spark.functions.sketches import feature_hash_embedding

    sents = _sentence_spans(text)
    if not sents:
        return []
    vecs = [
        np.asarray(feature_hash_embedding(text[s:e].split()), dtype=np.float64)
        for s, e in sents
    ]
    out = []
    cur_start, cur_end = sents[0]
    centroid = vecs[0].copy()
    n = 1
    for (s, e), v in zip(sents[1:], vecs[1:]):
        denom = np.linalg.norm(centroid) * np.linalg.norm(v)
        cos = float(centroid @ v / denom) if denom else 0.0
        if cos >= cfg.semantic_threshold and (e - cur_start) <= cfg.max_chunk_size:
            cur_end = e
            centroid = (centroid * n + v) / (n + 1)
            n += 1
        else:
            out.append((cur_start, cur_end))
            cur_start, cur_end = s, e
            centroid = v.copy()
            n = 1
    out.append((cur_start, cur_end))
    return out


def chunk_text(text: str, cfg: DocChunkingConfig | None = None) -> list[dict]:
    """One document -> chunk dicts (content, chunk_index, start_offset,
    end_offset, token_count, strategy); content == text[start:end] always."""
    cfg = cfg or DocChunkingConfig()
    if cfg.strategy == "fixed_size":
        spans = _spans_fixed(text, cfg.target_chunk_size, cfg.target_chunk_size)
    elif cfg.strategy == "sliding_window":
        spans = _spans_fixed(
            text, cfg.target_chunk_size, cfg.target_chunk_size - cfg.overlap_size
        )
    elif cfg.strategy == "sentence_based":
        spans = _pack_spans(
            _sentence_spans(text), cfg.target_chunk_size, cfg.max_chunk_size
        )
    elif cfg.strategy == "paragraph_based":
        spans = _pack_spans(
            _paragraph_spans(text), cfg.target_chunk_size, cfg.max_chunk_size
        )
    elif cfg.strategy == "recursive":
        spans = _spans_recursive(
            text, 0, cfg.separators, cfg.target_chunk_size, cfg.max_chunk_size
        )
    elif cfg.strategy == "markdown_aware":
        spans = _spans_markdown(text, cfg)
    elif cfg.strategy == "semantic":
        spans = _spans_semantic(text, cfg)
    else:
        raise ValueError(f"unknown chunking strategy {cfg.strategy!r}")
    return [
        {
            "content": text[s:e],
            "chunk_index": i,
            "start_offset": s,
            "end_offset": e,
            "token_count": len(text[s:e].split()),
            "strategy": cfg.strategy,
        }
        for i, (s, e) in enumerate(spans)
    ]


CHUNK_SPARK_SCHEMA = (
    "document_hash string, chunk_id string, chunk_index int, "
    "start_offset long, end_offset long, token_count int, "
    "strategy string, content string"
)


def chunk_documents(docs, cfg: DocChunkingConfig | None = None):
    """docs -> one row per chunk (DocumentChunk analog). One Arrow pass,
    narrow; chunk_id = <document_hash>:<index> (unique per document)."""
    import pandas as pd

    cfg = cfg or DocChunkingConfig()

    def compute(iterator):
        for pdf in iterator:
            rows = []
            for did, text in zip(pdf["doc_hash"], pdf["text"]):
                for c in chunk_text(text or "", cfg):
                    rows.append(
                        (
                            did, f"{did}:{c['chunk_index']}", c["chunk_index"],
                            c["start_offset"], c["end_offset"], c["token_count"],
                            c["strategy"], c["content"],
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "document_hash", "chunk_id", "chunk_index", "start_offset",
                        "end_offset", "token_count", "strategy", "content",
                    ],
                )

    return docs.select("doc_hash", "text").mapInPandas(compute, schema=CHUNK_SPARK_SCHEMA)
