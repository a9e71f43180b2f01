"""Deterministic synthetic Common-Crawl-style pages table.

The ER pipeline consumes the fixed-shape table from BASELINE.json's
input_hint: ``(url string, warc_ts timestamp, html binary, text string,
lang string)``. This module derives that table deterministically from the
driver-provided ``documents`` parquet (seeded per family), emitting
duplicate families with known ground-truth labels:

  (a) exact byte duplicates at different urls (url mirrors),
  (b) same extracted text, different boilerplate (script/style/nav churn),
  (c) near-duplicates (small contiguous word edits, title token swaps,
      entity re-encoding),
  (d) unrelated singletons.

``text`` is filled by running the byte-faithful extractor over ``html``
(the pipeline must reproduce it byte-identically per url). Ground truth
lives in a separate ``truth`` table (url, family_id) so the pipeline input
has exactly the 5 required columns.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from yams_spark.functions.html_extract import extract_text_from_html

_BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)

_STYLE_CHURN = [
    b"body{margin:0}", b".nav{color:#333}", b"p{line-height:1.%d}",
    b"h1{font-size:2em}", b"a:hover{text-decoration:underline}",
]
_NAV_WORDS = ["home", "about", "products", "blog", "contact", "careers", "press"]


def _sentences(words: list[str], per: int = 8) -> list[str]:
    return [" ".join(words[i : i + per]) for i in range(0, len(words), per)]


def _encode_amp(rng: np.random.Generator, s: str) -> str:
    """Deterministically re-encode a few chars as entities (same decoded text)."""
    mode = rng.integers(0, 3)
    if mode == 1:
        return s.replace("a", "&#97;", 1)
    if mode == 2:
        return s.replace("e", "&#x65;", 1)
    return s


def _render_html(
    title_words: list[str],
    body_words: list[str],
    nav_seed: int,
    churn_seed: int,
) -> bytes:
    title = " ".join(title_words)
    # nav items contribute to the extracted text -> keyed per family so
    # boilerplate/near variants share them; style/script/comment churn is
    # per-variant (removed by extraction, so it only perturbs the bytes).
    nrng = np.random.default_rng(nav_seed)
    nav_items = "".join(
        f"<li><a href='/{w}'>{w}</a></li>"
        for w in nrng.permutation(_NAV_WORDS)[: int(nrng.integers(3, 6))]
    )
    crng = np.random.default_rng(churn_seed)
    style = _STYLE_CHURN[int(crng.integers(0, len(_STYLE_CHURN)))]
    if b"%d" in style:
        style = style % int(crng.integers(1, 9))
    script_var = int(crng.integers(0, 1 << 30))
    comment = f"<!-- build {int(crng.integers(0, 1 << 20))} -->"
    paras = "".join(
        f"<p>{_encode_amp(crng, s)}</p>" for s in _sentences(body_words)
    )
    html = (
        f"<html><head><title>{title}</title>"
        f"<meta name=\"description\" content=\"{' '.join(body_words[:10])}\">"
        f"<style>{style.decode()}</style></head>"
        f"<body>{comment}<nav><ul>{nav_items}</ul></nav>"
        f"<h1>{title}</h1>{paras}"
        f"<script>var build={script_var};</script></body></html>"
    )
    return html.encode("utf-8")


def generate_family(
    family_id: int, base_text: str, lang: str, seed: int = 42
) -> list[dict]:
    """All page rows of one duplicate family, fully deterministic."""
    rng = np.random.default_rng(family_id * 1_000_003 + seed)
    raw_words = base_text.split()
    if len(raw_words) < 8:
        raw_words = (raw_words * 4)[:8] if raw_words else ["empty", "page"] * 4
    # weave family-unique slug tokens through the body (every 8th word):
    # source texts draw from a tiny shared vocabulary, so without salting
    # distinct families would collide at cosine ≥ 0.92. Real web pages have
    # heavy-tailed vocab; the slugs restore that separation while staying
    # identical across a family's variants.
    words: list[str] = []
    for i, w in enumerate(raw_words):
        if i % 8 == 0:
            words.append(f"f{family_id}s{i // 8}")
        words.append(w)
    title_words = raw_words[:5] + [f"d{family_id}"]
    site = int(rng.integers(0, 97))
    base_url = f"https://site{site}.example/{lang}/doc{family_id}"

    # family size: mostly singletons, up to 6 variants
    u = rng.random()
    if u < 0.40:
        n = 1
    elif u < 0.60:
        n = 2
    elif u < 0.75:
        n = 3
    elif u < 0.85:
        n = 4
    elif u < 0.95:
        n = 5
    else:
        n = 6

    rows: list[dict] = []

    def add(url: str, html: bytes, ts_off: int) -> None:
        text = extract_text_from_html(html).decode("utf-8", "replace")
        rows.append(
            {
                "url": url,
                "warc_ts": _BASE_TS + timedelta(seconds=int(family_id) % 86400, minutes=ts_off),
                "html": html,
                "text": text,
                "lang": lang,
                "family_id": family_id,
            }
        )

    nav_seed = int(rng.integers(0, 1 << 40))
    base_churn = int(rng.integers(0, 1 << 40))
    base_html = _render_html(title_words, words, nav_seed, base_churn)
    add(base_url, base_html, 0)

    for v in range(1, n):
        kind = ["exact", "boiler", "near"][int(rng.integers(0, 3))]
        if kind == "near" and len(words) < 24:
            kind = "boiler"  # short docs: text edits would break the 0.92 gate
        if kind == "exact":
            # identical bytes at a mirror url
            mirror = (
                base_url.replace("https://", "https://www.")
                if v % 2 == 0
                else base_url + "?utm_source=mirror"
            )
            add(mirror + f"&v={v}" if "?" in mirror else mirror + f"/v{v}", base_html, v)
        elif kind == "boiler":
            # same extracted text, different script/style/nav churn... except
            # nav items ARE text. Keep nav fixed to the base churn seed for
            # text identity: re-render with same churn for text-affecting
            # parts but different script/comment. Simplest: same seed, then
            # patch the script var (script bodies are removed by extraction).
            html = base_html.replace(
                b"<script>var build=", b"<script>var build=9", 1
            ).replace(b"<!-- build ", b"<!-- rebuild ", 1)
            add(base_url + f"/alt{v}", html, v)
        else:  # near: 1-2 word contiguous substitution — small enough that
            # the shingle-embedding cosine stays above the 0.92 gate
            # (a k-word substitution destroys ~k+2 of the ~n 3-gram shingles)
            wrng = np.random.default_rng(family_id * 7_919 + v)
            wv = list(words)
            edit = 1 if len(wv) < 120 else 2
            pos = int(wrng.integers(0, len(wv) - edit))
            for e in range(edit):
                wv[pos + e] = f"r{family_id}v{v}e{e}"
            tv = list(title_words)
            if len(raw_words) >= 130 and wrng.random() < 0.5:
                tv[0], tv[1] = tv[1], tv[0]  # token swap: same token set
            html = _render_html(tv, wv, nav_seed, int(wrng.integers(0, 1 << 40)))
            add(base_url + f"/rev{v}", html, v)

    return rows


def generate_pages_pdf(docs: pd.DataFrame, replicate: int = 1, seed: int = 42) -> pd.DataFrame:
    """documents rows (doc_id, text, lang) -> pages rows. ``replicate``
    multiplies family count for throughput benchmarking (deterministic)."""
    all_rows: list[dict] = []
    for row in docs.itertuples(index=False):
        for r in range(replicate):
            family_id = int(row.doc_id) * replicate + r
            text = row.text
            if r > 0:
                # deterministic word shuffle for replicated families
                rng = np.random.default_rng(family_id * 31 + 7)
                w = text.split()
                text = " ".join(np.array(w)[rng.permutation(len(w))].tolist())
            all_rows.extend(generate_family(family_id, text, row.lang, seed))
    return pd.DataFrame(all_rows)


PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

_GENERATED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("family_id", T.LongType()),
    ]
)
PAGES_SCHEMA = T.StructType([_GENERATED_SCHEMA[c] for c in PAGES_COLUMNS])
TRUTH_SCHEMA = T.StructType([_GENERATED_SCHEMA[c] for c in ("url", "family_id")])


def build_pages(spark, sf_dir: str, replicate: int = 1, seed: int = 42):
    """Distributed pages generation: documents parquet -> one lazy DataFrame
    of the page columns plus ``family_id`` (the ground truth). Each action
    on it runs the HTML synthesis again."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )

    def gen(iterator):
        for pdf in iterator:
            out = generate_pages_pdf(pdf, replicate=replicate, seed=seed)
            if len(out):
                yield out

    n_part = max(spark.sparkContext.defaultParallelism, 8)
    return docs.repartition(n_part, "doc_id").mapInPandas(gen, schema=_GENERATED_SCHEMA)


def materialize_pages(spark, sf_dir: str, out_dir: str, replicate: int = 1, seed: int = 42):
    """Generate once and write ``pages.parquet`` + ``truth.parquet`` under
    ``out_dir``; return (pages, truth) read back with their known schemas.

    A directory pair is reused only if both hold Spark's ``_SUCCESS``
    marker, so the output of a write that died midway is regenerated, and
    reuse issues no Spark job. Otherwise the generator runs once: its
    output is persisted across the two writes and released afterwards."""
    pages_path = os.path.join(out_dir, "pages.parquet")
    truth_path = os.path.join(out_dir, "truth.parquet")
    if not all(
        os.path.exists(os.path.join(p, "_SUCCESS")) for p in (pages_path, truth_path)
    ):
        full = build_pages(spark, sf_dir, replicate=replicate, seed=seed).persist()
        try:
            full.select(*PAGES_COLUMNS).write.mode("overwrite").parquet(pages_path)
            full.select(*TRUTH_SCHEMA.names).write.mode("overwrite").parquet(truth_path)
        finally:
            full.unpersist()
    return (
        spark.read.schema(PAGES_SCHEMA).parquet(pages_path),
        spark.read.schema(TRUTH_SCHEMA).parquet(truth_path),
    )
