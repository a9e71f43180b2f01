"""Seeded inputs for the benchmark workloads.

Everything a run reads is generated here from ``--seed`` and written to
parquet under the run directory before the timed region starts:

* ``documents`` / ``embeddings`` / ``orders`` — the source tables the ER
  page generator and the operator queries read (same schemas as the
  synthetic sf tables of TESTDATA.md, generated in-process so the
  benchmark needs nothing outside its checkout);
* ``pages`` / ``truth`` — the ER input, built by the program's own
  ``materialize_pages(seed=...)``, plus (for ``er_dup_heavy``) one
  byte-identical boilerplate family appended as extra parquet files.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (["en"] * 8) + (["de", "fr", "es", "zh"] * 3)
EMBED_DIM = 64

# one page of pure navigation chrome: every copy is byte-identical, so all
# of its text_hash / chunk / minhash / title keys collapse into ONE hot
# blocking key per family that salting has to split
HOT_HTML = (
    b"<html><head><title>boilerplate hub page</title></head><body>"
    + b"shared boilerplate navigation chrome " * 40
    + b"</body></html>"
)
HOT_FAMILY_ID = -1


def documents_pdf(n_docs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars): 10-100 words over the shared
    30-word vocabulary; every 20th document repeats an earlier one + 'dup'."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 11 and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(VOCAB, size=n).tolist()))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(n_vecs: int, seed: int) -> pa.Table:
    """(vec_id, embedding float[64], label): unit vectors around 10 label
    centres, so near-duplicate and top-k queries have real neighbours."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    v = centres[label] + rng.normal(scale=1.5, size=(n_vecs, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def orders_pdf(n_orders: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 3])
    n_cust = max(n_orders // 10, 1)
    start = datetime(1995, 1, 1)
    days = rng.integers(0, 2404, size=n_orders)
    return pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n_orders), 2),
        "o_orderdate": [start + timedelta(days=int(d)) for d in days],
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_orders),
    })


def write_source_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                        n_orders: int) -> None:
    """The driver-shaped sf directory: documents, embeddings, orders."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(documents_pdf(n_docs, seed),
                                        preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings_table(n_vecs, seed),
                   os.path.join(out_dir, "embeddings.parquet"))
    pq.write_table(pa.Table.from_pandas(orders_pdf(n_orders, seed),
                                        preserve_index=False),
                   os.path.join(out_dir, "orders.parquet"),
                   coerce_timestamps="us")


def append_hot_family(pages_dir: str, hot_fraction: float) -> int:
    """Append ``hot_fraction`` x (base page count) copies of HOT_HTML to the
    pages/truth parquet written by ``materialize_pages``, as one more part
    file each with the schema (and int96 timestamps) of the parts Spark
    wrote; returns the number of hot pages. All copies share one truth
    family."""
    from yams_spark.functions.html_extract import extract_text_from_html

    def parts(name):
        return sorted(glob.glob(os.path.join(pages_dir, name, "*.parquet")))

    n_hot = int(sum(pq.ParquetFile(p).metadata.num_rows
                    for p in parts("pages.parquet")) * hot_fraction)
    urls = [f"hot://{i}" for i in range(n_hot)]
    warc_ts = (np.datetime64("2024-01-01T00:00:00", "s")
               + np.arange(n_hot)).astype("datetime64[ns]")
    columns = {
        "pages.parquet": {
            "url": urls, "warc_ts": warc_ts, "html": [HOT_HTML] * n_hot,
            "text": [extract_text_from_html(HOT_HTML).decode()] * n_hot,
            "lang": ["en"] * n_hot,
        },
        "truth.parquet": {"url": urls, "family_id": [HOT_FAMILY_ID] * n_hot},
    }
    for name, cols in columns.items():
        schema = pq.read_schema(parts(name)[0])
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(pages_dir, name, "part-hot.parquet"),
                       use_deprecated_int96_timestamps=True)
    return n_hot
