"""Knowledge-graph population: the PostIngestQueue KG stage recast.

The reference extracts entities per document and writes the KG tables
(``reference src/metadata/migration.cpp:867-938`` schemas; stage position
and node/alias/edge construction in
``src/daemon/components/PostIngestQueue.cpp:2440-2720``):

* ``kg_nodes``        — node_key / label / type (entity nodes keyed
  ``nl_entity:<type>:<normalized text>``, plus per-document context nodes
  keyed ``doc:<id>`` exactly like the reference's ``doc:<hash>``)
* ``kg_aliases``      — alias variants per node for query-time resolution
  (PostIngestQueue.cpp:2684-2691 ``buildNlAliasVariants``)
* ``kg_doc_entities`` — per-document mentions with offsets + confidence
* ``kg_edges``        — entity → document ``mentioned_in`` edges, weight =
  extraction confidence (PostIngestQueue.cpp:2695-2712)
* ``kg_node_stats``   — degree / neighbor_count / pagerank per node
  (migration.cpp:924-938), via ``operators.graph``

The reference extractor is a GLiNER ONNX model; model inference is out of
scope here, so the extractor is the deterministic capitalized-span
heuristic (the same determinism-over-fidelity policy as the feature-hash
embedding stand-in): entities are maximal runs of capitalized/acronym
words — each word is uppercase letters followed by optional lowercase
(``[A-Z..]+[a-z..]*``), so "NASA", "Table" and "Åsa Ärlig" all match —
over the Latin-1 letter ranges (unicode61 treats accented letters as
token characters, never separators); spans >= 3 chars, confidence grows
with span length. The pattern uses only greedy character-class
quantifiers, so Python re and DuckDB RE2 produce identical match lists
(pytest-pinned), keeping the whole stage oracle-checkable end-to-end.

Scale shape: extraction is one narrow Arrow pass (mapInPandas, no
shuffle); every table derives from the mentions table via groupBy on
(node_key) or (doc, node_key) — ordinary hash aggregations that partition
by key. Nothing touches the driver.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: unicode61-consistent letter classes (Latin + Latin-1 supplement,
#: excluding the × U+00D7 / ÷ U+00F7 non-letters splitting the ranges)
UPPER_CLASS = "A-ZÀ-ÖØ-Þ"
LOWER_CLASS = "a-zß-öø-ÿ"
#: capitalized/acronym-span entity heuristic (deterministic GLiNER
#: stand-in): words are caps-run + optional lowercase tail, so plain
#: capitalized words AND all-caps acronyms ("NASA") both match
ENTITY_PATTERN = (
    rf"[{UPPER_CLASS}]+[{LOWER_CLASS}]*(?: [{UPPER_CLASS}]+[{LOWER_CLASS}]*)*"
)
#: minimum surface length (drops bare 2-char words like "Ab")
MIN_ENTITY_CHARS = 3
#: node-key scheme, PostIngestQueue.cpp:2651 ("nl_entity:" + type + ":" + normalized)
ENTITY_TYPE = "span"
EXTRACTOR_NAME = "capspan"

_ENTITY_RE = re.compile(ENTITY_PATTERN)


def entity_confidence_expr(entity_col) -> F.Column:
    """Deterministic stand-in confidence: longer spans are stronger
    evidence — 0.75 single word, 1.0 for two+ words. Stated as a column
    expression so the DuckDB oracle can restate it verbatim."""
    n_words = F.size(F.split(entity_col, " "))
    return F.least(F.lit(1.0), F.lit(0.5) + F.lit(0.25) * n_words)


def node_key_expr(entity_col) -> F.Column:
    """normalizeEntityTextForKey analog: lowercase (spans are already
    space-collapsed by construction)."""
    return F.concat(F.lit(f"nl_entity:{ENTITY_TYPE}:"), F.lower(entity_col))


def extract_doc_entities(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """kg_doc_entities (migration.cpp:912-923): one row per mention —
    (document_id, entity_text, node_key, start_offset, end_offset,
    confidence, extractor).

    One Arrow-batched pass (re.finditer per document inside the batch);
    narrow, no shuffle — the extraction cost is O(total text bytes) spread
    over however many input splits the scan produced.
    """

    def compute(iterator):
        for pdf in iterator:
            ids, texts, starts, ends = [], [], [], []
            for doc_id, text in zip(pdf["__id"], pdf["__text"]):
                if text is None:
                    continue
                for m in _ENTITY_RE.finditer(text):
                    s = m.group(0)
                    if len(s) < MIN_ENTITY_CHARS:
                        continue
                    ids.append(doc_id)
                    texts.append(s)
                    starts.append(m.start())
                    ends.append(m.end())
            yield pd.DataFrame(
                {
                    "document_id": pd.Series(ids, dtype="int64"),
                    "entity_text": pd.Series(texts, dtype="object"),
                    "start_offset": pd.Series(starts, dtype="int64"),
                    "end_offset": pd.Series(ends, dtype="int64"),
                }
            )

    mentions = docs.select(
        F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__text")
    ).mapInPandas(
        compute,
        schema=(
            "document_id long, entity_text string, start_offset long, "
            "end_offset long"
        ),
    )
    return mentions.select(
        "document_id",
        "entity_text",
        node_key_expr(F.col("entity_text")).alias("node_key"),
        "start_offset",
        "end_offset",
        entity_confidence_expr(F.col("entity_text")).alias("confidence"),
        F.lit(EXTRACTOR_NAME).alias("extractor"),
    )


def build_kg_nodes(
    doc_entities: DataFrame, include_doc_nodes: bool = True
) -> DataFrame:
    """kg_nodes (migration.cpp:867-875): one row per distinct node_key —
    entity nodes (label = most frequent surface form, ties broken
    lexicographically) plus optional per-document context nodes
    (``doc:<id>``, type 'document', PostIngestQueue.cpp:2500-2512)."""
    surface = doc_entities.groupBy("node_key", "entity_text").agg(
        F.count("*").alias("n")
    )
    ent = (
        surface.groupBy("node_key")
        .agg(
            F.max(F.struct(F.col("n"), F.col("entity_text").alias("s"))).alias("top"),
            F.sum("n").alias("times_seen"),
        )
        .select(
            "node_key",
            F.col("top.s").alias("label"),
            F.lit(ENTITY_TYPE).alias("type"),
            F.col("times_seen"),
        )
    )
    if not include_doc_nodes:
        return ent
    docs = (
        doc_entities.select("document_id")
        .distinct()
        .select(
            F.concat(F.lit("doc:"), F.col("document_id")).alias("node_key"),
            F.col("document_id").cast("string").alias("label"),
            F.lit("document").alias("type"),
            F.lit(0).cast("long").alias("times_seen"),
        )
    )
    return ent.unionByName(docs)


def build_kg_aliases(doc_entities: DataFrame) -> DataFrame:
    """kg_aliases (migration.cpp:877-885): deterministic alias variants per
    entity node for query-time resolution (buildNlAliasVariants,
    PostIngestQueue.cpp:2684-2691) — the surface form (1.0), its lowercase
    (0.9), and for multi-word spans the initials acronym (0.7)."""
    ent = doc_entities.select("node_key", "entity_text").distinct()
    words = F.split(F.col("entity_text"), " ")
    acronym = F.concat_ws(
        "", F.transform(words, lambda w: F.substring(w, 1, 1))
    )
    variants = ent.select(
        "node_key",
        F.explode(
            F.array(
                F.struct(
                    F.col("entity_text").alias("alias"),
                    F.lit("surface").alias("source"),
                    F.lit(1.0).alias("confidence"),
                ),
                F.struct(
                    F.lower("entity_text").alias("alias"),
                    F.lit("lower").alias("source"),
                    F.lit(0.9).alias("confidence"),
                ),
                F.when(
                    F.size(words) >= 2,
                    F.struct(
                        acronym.alias("alias"),
                        F.lit("acronym").alias("source"),
                        F.lit(0.7).alias("confidence"),
                    ),
                ),
            )
        ).alias("v"),
    ).where(F.col("v").isNotNull())
    out = variants.select("node_key", "v.alias", "v.source", "v.confidence")
    # UNIQUE(node_id, alias) — keep the strongest variant per pair
    return (
        out.groupBy("node_key", "alias")
        .agg(
            F.max(F.struct("confidence", "source")).alias("top")
        )
        .select(
            "node_key", "alias", F.col("top.source").alias("source"),
            F.col("top.confidence").alias("confidence"),
        )
    )


def build_kg_edges(doc_entities: DataFrame) -> DataFrame:
    """kg_edges (migration.cpp:887-897): entity → document 'mentioned_in'
    edges, weight = strongest mention confidence in that document
    (PostIngestQueue.cpp:2695-2712)."""
    return (
        doc_entities.groupBy("node_key", "document_id")
        .agg(F.max("confidence").alias("weight"))
        .select(
            F.col("node_key").alias("src"),
            F.concat(F.lit("doc:"), F.col("document_id")).alias("dst"),
            F.lit("mentioned_in").alias("relation"),
            "weight",
        )
    )


def build_co_mention_edges(doc_entities: DataFrame) -> DataFrame:
    """(src, dst, n_docs) symmetric entity–entity co-mention edges: two
    entity nodes are related when some document mentions both (the
    entity-relatedness signal the reference's KG scorer walks; its graph
    additionally holds typed edges from richer extractors). One per-doc
    self-join — per-document entity sets are small (spans of one page),
    so the join fans out per doc, never corpus².
    """
    m = doc_entities.select("document_id", "node_key").distinct()
    a = m.select("document_id", F.col("node_key").alias("src"))
    b = m.select("document_id", F.col("node_key").alias("dst"))
    pairs = (
        a.join(b, "document_id")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.countDistinct("document_id").alias("n_docs"))
    )
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "n_docs")
    )


def query_entity_nodes(query_text: str) -> list[str]:
    """Entity node keys extracted from ONE query string with the same
    capitalized-span heuristic the document side uses (the reference runs
    its concept extractor over the query, kg_scorer_simple.cpp:132-160).
    Driver-side: a query is a single short string."""
    return [
        f"nl_entity:{ENTITY_TYPE}:{m.group(0).lower()}"
        for m in _ENTITY_RE.finditer(query_text)
        if len(m.group(0)) >= MIN_ENTITY_CHARS
    ]


def build_kg_node_embeddings(
    doc_entities: DataFrame,
    doc_embeddings: DataFrame,
) -> DataFrame:
    """kg_node_embeddings (migration.cpp:903-910): one vector per entity
    node — the mean embedding of the documents mentioning it (the
    reference embeds node content through its embedding service; the
    document-centroid is the deterministic stand-in, same policy as the
    feature-hash embedding). Plan shape is the path-tree centroid's:
    posexplode → groupBy(node, pos) mean → re-assemble sorted, O(1) in
    dimensionality with map-side combine. Returns (node_key, dim,
    embedding, n_docs)."""
    pairs = (
        doc_entities.select("node_key", "document_id")
        .distinct()
        .join(
            doc_embeddings.select(
                F.col("vec_id").alias("document_id"), F.col("embedding").alias("emb")
            ),
            "document_id",
        )
    )
    counts = pairs.groupBy("node_key").agg(F.count("*").alias("n_docs"))
    dims = (
        pairs.select("node_key", F.posexplode("emb").alias("pos", "val"))
        .groupBy("node_key", "pos")
        .agg(F.avg("val").alias("avg_val"))
    )
    vecs = dims.groupBy("node_key").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("avg_val")))),
            lambda s: s["avg_val"],
        ).alias("embedding")
    )
    return counts.join(vecs, "node_key").select(
        "node_key", F.size("embedding").alias("dim"), "embedding", "n_docs"
    )


def kg_node_stats(edges: DataFrame, pagerank_iters: int = 20) -> DataFrame:
    """kg_node_stats (migration.cpp:926-938): degree, neighbor_count and
    pagerank per node over the mentioned_in graph — document nodes are pure
    sinks, so this exercises the dangling-mass redistribution path."""
    from yams_spark.operators.graph import node_degree_stats, pagerank

    # degree, neighbor_count and pagerank each consume the edge table; a
    # lazy localCheckpoint materializes it once inside the single action
    # instead of re-running the upstream (often a regex-extraction pass)
    # three times
    edges = edges.localCheckpoint(eager=False)
    deg = node_degree_stats(edges, "src", "dst")
    neigh = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("peer"))
        .unionByName(edges.select(F.col("dst").alias("node"), F.col("src").alias("peer")))
        .groupBy("node")
        .agg(F.countDistinct("peer").alias("neighbor_count"))
    )
    pr = pagerank(edges, max_iter=pagerank_iters, src_col="src", dst_col="dst")
    return (
        deg.join(neigh, "node", "left")
        .join(pr, "node", "left")
        .fillna(0, ["neighbor_count"])
        .select("node", "degree", "out_degree", "in_degree", "neighbor_count", "pagerank")
    )


def populate_kg(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pagerank_iters: int = 20,
) -> dict[str, DataFrame]:
    """The whole PostIngestQueue KG stage in one call: returns
    {kg_doc_entities, kg_nodes, kg_aliases, kg_edges, kg_node_stats}.
    The mentions table feeds every downstream table, so it is persisted —
    otherwise the extraction pass re-runs once per output table."""
    ents = extract_doc_entities(docs, id_col, text_col).persist()
    edges = build_kg_edges(ents).persist()
    return {
        "kg_doc_entities": ents,
        "kg_nodes": build_kg_nodes(ents),
        "kg_aliases": build_kg_aliases(ents),
        "kg_edges": edges,
        "kg_node_stats": kg_node_stats(edges, pagerank_iters=pagerank_iters),
    }
