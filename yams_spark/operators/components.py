"""Evidence components for the fusion pipeline.

The fusion stage (operators/search.py fuse_evidence) declares weights for
``tag`` / ``metadata`` / ``kg`` / ``path_tree`` / ``entity_vector``
sources (search_engine_config.h:78-96); these are the producers, recast
from the reference's SearchEngine component queries:

* ``tag_component`` — ``queryTags`` (search_engine.cpp:5510-5553):
  matchAll intersects the tag set (docs carrying EVERY requested tag,
  score 1.0); matchAny unions them with position-based decay
  ``1 / (1 + 0.1·rank)``.
* ``metadata_component`` — ``queryMetadata`` (search_engine.cpp:5556+):
  conjunctive key=value filters over exploded metadata, every match
  scored 1.0.
* ``kg_component`` — the KG scorer (kg_scorer_simple.cpp:132-243):
  Jaccard overlap between each document's entity set and the 1-hop
  neighborhood of the query's entities.
* ``path_tree_component`` — ``queryPathTree``
  (search_engine.cpp:5101-5160): path seeds built from the query, docs
  scored by where/how much of their path the seed covers.
* ``entity_vector_component`` — ``queryEntityVectorsPipeline``
  (search_vector_pipeline.cpp:421-487): ANN over entity/node embeddings,
  each hit mapped to its documents, deduped best-score per doc.

All emit the fusion contract (doc_id, source, score, rank) with the
reference's per-component caps, and all are bounded groupBy/join plans —
entity posting lists and per-seed path scans behave like term posting
lists at 100 TB; nothing materializes on the driver beyond the seed list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yams_spark.operators.search import global_rank

# per-component result caps (search_engine_config.h:369-377)
PATH_TREE_MAX_RESULTS = 150
KG_MAX_RESULTS = 100
ENTITY_VECTOR_MAX_RESULTS = 100


def tag_component(
    doc_tags: DataFrame,
    tags: list[str],
    match_all: bool = True,
    limit: int = 100,
) -> DataFrame:
    """(doc_id, source='tag', score, rank). doc_tags: one row per
    (document, tag). Deterministic order: match count desc, doc_id asc."""
    hits = doc_tags.where(F.col("tag").isin(tags)).groupBy("doc_id").agg(
        F.countDistinct("tag").alias("n_matched")
    )
    if match_all:
        hits = hits.where(F.col("n_matched") == len(set(tags)))
    order = [F.col("n_matched").desc(), F.col("doc_id").asc()]
    pooled = hits.orderBy(*order).limit(limit)
    ranked = global_rank(pooled, order, "rk")
    score = (
        F.lit(1.0)
        if match_all
        else F.lit(1.0) / (F.lit(1.0) + 0.1 * (F.col("rk") - 1))
    )
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("tag").alias("source"),
        score.alias("score"),
        (F.col("rk") - 1).alias("rank"),
    )


def metadata_component(
    doc_meta: DataFrame,
    filters: dict[str, str],
    limit: int = 100,
) -> DataFrame:
    """(doc_id, source='metadata', score=1.0, rank). doc_meta: one row per
    (document, key, value); a document matches when EVERY filter key maps
    to the requested value (conjunctive, like the reference's parsed
    key:value query filters). Empty ``filters`` is rejected: the reference
    treats "no metadata filters" as "don't run the metadata component at
    all" (the caller skips it, see hybrid_search), so an empty conjunction
    here is a caller bug, not an unconstrained scan."""
    if not filters:
        raise ValueError(
            "metadata_component requires at least one key=value filter; "
            "skip the component entirely for unconstrained queries"
        )
    cond = None
    for k, v in filters.items():
        c = (F.col("key") == k) & (F.col("value") == v)
        cond = c if cond is None else (cond | c)
    hits = (
        doc_meta.where(cond)
        .groupBy("doc_id")
        .agg(F.countDistinct("key").alias("n_keys"))
        .where(F.col("n_keys") == len(filters))
    )
    order = [F.col("doc_id").asc()]
    pooled = hits.orderBy(*order).limit(limit)
    ranked = global_rank(pooled, order, "rk")
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("metadata").alias("source"),
        F.lit(1.0).alias("score"),
        (F.col("rk") - 1).alias("rank"),
    )


def kg_component(
    doc_entities: DataFrame,
    edges: DataFrame,
    query_nodes: list[str],
) -> DataFrame:
    """(doc_id, source='kg', score, rank): per-document Jaccard overlap
    with the 1-hop neighborhood of the query's entity nodes
    (kg_scorer_simple.cpp:132-243 via graph.one_hop_overlap_scores).
    doc_entities: (doc_id, entity); edges: (src, dst) over entity node
    keys (e.g. co-mention edges). Zero-overlap docs never enter the
    pool."""
    from yams_spark.operators.graph import one_hop_overlap_scores

    if not query_nodes:
        raise ValueError(
            "kg_component requires query entity nodes; skip the component "
            "for queries without extractable entities"
        )
    scored = one_hop_overlap_scores(doc_entities, query_nodes, edges)
    hits = scored.where(F.col("kg_score") > 0)
    order = [F.col("kg_score").desc(), F.col("doc_id").asc()]
    pooled = hits.orderBy(*order).limit(KG_MAX_RESULTS)
    ranked = global_rank(pooled, order, "rk")
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("kg").alias("source"),
        F.col("kg_score").alias("score"),
        (F.col("rk") - 1).alias("rank"),
    )


#: seed-stopword set for path seeds (the reference's isStopword list is
#: the usual English function words; only seeds are affected)
_SEED_STOPWORDS = frozenset(
    "the a an of and or to in is on for with at by from as".split()
)


def build_path_seeds(query: str) -> list[tuple[str, str, float]]:
    """Path seeds from a query (buildPathSeedsFromQuery,
    search_engine.cpp:1050-1110): [(text, kind, weight)] — the whole
    query (weight 1.0 structured / 0.82 short NL), path-ish tokens
    (0.95), content terms incl. separator-split subtokens (0.70), and
    2-3-term content phrases (0.62); case-insensitive dedupe, first 8
    win. Pure driver-side string work on ONE query."""
    seeds: list[tuple[str, str, float]] = []
    seen: set[str] = set()

    def add(text: str, kind: str, weight: float) -> None:
        text = text.strip()
        if len(text) < 2 or len(seeds) >= 8:
            return
        key = text.lower()
        if key in seen:
            return
        seen.add(key)
        seeds.append((text, kind, weight))

    structured = any(c in query for c in "/\\._-#")
    whole = query.strip()
    if (structured or len(query) <= 64) and whole:
        add(whole, "whole_query", 1.0 if structured else 0.82)
    terms = query.split()
    for term in terms:
        if "=" in term:
            continue
        if len(term) >= 3 and any(c in term for c in "/\\._-#"):
            add(term, "structured_token", 0.95)
    content_terms: list[str] = []
    for term in terms:
        if "=" in term or len(term) < 3 or term.lower() in _SEED_STOPWORDS:
            continue
        start = 0
        for i in range(len(term) + 1):
            if i == len(term) or term[i] in "/\\._-":
                if i > start + 2:
                    content_terms.append(term[start:i])
                start = i + 1
        content_terms.append(term)
    for term in content_terms:
        add(term, "content_term", 0.70)
    for i in range(len(content_terms)):
        phrase = content_terms[i]
        for j in range(i + 1, min(len(content_terms), i + 3)):
            phrase = phrase + " " + content_terms[j]
            if len(phrase) <= 48:
                add(phrase, "content_phrase", 0.62)
    return seeds


def path_tree_component(
    docs: DataFrame,
    query: str,
) -> DataFrame:
    """(doc_id, source='path_tree', score, rank): queryPathTree recast
    (search_engine.cpp:5101-5160). For each seed, candidate docs are
    those whose lowercased path contains the seed; a hit scores
    ``weight · clamp(0.56 + position·0.18 + coverage·0.26)`` with
    position = 1 − offset/len(path) and coverage = len(seed)/len(path).
    Best score per doc wins across seeds (byHash dedupe).
    ≤ 8 bounded unions, each a contains-filtered scan."""
    seeds = build_path_seeds(query)
    if not seeds:
        raise ValueError("no path seeds derivable from query")
    lower_path = F.lower(F.col("path"))
    parts = []
    for text, _kind, weight in seeds:
        seed = text.lower()
        pos_in_path = F.instr(lower_path, F.lit(seed))  # 1-based, 0 = miss
        plen = F.length(lower_path)
        position = F.lit(1.0) - (pos_in_path - 1).cast("double") / plen
        coverage = (
            F.least(F.lit(len(seed)), plen).cast("double")
            / F.greatest(F.lit(1), plen)
        )
        hit_score = F.least(
            F.greatest(
                F.lit(weight) * (F.lit(0.56) + position * 0.18 + coverage * 0.26),
                F.lit(0.0),
            ),
            F.lit(1.0),
        )
        parts.append(
            docs.where(pos_in_path > 0).select(
                F.col("doc_id"), hit_score.alias("seed_score")
            )
        )
    cands = parts[0]
    for p in parts[1:]:
        cands = cands.unionByName(p)
    best = cands.groupBy("doc_id").agg(F.max("seed_score").alias("score"))
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    pooled = best.orderBy(*order).limit(PATH_TREE_MAX_RESULTS)
    ranked = global_rank(pooled, order, "rk")
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("path_tree").alias("source"),
        F.col("score"),
        (F.col("rk") - 1).alias("rank"),
    )


def entity_vector_component(
    query_embedding,
    node_embeddings: DataFrame,
    node_docs: DataFrame,
) -> DataFrame:
    """(doc_id, source='entity_vector', score, rank): ANN over entity
    node embeddings (queryEntityVectorsPipeline,
    search_vector_pipeline.cpp:421-487) — cosine(query, node) for every
    node vector, top-``ENTITY_VECTOR_MAX_RESULTS`` nodes of cosine >= 0,
    mapped to their documents via ``node_docs`` (node_key,
    doc_id), deduped best
    score per document (dedupeEntityVectorRecords). Cosine is a
    sequential double-accumulation Catalyst fold (same order as DuckDB
    list_sum, so oracles reproduce it bit-for-bit)."""
    q = [float(x) for x in query_embedding]
    qarr = F.array(*[F.lit(x) for x in q])
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(emb, qarr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x))
    n2 = float(sum(x * x for x in q)) ** 0.5
    cos = F.when(n1 > 0, dot / (n1 * F.lit(n2))).otherwise(F.lit(0.0))
    scored_nodes = (
        node_embeddings.select(F.col("node_key"), cos.alias("cos"))
        .where(F.col("cos") >= 0.0)
    )
    node_order = [F.col("cos").desc(), F.col("node_key").asc()]
    top_nodes = scored_nodes.orderBy(*node_order).limit(ENTITY_VECTOR_MAX_RESULTS)
    per_doc = (
        top_nodes.join(node_docs.select("node_key", "doc_id"), "node_key")
        .groupBy("doc_id")
        .agg(F.max("cos").alias("score"))
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    pooled = per_doc.orderBy(*order).limit(ENTITY_VECTOR_MAX_RESULTS)
    ranked = global_rank(pooled, order, "rk")
    return ranked.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("entity_vector").alias("source"),
        F.col("score"),
        (F.col("rk") - 1).alias("rank"),
    )
