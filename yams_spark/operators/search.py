"""Hybrid-search scoring operators, recast from the reference engine.

* posting lists + BM25 from term/corpus statistics
  (migration.cpp:2302-2344; FTS5 bm25(documents_fts,1.0,10.0),
  search_ops.cpp:174; k1=1.2 b=0.75 FTS5 defaults)
* BM25 range normalization: min-max over the candidate batch, 1-norm
  (FTS5 bm25 is negative-better), fallback -raw/25
  (lexical_scoring.cpp:18-43; divisor search_engine_config.h:284)
* chunk→document score aggregation: MAX / SUM(cap 1.0) / TOP_K_AVG /
  WEIGHTED_TOP_K_AVG (k=3, decay 0.6) + deterministic ordering
  (search_vector_pipeline.cpp:78-155, config :287-294)
* weighted-RRF evidence fusion: per-(doc,source) bestRaw=max bestRank=min
  occurrences=count, contribution = weight · 1/(rrfK + rank+1) ·
  (1 + 0.5·clamp(raw,0,1)), rrfK=12; optional lexical rank floor
  (evidence_search_pipeline.cpp:49-56,184-229)
* final top-k with additive rescue slots
  (evidence_search_pipeline.cpp:250-332)
* cross-rerank blend of the top-5: min-max normalize both score sets,
  final = 0.30·rerank + 0.70·original (cross_rerank.cpp:60-160)

All pure DataFrame/Catalyst — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# search_engine_config.h:78-96
DEFAULT_SOURCE_WEIGHTS: dict[str, float] = {
    "text": 0.70,
    "simeon_text": 0.15,
    "graph_text": 0.12,
    "path_tree": 0.08,
    "kg": 0.04,
    "vector": 0.30,
    "graph_vector": 0.08,
    "entity_vector": 0.05,
    "tag": 0.05,
    "metadata": 0.05,
}
RRF_K = 12.0  # search_engine_config.h:283
BM25_NORM_DIVISOR = 25.0  # search_engine_config.h:284
CHUNK_AGG_TOP_K = 3  # search_engine_config.h:293
CHUNK_AGG_DECAY = 0.6  # search_engine_config.h:294


def _tokens_expr(text_col: str, tokenizer: str):
    """Token-array expression for a tokenizer name: ``ascii`` is the
    reference CLI tokenize-lower (query_text_utils.cpp:340-362);
    ``unicode61`` / ``porter`` are the FTS5 index tokenizer
    (migration.cpp:1807: porter unicode61 tokenchars '_-') — porter
    shares unicode61's split, stemming happens on the distinct
    vocabulary after the explode."""
    if tokenizer in ("unicode61", "porter"):
        from yams_spark.functions.fts_tokenizer import unicode61_tokens_spark_expr

        return unicode61_tokens_spark_expr(F.col(text_col))
    if tokenizer != "ascii":
        raise ValueError(f"unknown tokenizer: {tokenizer!r}")
    return F.expr(
        f"filter(split(lower(regexp_replace({text_col}, '[^0-9a-zA-Z]+', ' ')), ' '), "
        "x -> x <> '')"
    )


def _stem_postings(postings: DataFrame, positional: bool) -> DataFrame:
    """Re-key postings by Porter stem: distinct-vocabulary stemming (one
    Arrow batch pass over |vocab| rows, joined back — AQE broadcasts the
    stem map when small) then re-aggregate (doc, stem), summing tf and
    merging position lists. dl is unchanged (stemming never drops or
    splits tokens)."""
    from yams_spark.functions.fts_tokenizer import stem_terms

    vocab = postings.select("term").distinct()
    stems = stem_terms(vocab)
    joined = postings.join(stems, "term")
    aggs = [F.sum("tf").alias("tf")]
    if positional:
        aggs.insert(
            0,
            F.array_sort(F.flatten(F.collect_list("positions"))).alias("positions"),
        )
    return (
        joined.groupBy("doc_id", "dl", F.col("stem").alias("term"))
        .agg(*aggs)
    )


def build_posting_lists(
    docs: DataFrame, id_col: str, text_col: str, tokenizer: str = "ascii"
) -> DataFrame:
    """(doc_id, term, tf, dl). ``tokenizer``: 'ascii' (default — the
    reference CLI tokenize-lower, keeps every existing oracle unchanged),
    'unicode61' (FTS5 unicode61, tokenchars '_-', diacritic fold), or
    'porter' (unicode61 + Porter-stemmed terms — the reference FTS
    index's actual tokenizer, migration.cpp:1807)."""
    toks = _tokens_expr(text_col, tokenizer)
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("tokens"))
    d = d.withColumn("dl", F.size("tokens"))
    base = (
        d.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    if tokenizer == "porter":
        base = _stem_postings(base, positional=False)
    return base


def build_positional_postings(
    docs: DataFrame, id_col: str, text_col: str, tokenizer: str = "ascii"
) -> DataFrame:
    """(doc_id, term, positions array<int>, tf, dl): posting lists WITH
    1-based token positions — the FTS5 positional index analog that phrase
    queries need (FTS5 stores position lists per (term, doc) exactly so
    ``"a b"`` can check adjacency). One tokenize + one groupBy(doc, term)
    shuffle; positions sorted for deterministic downstream intersection.
    ``tokenizer`` as in build_posting_lists; 'porter' merges the position
    lists of same-stem terms (FTS5's porter index stores positions under
    the stemmed term)."""
    toks = _tokens_expr(text_col, tokenizer)
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("tokens"))
    d = d.withColumn("dl", F.size("tokens"))
    exploded = d.select(
        "doc_id", "dl", F.posexplode("tokens").alias("pos0", "term")
    )
    base = (
        exploded.groupBy("doc_id", "dl", "term")
        .agg(
            F.array_sort(F.collect_list(F.col("pos0") + 1)).alias("positions"),
            F.count("*").alias("tf"),
        )
    )
    if tokenizer == "porter":
        base = _stem_postings(base, positional=True)
    return base


def phrase_match(
    positional_postings: DataFrame, phrase_terms: list[str]
) -> DataFrame:
    """FTS5 phrase semantics over the positional index: (doc_id,
    n_occurrences) for documents where ``phrase_terms`` occur adjacently in
    order (search_query_helpers.cpp:356-384 builds such quoted phrase
    queries; FTS5 evaluates them by position-list intersection, which is
    exactly this plan: one equi-join on doc_id per phrase term, the
    surviving position set shifted by one each step — m-1 hash joins, no
    token re-scan, no Python)."""
    if not phrase_terms:
        raise ValueError("phrase_terms must be non-empty")
    # prune to the phrase's own terms FIRST, then pin: each phrase term
    # adds a branch over the postings, and without the checkpoint every
    # branch re-runs the full tokenize + posexplode + groupBy index build.
    # The pinned set holds only the phrase terms' postings (bounded), so
    # this stays cheap at any corpus size.
    pp = positional_postings.where(
        F.col("term").isin(list(phrase_terms))
    ).localCheckpoint(eager=False)
    cur = pp.where(F.col("term") == phrase_terms[0]).select(
        "doc_id", F.col("positions").alias("__pos")
    )
    for t in phrase_terms[1:]:
        nxt = pp.where(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("__next")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "__pos",
                F.array_intersect(
                    F.transform(F.col("__pos"), lambda p: p + 1), F.col("__next")
                ),
            )
            .where(F.size("__pos") > 0)
            .drop("__next")
        )
    return cur.select("doc_id", F.size("__pos").alias("n_occurrences"))


#: the reference auto-phrases natural-language queries of 3-4 tokens
#: (search_query_helpers.cpp:363-371)
AUTO_PHRASE_MIN_TOKENS = 3
AUTO_PHRASE_MAX_TOKENS = 4


#: the reference prefix-renders tokens of >= 4 chars under autoPrefix
#: (search_query_helpers.cpp:377-380, renderFts5Token)
AUTO_PREFIX_MIN_CHARS = 4


def parse_match_query(
    query: str, auto_phrase: bool = True, auto_prefix: bool = False
) -> dict:
    """FTS5 MATCH query building (search_query_helpers.cpp:356-384):
    double-quoted spans become explicit phrases; an unquoted natural-
    language query of 3-4 tokens is auto-phrased whole; a token written
    ``tok*`` is an explicit FTS5 prefix term, and ``auto_phrase``-skipped
    queries under ``auto_prefix=True`` prefix-render every token of >= 4
    chars like the reference's NL builder. Returns {"phrases": [[t, ...],
    ...], "terms": [t, ...], "prefix_terms": [stem, ...]} with all tokens
    normalized by tokenize-lower."""
    import re as _re

    from yams_spark.functions.textnorm import tokenize_lower

    phrases = [tokenize_lower(p) for p in _re.findall(r'"([^"]+)"', query)]
    phrases = [p for p in phrases if p]
    rest = _re.sub(r'"[^"]*"', " ", query)
    terms: list[str] = []
    prefix_terms: list[str] = []
    for raw in rest.split():
        is_prefix = raw.endswith("*")
        toks = tokenize_lower(raw[:-1] if is_prefix else raw)
        if not toks:
            continue
        if is_prefix:
            terms.extend(toks[:-1])
            prefix_terms.append(toks[-1])
        else:
            terms.extend(toks)
    if (
        auto_phrase
        and not phrases
        and not prefix_terms
        and AUTO_PHRASE_MIN_TOKENS <= len(terms) <= AUTO_PHRASE_MAX_TOKENS
    ):
        return {"phrases": [terms], "terms": [], "prefix_terms": []}
    if auto_prefix:
        promoted = [t for t in terms if len(t) >= AUTO_PREFIX_MIN_CHARS]
        terms = [t for t in terms if len(t) < AUTO_PREFIX_MIN_CHARS]
        prefix_terms = prefix_terms + promoted
    return {"phrases": phrases, "terms": terms, "prefix_terms": prefix_terms}


def bm25_scores(
    postings: DataFrame,
    query_terms: list[str],
    match_all: bool = False,
    prefix_terms: list[str] | None = None,
    phrases: list[list[str]] | None = None,
    positional_postings: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, bm25) from posting statistics. ``match_all=False`` is the
    disjunctive (OR) query; ``match_all=True`` keeps only documents
    containing every distinct query term — FTS5 MATCH's implicit-AND
    semantics, the base mode of the reference's lexical pipeline.

    ``prefix_terms`` are FTS5 ``stem*`` prefix terms (renderFts5Token,
    search_query_helpers.cpp:377-380): each behaves as ONE query term
    whose per-document tf is the total count of vocabulary terms starting
    with the stem, and whose document frequency is the count of documents
    containing any of them — exactly FTS5's prefix-index semantics.

    ``phrases`` are quoted FTS5 phrases, each scored as ONE query term
    whose per-document tf is the adjacency occurrence count from the
    positional index (FTS5 MATCH '"a b"' indexes the phrase itself, the
    member tokens do not contribute separately); requires
    ``positional_postings`` for the position-list intersection."""
    k1, b = 1.2, 0.75  # Robertson's BM25 defaults, as FTS5's bm25()
    prefix_terms = list(dict.fromkeys(prefix_terms or []))
    phrases = [p for p in (phrases or []) if p]
    if phrases and positional_postings is None:
        raise ValueError("phrases require positional_postings")
    stats = postings.select("doc_id", "dl").dropDuplicates(["doc_id"]).agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = float(stats["n_docs"]), float(stats["avgdl"])
    tf = postings.where(F.col("term").isin(query_terms)).select(
        "doc_id", "dl", "term", "tf"
    )
    for stem in prefix_terms:
        p = (
            postings.where(F.col("term").startswith(stem))
            .groupBy("doc_id", "dl")
            .agg(F.sum("tf").alias("tf"))
            .select("doc_id", "dl", F.lit(stem + "*").alias("term"), "tf")
        )
        tf = tf.unionByName(p)
    dls = postings.select("doc_id", "dl").dropDuplicates(["doc_id"])
    for ph in phrases:
        pm = phrase_match(positional_postings, ph)
        p = pm.join(dls, "doc_id").select(
            "doc_id", "dl",
            F.lit('"' + " ".join(ph) + '"').alias("term"),
            F.col("n_occurrences").cast("long").alias("tf"),
        )
        tf = tf.unionByName(p)
    if match_all:
        n_terms = len(set(query_terms)) + len(prefix_terms) + len(phrases)
        full = (
            tf.groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nt"))
            .where(F.col("nt") == n_terms)
            .select("doc_id")
        )
        tf = tf.join(full, "doc_id", "left_semi")
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(df_, "term")
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "contrib",
            F.col("idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("bm25"))
    )


def normalize_bm25(scored: DataFrame) -> DataFrame:
    """lexical_scoring.cpp:18-43: min-max over the batch, 1-norm (raw scores
    are negative-better à la FTS5); degenerate range falls back to
    clamp(-raw/BM25_NORM_DIVISOR)."""
    rng = scored.agg(
        F.min("bm25").alias("mn"), F.max("bm25").alias("mx")
    ).collect()[0]
    if rng["mn"] is None:  # zero-hit batch: empty in, empty out, no crash
        return scored.withColumn("norm_score", F.lit(0.0))
    mn, mx = float(rng["mn"]), float(rng["mx"])
    if mx > mn:
        expr = F.lit(1.0) - (F.col("bm25") - F.lit(mn)) / F.lit(mx - mn)
    else:
        expr = -F.col("bm25") / F.lit(BM25_NORM_DIVISOR)
    return scored.withColumn(
        "norm_score", F.least(F.greatest(expr, F.lit(0.0)), F.lit(1.0))
    )


def aggregate_chunk_scores(
    chunk_scores: DataFrame,
    doc_col: str = "doc_hash",
    score_col: str = "score",
    mode: str = "WEIGHTED_TOP_K_AVG",
) -> DataFrame:
    """Chunk→doc aggregation (search_vector_pipeline.cpp:100-155). Returns
    (doc, agg_score) with the reference's deterministic ordering applied by
    the caller (score desc, doc asc)."""
    if mode == "MAX":
        return chunk_scores.groupBy(doc_col).agg(F.max(score_col).alias("agg_score"))
    if mode == "SUM":
        return chunk_scores.groupBy(doc_col).agg(
            F.least(F.sum(score_col), F.lit(1.0)).alias("agg_score")
        )
    w = Window.partitionBy(doc_col).orderBy(F.col(score_col).desc())
    ranked = chunk_scores.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= CHUNK_AGG_TOP_K
    )
    if mode == "TOP_K_AVG":
        return ranked.groupBy(doc_col).agg(F.avg(score_col).alias("agg_score"))
    if mode == "WEIGHTED_TOP_K_AVG":
        weight = F.pow(F.lit(CHUNK_AGG_DECAY), F.col("rk") - 1)
        return (
            ranked.withColumn("wt", weight)
            .groupBy(doc_col)
            .agg(
                (F.sum(F.col(score_col) * F.col("wt")) / F.sum("wt")).alias("agg_score")
            )
        )
    raise ValueError(f"unknown aggregation mode {mode}")


def fuse_evidence(
    components: DataFrame,
    lexical_floor_boost: float = 0.0,
) -> DataFrame:
    """components (doc_id, source, score, rank) -> fused (doc_id, fused_score).

    evidence_search_pipeline.cpp:184-229: per-(doc,source) aggregate then
    weighted-RRF sum; optional lexical rank floor boost/(1+rank).
    """
    per_source = components.groupBy("doc_id", "source").agg(
        F.max("score").alias("best_raw"),
        F.min("rank").alias("best_rank"),
        F.count("*").alias("occurrences"),
    )
    weight_expr = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(float(w)))
            for s, w in DEFAULT_SOURCE_WEIGHTS.items()
        ],
        F.lit(0.0),
    )
    clamped = F.least(F.greatest(F.col("best_raw"), F.lit(0.0)), F.lit(1.0))
    contribution = (
        weight_expr
        * (F.lit(1.0) / (F.lit(RRF_K) + F.col("best_rank") + 1.0))
        * (F.lit(1.0) + 0.5 * clamped)
    )
    scored = per_source.withColumn("contribution", contribution)
    fused = scored.groupBy("doc_id").agg(F.sum("contribution").alias("fused_score"))
    if lexical_floor_boost > 0.0:
        lex = (
            scored.where(F.col("source").isin(["text", "simeon_text", "graph_text"]))
            .groupBy("doc_id")
            .agg(F.min("best_rank").alias("lex_rank"))
            .withColumn(
                "floor",
                F.lit(min(max(lexical_floor_boost, 0.0), 1.0))
                / (F.lit(1.0) + F.col("lex_rank")),
            )
        )
        fused = (
            fused.join(lex.select("doc_id", "floor"), "doc_id", "left")
            .withColumn(
                "fused_score", F.col("fused_score") + F.coalesce("floor", F.lit(0.0))
            )
            .drop("floor")
        )
    return fused


def apply_hotzone_boost(
    fused: DataFrame,
    hotzone_df: DataFrame,
    weight: float,
) -> DataFrame:
    """Recency boost blend (enhanced_search_executor.cpp:101-110):
    score' = score · (1 + weight · (boost − 1)); boost already saturates
    at the hotzone max (hotzone_manager.h:21) and unknown keys boost 1.0.
    One left equi-join on the doc key — the hotzone table is per-document
    state, so this is an ordinary keyed join at any scale."""
    hz = hotzone_df.select(
        F.col("key").cast("string").alias("doc_id"), F.col("boost").alias("__boost")
    )
    return (
        fused.join(hz, "doc_id", "left")
        .withColumn(
            "fused_score",
            F.col("fused_score")
            * (
                F.lit(1.0)
                + F.lit(float(weight))
                * (F.coalesce(F.col("__boost"), F.lit(1.0)) - F.lit(1.0))
            ),
        )
        .drop("__boost")
    )


def chunk_coverage_stats(
    chunk_results: DataFrame,
    pooling: str = "AVG",
    total_chunks: DataFrame | None = None,
) -> DataFrame:
    """(base_id, pooled_score, contributing_chunks[, total_chunks,
    coverage]): group chunk-level vector hits by base document id — the
    chunk id before the first ``#`` (``baseIdFromChunkId``,
    reference src/search/chunk_coverage.cpp:8-16) — and pool AVG or MAX
    (groupAndAggregate :18-70). Duplicate full chunk ids collapse to
    their max score first (the reference drops later duplicates of an
    unordered map scan; max is the deterministic DataFrame restatement).
    ``total_chunks`` (base_id, total_chunks) enables coverage =
    contributing/total (chunk_coverage.h:25-31, null when unknown or 0).
    Caller orders by (pooled_score desc, base_id asc) like the
    reference's stable sort. Two keyed aggregations, no driver state."""
    if pooling not in ("AVG", "MAX"):
        raise ValueError(f"unknown pooling {pooling!r}")
    uniq = (
        chunk_results.select("chunk_id", F.col("similarity").alias("s"))
        .groupBy("chunk_id")
        .agg(F.max("s").alias("s"))
    )
    grouped = (
        uniq.withColumn("base_id", F.substring_index(F.col("chunk_id"), "#", 1))
        .groupBy("base_id")
        .agg(
            F.avg("s").alias("avg_s"),
            F.max("s").alias("max_s"),
            F.count("*").alias("contributing_chunks"),
        )
        .select(
            "base_id",
            (F.col("avg_s") if pooling == "AVG" else F.col("max_s")).alias(
                "pooled_score"
            ),
            "contributing_chunks",
        )
    )
    if total_chunks is None:
        return grouped
    tc = total_chunks.select("base_id", F.col("total_chunks").cast("long").alias("total_chunks"))
    return grouped.join(tc, "base_id", "left").withColumn(
        "coverage",
        F.when(
            F.col("total_chunks") > 0,
            F.col("contributing_chunks") / F.col("total_chunks"),
        ),
    )


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
) -> DataFrame:
    """Deterministic global row_number over ``order_cols`` (must be a total
    order — include a unique tie-break) WITHOUT a single-partition window.

    ``Window.orderBy`` with no partitionBy moves every row to one partition
    — the classic scale-killer. The scalable pattern instead: range-
    repartition on the order columns, pin the partitioning (localCheckpoint
    so the count job and the rank job see identical partition ids), collect
    the tiny per-partition counts, and rank within each partition plus its
    cumulative offset. Two shuffles + one scalar-sized collect, no
    single-partition stage.
    """
    cols = [c if not isinstance(c, str) else F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in parted.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    if not counts:
        return df.withColumn(rank_col, F.lit(None).cast("int"))
    offsets: list = []
    acc = 0
    for pid in sorted(counts):
        offsets.extend([F.lit(pid), F.lit(acc)])
        acc += counts[pid]
    off_expr = F.coalesce(
        F.element_at(F.create_map(*offsets), F.col("__pid")), F.lit(0)
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return parted.withColumn(
        rank_col, (F.row_number().over(w) + off_expr).cast("int")
    ).drop("__pid")


def topk_with_rescue(
    results: DataFrame,
    limit: int,
    rescue_slots: int = 0,
    eligible_col: str | None = None,
) -> DataFrame:
    """Truncate to ``limit`` by (score desc, id asc); then additively append
    up to ``rescue_slots`` eligible tail candidates — rescue never displaces
    the head (evidence_search_pipeline.cpp:250-332).

    Both head and tail are ``orderBy().limit()`` (TakeOrderedAndProject —
    a per-partition top-k then a k-row merge), never a global rank window:
    no single-partition sort at any scale.
    """
    order = [F.col("fused_score").desc(), F.col("doc_id").asc()]
    head = results.orderBy(*order).limit(limit)
    if rescue_slots > 0 and eligible_col is not None:
        tail = (
            results.join(head.select("doc_id"), "doc_id", "left_anti")
            .where(F.col(eligible_col))
            .orderBy(*order)
            .limit(rescue_slots)
        )
        return head.unionByName(tail)
    return head


def rerank_scores_overlap(
    head: DataFrame,
    docs: DataFrame,
    query_text: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic cross-encoder stand-in feeding ``cross_rerank_blend``
    (the reference reranks its top-5 with an ONNX cross-encoder,
    cross_rerank.cpp:60-160; model inference is out of scope here, so the
    scorer is query↔document token-set Jaccard — same stand-in policy as
    the feature-hash embedding). Pure Catalyst: tokenize both sides,
    array_intersect/array_union sizes; head is already tiny (top-5), so the
    join broadcasts."""
    from yams_spark.functions.textnorm import tokenize_lower

    q_tokens = sorted(set(tokenize_lower(query_text)))
    q_arr = F.array(*[F.lit(t) for t in q_tokens]) if q_tokens else F.array()
    toks = F.expr(
        f"array_distinct(filter(split(lower(regexp_replace({text_col}, "
        "'[^0-9a-zA-Z]+', ' ')), ' '), x -> x <> ''))"
    )
    scored = head.join(
        docs.select(F.col(id_col).cast("string").alias(id_col), toks.alias("__t")),
        id_col,
    )
    inter = F.size(F.array_intersect(F.col("__t"), q_arr))
    union = F.size(F.array_union(F.col("__t"), q_arr))
    return scored.withColumn(
        "rerank_score",
        F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
            F.lit(0.0)
        ),
    ).drop("__t")


def cross_rerank_blend(head: DataFrame) -> DataFrame:
    """cross_rerank.cpp:60-160: min-max normalize both score sets over the
    head and blend final = alpha·rerankNorm + (1-alpha)·origNorm; if either
    set has no variance the original ordering is kept."""
    alpha = 0.30
    rng = head.agg(
        F.min("fused_score").alias("omn"), F.max("fused_score").alias("omx"),
        F.min("rerank_score").alias("rmn"), F.max("rerank_score").alias("rmx"),
    ).collect()[0]
    if rng["omx"] == rng["omn"] or rng["rmx"] == rng["rmn"]:
        return head.withColumn("blended_score", F.col("fused_score"))
    onorm = (F.col("fused_score") - rng["omn"]) / (rng["omx"] - rng["omn"])
    rnorm = (F.col("rerank_score") - rng["rmn"]) / (rng["rmx"] - rng["rmn"])
    return head.withColumn("blended_score", F.lit(alpha) * rnorm + F.lit(1 - alpha) * onorm)
