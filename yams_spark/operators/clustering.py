"""Transitive clustering: distributed connected components + canonical
selection + group publication.

The reference closes accepted pairs with an in-memory union-find
(dedupe.cpp:135-155) and, in the topology engine, BFS components
(topology_baseline.cpp:266-333). At 10^12 documents that becomes the
iterative **large-star / small-star** algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond") over edge DataFrames: each star is a
groupBy(min) joined back to its edges (skew-splittable by AQE, unlike a
window over a hub's partition), the loop stops as soon as the edges form
stars around their component minimum (O(log n) rounds), and the lineage is
truncated every round with ``localCheckpoint`` so plans don't blow up. Node
ids are urls; the component label is the lexicographic min url, which
makes results deterministic. Publication packs each
component's members and accepted pairs in one aggregation and derives every
published column with JVM array expressions over the packed lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ALGORITHM_VERSION = "semantic-dedupe-v1"  # dedupe.cpp:291


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every neighbor v > u to min(N(u) ∪ {u})."""
    bidir = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.withColumn("mn", F.least(F.col("mn"), F.col("u")))
    # duplicate edges change no min, and _small_star ends in distinct()
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("mn").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect all neighbors v ≤ u (and u) to the min."""
    directed = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("mn"))
    relinked = (
        directed.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("mn").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    self_edges = mins.select(F.col("u").alias("src"), F.col("mn").alias("dst"))
    return relinked.unionAll(self_edges).distinct()


#: at or below this many edges the transitive closure finishes as a
#: driver-side union-find (the reference's own structure). Above it, the
#: distributed large-star/small-star rounds run — the only option at
#: 10^12-document scale — and every round re-checks the gate: star
#: transformations preserve connectivity while shrinking the edge set
#: toward (nodes − roots), so a huge graph contracts distributedly until
#: the tail fits the driver and the remaining O(log n) rounds (each two
#: shuffles + a convergence job of pure scheduling latency) are replaced
#: by one Arrow transfer + a linear fold. 2M edges is ~1.5s of driver
#: fold + ~80MB transfer — far cheaper than the rounds it replaces, and
#: the fixed per-round job latency is exactly what erodes N→4N scaling
#: efficiency. Both paths label components by min url, so results are
#: identical (property-tested, including the contract-then-finish path).
DRIVER_CC_MAX_EDGES = 2_000_000


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Collect small edge sets and close them driver-side (the reference's
    own structure, dedupe.cpp:135-155), vectorized: factorize urls to int
    codes, converge a min-label hook + pointer-jump loop in numpy (2-3
    array passes at bench scale vs ~1M dict-based find() calls — the old
    per-edge Python union-find was ~2x slower and fully serial on the
    driver), then label each component with its lexicographically smallest
    url via one Arrow string sort (UTF-8 byte order == code-point order).
    Output is identical to the path-compressed union-find (fuzz + real
    952k-edge equality tested). Arrow in both directions — py4j row
    serialization is ~10x slower."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pac

    pdf = edges.toPandas()
    spark = edges.sparkSession
    if len(pdf) == 0:
        return spark.createDataFrame([], "url string, component string")
    both = pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    codes, uniq = pd.factorize(both)
    m = len(pdf)
    src = codes[:m]
    dst = codes[m:]
    n = len(uniq)
    parent = np.arange(n, dtype=np.int64)
    while True:
        ps = parent[src]
        pd_ = parent[dst]
        hi = np.maximum(ps, pd_)
        lo = np.minimum(ps, pd_)
        if not (hi != lo).any():
            break
        # hook each edge's larger label onto the smaller (unbuffered .at
        # keeps concurrent mins correct), then compress to fixpoint
        np.minimum.at(parent, hi, lo)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    urls = np.asarray(uniq, dtype=object)
    order = pac.sort_indices(pa.array(uniq)).to_numpy().astype(np.int64)
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n, dtype=np.int64)
    min_rank = np.full(n, n, dtype=np.int64)
    np.minimum.at(min_rank, parent, rank)
    component = urls[order[min_rank[parent]]]
    out = pd.DataFrame({"url": urls, "component": component})
    return spark.createDataFrame(out)


def connected_components(
    edges: DataFrame,
    src: str = "url_a",
    dst: str = "url_b",
    max_iter: int = 50,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """edges -> (url, component) where component = min url in the component.

    Includes only nodes that appear in at least one edge (singletons are
    handled by the caller via a left join).

    Distributed rounds: a large star and a small star, then one
    aggregation over the lazily checkpointed edges that materializes the
    checkpoint and returns the edge count (the driver-finish gate) and the
    stop rule. After ``_small_star`` every edge points from the larger url
    to the smaller; the loop stops when no node has both an in-edge and an
    out-edge and no node has two out-edges. Every component is then a star
    centred on its minimum, and another round would return the same edges,
    so none is run to confirm it. That matters: a round is about ten Spark
    jobs, because AQE submits every shuffle stage of the two stars and of
    the stop-rule aggregation as its own job.

    ``driver_max_edges=0`` disables the driver union-find entirely — the
    star rounds run to convergence (the pure 10^12-scale path). ``stats``
    (optional dict) is filled with {mode, rounds, edges_initial} for
    bench/lineage reporting. Raises ``RuntimeError`` when ``max_iter``
    rounds end short of the star state.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src") != F.col("dst")
    ).distinct()
    e = e.localCheckpoint(eager=False)

    n0 = e.count()
    if stats is not None:
        stats["edges_initial"] = n0
        stats["rounds"] = 0
        stats["mode"] = "driver"
    if driver_max_edges and n0 <= driver_max_edges:
        return _driver_union_find(e)

    cnt = n0
    for rnd in range(1, max_iter + 1):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # per node: out-edges (as src) and in-edges (as dst)
        deg = e.select(F.col("src").alias("u"), F.lit(1).alias("o"), F.lit(0).alias("i")).unionAll(
            e.select("dst", F.lit(0), F.lit(1))
        ).groupBy("u").agg(F.sum("o").alias("o"), F.sum("i").alias("i"))
        cnt, bad = deg.agg(
            F.coalesce(F.sum("o"), F.lit(0)),
            F.coalesce(F.bool_or(((F.col("o") > 0) & (F.col("i") > 0)) | (F.col("o") > 1)),
                       F.lit(False)),
        ).collect()[0]
        if stats is not None:
            stats["rounds"] = rnd
        # star rounds preserve both connectivity and the endpoint set, so
        # once the contracted graph fits the driver budget the tail is a
        # single union-find instead of more O(log n) star rounds
        if driver_max_edges and cnt <= driver_max_edges:
            if stats is not None:
                stats["mode"] = "hybrid"
            return _driver_union_find(e)
        if not bad:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({cnt} edges left)"
        )
    if stats is not None:
        stats["mode"] = "distributed"

    # star edges: leaf src -> root dst; roots label themselves
    return e.select(F.col("src").alias("url"), F.col("dst").alias("component")).unionAll(
        e.select(F.col("dst").alias("url"), F.col("dst").alias("component"))
    ).groupBy("url").agg(F.min("component").alias("component"))


def _pack_components(
    labels: DataFrame, members: DataFrame, pairs: DataFrame
) -> DataFrame:
    """(component, mems, prs): member rows joined to ``labels`` on ``url``
    and pair rows on ``url_a`` (both endpoints of an accepted edge share a
    component by construction), unioned and packed by ONE groupBy —
    collect_list skips the nulls the union adds, so lists are never null."""
    m = members.join(labels, "url").select(
        "component", F.struct(*members.columns).alias("m")
    )
    p = pairs.join(labels.withColumnRenamed("url", "url_a"), "url_a").select(
        "component", F.struct(*pairs.columns).alias("p")
    )
    return m.unionByName(p, allowMissingColumns=True).groupBy("component").agg(
        F.collect_list("m").alias("mems"), F.collect_list("p").alias("prs")
    )


def clusters_stage(
    signatures: DataFrame,
    accepted_pairs: DataFrame,
    threshold: float = 0.92,
    strategy: str = "keep-newest",
    max_component_docs: int | None = None,
    driver_cc_max_edges: int = DRIVER_CC_MAX_EDGES,
    cc_stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Publish (clusters, members) mirroring semantic_duplicate_groups /
    _members (migration.cpp:2598-2663; trace dedupe.cpp:217-350).

    After labeling, members and accepted pairs are packed per component in
    one aggregation and the whole publication (canonical selection,
    group_key, max_pair_score, direct-pair member metrics) is JVM array
    expressions over the packed lists — no Python pass.

    ``max_component_docs`` (default off, preserving oracle equality) bounds
    the packed collect_list rows: components larger than the cap are split
    by ``split_oversized_components`` (topology_baseline.cpp:44-120,
    reference cap 64) before packing, so one boilerplate mega-component can
    never become a single-task OOM. Split sub-components are visible as
    ``<component>#<i>`` labels in the published output.
    """
    labels = connected_components(
        accepted_pairs, driver_max_edges=driver_cc_max_edges, stats=cc_stats
    )
    # labels feed both sides of the pack (and the oversize split): pin them
    # once — without this, the driver path re-converts the local pandas
    # relation per consumer and the distributed path re-runs the final
    # label aggregation per consumer
    labels = labels.localCheckpoint(eager=True)
    if max_component_docs is not None:
        labels = split_oversized_components(
            labels, accepted_pairs, max_component_docs
        )
    packed = _pack_components(
        labels,
        signatures.select("url", "warc_ts", "size", "doc_hash"),
        accepted_pairs.select(
            "url_a", "url_b", "cosine", "title_overlap", "path_overlap", "pair_score"
        ),
    )

    # canonical selection (dedupe.cpp:223-240): the stable sort "url asc,
    # then strategy" is the min of struct(key, url). A null key fails
    # loudly; struct ordering would put it first and make it canonical.
    field = "size" if strategy == "keep-largest" else "warc_ts"

    def rank(m):
        key = m["size"] if field == "size" else F.unix_micros(m["warc_ts"])
        fail = F.raise_error(F.concat(
            F.lit(f"canonical strategy {strategy}: null {field} at "), m["url"]))
        key = F.when(m[field].isNull(), fail).otherwise(
            key if strategy == "keep-oldest" else -key)
        return F.struct(key.alias("k"), m["url"].alias("url"))

    # direct-canonical pair metrics (dedupe.cpp:324-337) by other endpoint
    canon = F.col("canonical_url")
    direct = F.map_from_entries(F.transform(
        F.filter("prs", lambda p: (p["url_a"] == canon) | (p["url_b"] == canon)),
        lambda p: F.struct(F.when(p["url_a"] == canon, p["url_b"]).otherwise(p["url_a"]), p),
    ))
    hashes = F.array_sort(F.transform("mems", lambda m: m["doc_hash"]))
    full = (
        packed.where(F.size("mems") >= 2)
        .withColumn("canonical_url", F.array_min(F.transform("mems", rank))["url"])
        .select(
            "component",
            F.concat(F.lit(f"semantic:{strategy}:{threshold:.3f}:"),
                     F.array_join(hashes, ",")).alias("group_key"),
            "canonical_url",
            F.size("mems").cast("long").alias("member_count"),
            F.coalesce(F.array_max(F.transform("prs", lambda p: p["pair_score"])),
                       F.lit(0.0)).alias("max_pair_score"),
            "mems",
            direct.alias("direct"),
        )
        .persist()
    )

    clusters = (
        full.select(
            "group_key",
            F.lit(ALGORITHM_VERSION).alias("algorithm_version"),
            "canonical_url",
            "member_count",
            "max_pair_score",
            F.lit(threshold).alias("threshold"),
            "component",
        ).dropDuplicates(["group_key"])
    )
    exploded = full.select("group_key", "canonical_url", "direct", "component",
                           F.explode("mems").alias("m"))
    d = F.col("direct")[F.col("m.url")]
    members = exploded.select(
        "group_key", "m.url",
        F.when(F.col("m.url") == canon, "canonical").otherwise("duplicate").alias("role"),
        d["cosine"].alias("similarity_to_canonical"),
        *(d[c].alias(c) for c in ("title_overlap", "path_overlap", "pair_score")),
        "component",
    )
    return clusters, members


def cluster_metrics(
    signatures: DataFrame,
    accepted_pairs: DataFrame,
) -> DataFrame:
    """Per-cluster topology metrics (topology_baseline.cpp:122-208):

    cohesion     = mean internal edge weight
    persistence  = min internal edge weight
    density      = internal_edges / C(n,2)
    bridge_mass  = frac(members with internal degree >= 2), only when n > 2
    medoid       = argmax weighted internal degree (tolerance 1e-9), ties
                   broken by LOWEST doc hash (the reference comparator
                   orders ties by hash descending inside max_element)
    centroid     = mean member embedding (topology_build_utils.h)

    Packed per component by ``_pack_components``; the per-component
    numeric kernel runs in one Arrow pass.
    """
    import numpy as np
    import pandas as pd

    labels = connected_components(accepted_pairs)
    labels = labels.localCheckpoint(eager=True)  # both sides of the pack

    packed = _pack_components(
        labels,
        signatures.select("url", "doc_hash", "embedding"),
        accepted_pairs.select("url_a", "url_b", F.col("pair_score").alias("w")),
    ).where(F.size("mems") > 0)  # pair urls with no signature row have no members

    schema = (
        "component string, member_count long, internal_edges long, "
        "cohesion double, persistence double, density double, "
        "bridge_mass double, medoid_url string, medoid_hash string, "
        "medoid_score double, centroid array<float>"
    )

    def compute(iterator):
        for pdf in iterator:
            rows = []
            for component, members, pairs in zip(pdf["component"], pdf["mems"], pdf["prs"]):
                members = list(members)
                n = len(members)
                pair_list = list(pairs)
                wdeg: dict[str, float] = {m["url"]: 0.0 for m in members}
                deg: dict[str, int] = {m["url"]: 0 for m in members}
                cohesion_sum = 0.0
                persistence = 0.0
                n_edges = 0
                for p in pair_list:
                    w = float(p["w"])
                    wdeg[p["url_a"]] = wdeg.get(p["url_a"], 0.0) + w
                    wdeg[p["url_b"]] = wdeg.get(p["url_b"], 0.0) + w
                    deg[p["url_a"]] = deg.get(p["url_a"], 0) + 1
                    deg[p["url_b"]] = deg.get(p["url_b"], 0) + 1
                    cohesion_sum += w
                    persistence = w if n_edges == 0 else min(persistence, w)
                    n_edges += 1
                cohesion = cohesion_sum / n_edges if n_edges else 0.0
                if n_edges == 0:
                    persistence = 0.0
                possible = n * (n - 1) / 2.0 if n > 1 else 0.0
                density = n_edges / possible if possible else 0.0
                bridge = (
                    sum(1 for m in members if deg.get(m["url"], 0) >= 2) / n
                    if n > 2
                    else 0.0
                )
                hash_of = {m["url"]: m["doc_hash"] for m in members}
                medoid_url = None
                for m in members:
                    u = m["url"]
                    if medoid_url is None:
                        medoid_url = u
                        continue
                    da, db = wdeg.get(u, 0.0), wdeg.get(medoid_url, 0.0)
                    if abs(da - db) > 1e-9:
                        if da > db:
                            medoid_url = u
                    elif hash_of[u] < hash_of[medoid_url] or (
                        # equal hashes happen (exact byte duplicates at
                        # different urls); lowest url makes the choice
                        # deterministic regardless of pack order — the
                        # reference's max_element would keep an arbitrary
                        # first-encountered member here
                        hash_of[u] == hash_of[medoid_url]
                        and u < medoid_url
                    ):
                        medoid_url = u
                emb = np.stack(
                    [np.asarray(m["embedding"], dtype=np.float64) for m in members]
                )
                centroid = emb.mean(axis=0).astype(np.float32)
                rows.append(
                    (
                        component, n, n_edges, cohesion, persistence, density,
                        bridge, medoid_url, hash_of[medoid_url],
                        max(0.0, wdeg.get(medoid_url, 0.0)), centroid.tolist(),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "component", "member_count", "internal_edges", "cohesion",
                        "persistence", "density", "bridge_mass", "medoid_url",
                        "medoid_hash", "medoid_score", "centroid",
                    ],
                )

    return packed.mapInPandas(compute, schema=schema)


def split_oversized_components(
    labels: DataFrame,
    accepted_pairs: DataFrame,
    max_component_docs: int = 64,
    max_packed_edges: int = 2_000_000,
) -> DataFrame:
    """Oversized-component split (topology_baseline.cpp:44-120): components
    larger than ``max_component_docs`` are re-grown greedily from the
    strongest edges into sub-components of at most that size. Returns
    (url, component) with oversized components relabeled
    ``<component>#<i>`` (i in discovery order of seed edges, weight desc;
    members no retained edge reaches become singleton sub-components
    labeled ``<component>#s:<url>`` — unique without any coordination).

    Edge budget (a LOSSY bound): the grower also consumes edges that place
    nobody (target sub full, both ends settled), so no constant per-parent
    budget can guarantee the untruncated greedy's assignment — a dense
    cap-clique alone burns ~cap²/2 edges. Each parent therefore retains the
    strongest ``min(cap · n_members, max_packed_edges)`` edges (window
    partitioned on the parent, BEFORE the single collect_list): linear in
    component size, and enough that a truncated parent must have ≥ cap
    skipped edges per member — in practice the greedy matches untruncated
    growth far beyond the clique regime. Parents whose cap·n exceeds
    ``max_packed_edges`` (≥ ~31k members at cap 64) are where the bound
    becomes genuinely lossy: members only reachable through dropped weak
    edges fall out as ``#s:`` singletons. That truncation is the price of
    packing one boilerplate 10⁸-member component into a single bounded
    task instead of its full edge set. Unassigned members are labeled as
    singletons distributively (anti-join), not inside the packed task.
    """
    import pandas as pd

    sizes = labels.groupBy("component").agg(F.count("*").alias("n"))
    big = sizes.where(F.col("n") > max_component_docs).select("component", "n")
    small = labels.join(big.select("component"), "component", "left_anti")

    big_members = labels.join(big.select("component"), "component")
    labels_for_pairs = big_members.select(
        F.col("url").alias("url_a"), F.col("component").alias("comp")
    )
    ew = Window.partitionBy("comp").orderBy(
        F.col("pair_score").desc(), F.col("url_a").asc(), F.col("url_b").asc()
    )
    parent_budget = big.select(
        F.col("component").alias("comp"),
        F.least(
            F.col("n") * max_component_docs, F.lit(max_packed_edges)
        ).alias("__e_max"),
    )
    big_edges = (
        accepted_pairs.select("url_a", "url_b", "pair_score")
        .join(labels_for_pairs, "url_a")
        .withColumn("__rk", F.row_number().over(ew))
        .join(parent_budget, "comp")
        .where(F.col("__rk") <= F.col("__e_max"))
        .groupBy("comp")
        .agg(F.collect_list(F.struct("url_a", "url_b", "pair_score")).alias("prs"))
    )

    def split(iterator):
        for pdf in iterator:
            rows = []
            for component, pairs in zip(pdf["comp"], pdf["prs"]):
                edges = sorted(
                    (list(pairs) if pairs is not None else []),
                    key=lambda p: (-p["pair_score"], p["url_a"], p["url_b"]),
                )
                assigned: dict[str, str] = {}
                sub_sizes: dict[str, int] = {}
                idx = 0
                for p in edges:
                    a, b = p["url_a"], p["url_b"]
                    ca, cb = assigned.get(a), assigned.get(b)
                    if ca is None and cb is None:
                        sub = f"{component}#{idx}"
                        idx += 1
                        assigned[a] = assigned[b] = sub
                        sub_sizes[sub] = 2
                    elif ca is None and sub_sizes[cb] < max_component_docs:
                        assigned[a] = cb
                        sub_sizes[cb] += 1
                    elif cb is None and ca is not None and sub_sizes[ca] < max_component_docs:
                        assigned[b] = ca
                        sub_sizes[ca] += 1
                for u, sub in assigned.items():
                    rows.append((u, sub))
            if rows:
                yield pd.DataFrame(rows, columns=["url", "component"])

    edge_assigned = big_edges.mapInPandas(
        split, schema="url string, component string"
    )
    # members not reached by any retained edge become singleton
    # sub-components; the url itself makes the label unique, so no
    # numbering coordination (and no per-parent window that a mega-parent
    # would turn into one hot partition) is needed — narrow anti-join only
    singles = big_members.join(
        edge_assigned.select("url"), "url", "left_anti"
    ).select(
        "url", F.concat(F.col("component"), F.lit("#s:"), F.col("url")).alias("component")
    )
    return small.unionByName(
        edge_assigned.select("url", "component")
    ).unionByName(singles)
