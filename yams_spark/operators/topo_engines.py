"""Alternate topology cluster engines: deterministic spherical k-means,
single-pass Louvain, and the shared assignment→artifact batch builder.

Re-expresses ``/root/reference/src/topology/topology_alternate_engines.cpp``
the Spark way:

* ``build_pair_weights`` (≡ buildPairWeights, :49-82): undirected
  max-weight pair admission (existence check, self-loop drop,
  reciprocal-only and min-edge-score gates) as two equi-joins + one
  keyed max — the same edge table the topology CC/SGC paths consume.
* ``kmeans_assign`` (≡ runKMeans, :338-478): deterministic spherical
  k-means — farthest-first (Gonzalez) seeding with no RNG so snapshots
  reproduce across rebuilds, Lloyd iterations with the reference's
  float32 running-mean + renormalise centroid arithmetic, and the
  empty-cluster repair that reseeds from the globally worst-fit member.
  Spark shape: seeding is k bounded passes (one distance map + one
  global top-1 per round — the distributed Gonzalez), each Lloyd
  iteration is one vectorised ``mapInPandas`` assignment (Arrow batch ×
  (k·dim) matmul in float64, the C++ accumulator type) plus one keyed
  ``applyInPandas`` centroid pass; the centroid set (k·dim floats) is
  the only driver-resident state. The axis that grows at 100 TB — the
  document axis — never leaves the cluster. For approximate/fast coarse
  quantisation the repo's IVF trainer (``operators/ivf.py``) remains the
  sampled path; this engine is the reference-faithful deterministic one.
* ``louvain_assign`` (≡ runLouvain, :488-593): single-pass greedy
  modularity node-moves. The algorithm is inherently sequential (each
  move updates the community degrees the next decision reads), so —
  exactly like the reference, which runs it in one address space — the
  exact loop runs driver-side under an explicit edge gate
  (``max_driver_edges``, default the same 2M bound as the CC driver
  finish). Beyond the gate the caller is redirected to the distributed
  CC/SGC engines (the production TopologyManager default); a
  synchronous-parallel Louvain would silently change results, so it is
  deliberately NOT offered as a drop-in.
* ``build_batch_from_assignment`` (≡ buildBatchFromAssignment,
  :100-266): the shared artifact builder — min-member-hash cluster ids
  (makeClusterId, :30-32), cohesion/persistence/density/bridge metrics,
  protected vs preserved pair counts, weighted-degree medoids with the
  1e-9 min-hash tie rule, float32 member-mean centroids
  (topology_build_utils.h:27-56) and per-member roles. Everything is
  keyed aggregation + windows; no driver materialisation. At the
  reference's defaults (one routing representative, no overlap) its
  representative and spill post-passes add nothing, so they are not
  run here; ``operators/topo_reps`` implements both.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: same driver-finish bound class as clustering.DRIVER_CC_MAX_EDGES
LOUVAIN_MAX_DRIVER_EDGES = 2_000_000

CLUSTER_ID_PREFIX = "topology.cluster."  # makeClusterId (:30-32)


def build_pair_weights(
    neighbors: DataFrame,
    documents: DataFrame,
) -> DataFrame:
    """(lo_hash, hi_hash, weight): undirected max-weight pairs from the
    reciprocal edges of the directed neighbor lists (buildPairWeights,
    :49-82). ``neighbors``: (doc_hash, neighbor_hash, score float,
    reciprocal boolean); ``documents`` supplies the existence filter
    (:58-61). The reference drops ``score < float(minEdgeScore)`` in
    float32 (:69) at its default minEdgeScore of 0."""
    known = documents.select(F.col("doc_hash").alias("_known")).where(
        F.col("_known") != ""
    ).distinct()
    e = neighbors.select(
        F.col("doc_hash").alias("src"),
        F.col("neighbor_hash").alias("dst"),
        F.col("score").cast("float").alias("weight"),
        F.col("reciprocal").alias("reciprocal"),
    ).where((F.col("src") != "") & (F.col("dst") != "") & (F.col("src") != F.col("dst")))
    e = e.where(F.col("reciprocal")).where(F.col("weight") >= 0.0)
    e = e.join(known.withColumnRenamed("_known", "src"), "src", "left_semi")
    e = e.join(known.withColumnRenamed("_known", "dst"), "dst", "left_semi")
    return (
        e.select(
            F.least("src", "dst").alias("lo_hash"),
            F.greatest("src", "dst").alias("hi_hash"),
            "weight",
        )
        .groupBy("lo_hash", "hi_hash")
        .agg(F.max("weight").alias("weight"))
    )


def _normalize32(v: np.ndarray) -> np.ndarray:
    """normalized() (:307-319): float64 norm, float32 inverse scale."""
    v = np.asarray(v, dtype=np.float32)
    norm = float(np.dot(v.astype(np.float64), v.astype(np.float64)))
    if norm > 0.0:
        v = v * np.float32(1.0 / math.sqrt(norm))
    return v


def _dist_matrix(batch: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """cosineDistance (:288-305) vectorised in float64: rows × centroids,
    2.0 for zero-norm rows/centroids."""
    dots = batch @ cents.T
    bn = np.sqrt(np.einsum("ij,ij->i", batch, batch))
    cn = np.sqrt(np.einsum("ij,ij->i", cents, cents))
    denom = bn[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom > 0.0, dots / denom, np.nan)
    d = 1.0 - np.clip(cos, -1.0, 1.0)
    return np.where(np.isnan(d), 2.0, d)


def kmeans_assign(
    documents: DataFrame,
    k: int = 0,
) -> DataFrame:
    """(doc_hash, idx, label): deterministic spherical k-means assignment
    (runKMeans, :341-478). ``idx`` is the reference's document span
    order — seeding, tie-breaks and the unusable-singleton numbering all
    follow it. Unusable documents (empty embedding or dimension mismatch
    with the first non-empty one) become singleton buckets; their labels
    are ``k + idx`` — unique and disjoint from [0, k) like the
    reference's ``k, k+1, …`` counter, and equivalent downstream because
    ``build_batch_from_assignment`` treats labels as opaque bucket keys
    (:96-99)."""
    spark = documents.sparkSession
    docs = documents.select(
        F.col("doc_hash"),
        F.col("idx").cast("long").alias("idx"),
        F.col("embedding"),
    ).persist()
    n = docs.count()
    if n == 0:
        return spark.createDataFrame([], "doc_hash string, idx long, label long")

    first = (
        docs.where(F.size("embedding") > 0).orderBy("idx").limit(1).collect()
    )
    dim = len(first[0]["embedding"]) if first else 0
    usable = docs.where(F.size("embedding") == dim) if dim > 0 else docs.limit(0)
    usable = usable.persist()
    n_usable = usable.count()
    if n_usable < 2 or dim == 0:
        # :362-365 — every document its own bucket
        return docs.select("doc_hash", "idx", F.col("idx").alias("label"))

    if k <= 0:
        k = int(math.floor(math.sqrt(float(n_usable)) + 0.5))  # std::round
    k = max(2, min(k, n_usable))

    # --- farthest-first seeding (:373-401): k bounded passes ---
    seed0 = usable.orderBy("idx").limit(1).collect()[0]
    cents: list[np.ndarray] = [_normalize32(np.asarray(seed0["embedding"]))]

    def dist_to(cent: np.ndarray):
        c64 = cent.astype(np.float64)

        @F.pandas_udf("double")
        def _d(embs: pd.Series) -> pd.Series:
            m = np.stack([np.asarray(e, dtype=np.float64) for e in embs])
            return pd.Series(_dist_matrix(m, c64[None, :])[:, 0])

        return _d

    work = usable.withColumn("mind", F.lit(float("inf")))
    for step in range(1, k):
        work = work.withColumn(
            "mind", F.least("mind", dist_to(cents[-1])(F.col("embedding")))
        )
        if step % 8 == 0:
            work = work.localCheckpoint(eager=False)
        far = (
            work.orderBy(F.col("mind").desc(), F.col("idx").asc())
            .limit(1)
            .collect()
        )
        if not far:
            break
        cents.append(_normalize32(np.asarray(far[0]["embedding"])))
    k = len(cents)

    # --- Lloyd iterations with float32 centroid arithmetic (:412-466) ---
    labels = usable.select("doc_hash", "idx").withColumn("label", F.lit(0))
    for _it in range(10):
        cmat = np.stack([c.astype(np.float64) for c in cents])

        def assign(batches, cmat=cmat):
            for pdf in batches:
                m = np.stack(
                    [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
                )
                d = _dist_matrix(m, cmat)
                yield pd.DataFrame(
                    {
                        "doc_hash": pdf["doc_hash"],
                        "idx": pdf["idx"],
                        "label": np.argmin(d, axis=1).astype("int64"),
                    }
                )

        new_labels = usable.mapInPandas(
            assign, schema="doc_hash string, idx long, label long"
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "idx")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        ) > 0
        labels = new_labels

        # float32 running-mean + renormalise, members in idx order
        # (centroidOf :403-410 over the usable scan order)
        def mean32(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("idx")
            acc = np.zeros(dim, dtype=np.float32)
            cnt = 0
            for e in pdf["embedding"]:
                acc += np.asarray(e, dtype=np.float32)
                cnt += 1
            mean = acc / np.float32(cnt)
            return pd.DataFrame(
                {"label": [int(pdf["label"].iloc[0])],
                 "centroid": [[float(x) for x in _normalize32(mean)]]}
            )

        cent_rows = (
            usable.join(labels.select("idx", "label"), "idx")
            .groupBy("label")
            .applyInPandas(mean32, schema="label long, centroid array<float>")
            .collect()
        )  # bounded: k rows of dim floats
        present: dict[int, np.ndarray] = {
            int(r["label"]): np.asarray(r["centroid"], dtype=np.float32)
            for r in cent_rows
        }
        for c, vec in present.items():
            cents[c] = vec

        # empty-cluster repair (:433-462): reseed from the globally
        # worst-fit member of any donor cluster with > 1 members —
        # sequential per empty slot, exactly as the reference.
        sizes = {
            int(r["label"]): r["cnt"]
            for r in labels.groupBy("label").agg(F.count("*").alias("cnt")).collect()
        }
        for c in range(k):
            if sizes.get(c, 0) > 0:
                continue
            cmat2 = np.stack([cc.astype(np.float64) for cc in cents])
            donors = [lab for lab, s in sizes.items() if s > 1]
            if not donors:
                continue

            def selfdist(batches, cmat2=cmat2):
                for pdf in batches:
                    m = np.stack(
                        [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
                    )
                    d = _dist_matrix(m, cmat2)
                    lab = pdf["label"].to_numpy()
                    yield pd.DataFrame(
                        {"idx": pdf["idx"],
                         "d": d[np.arange(len(lab)), lab]}
                    )

            worst = (
                usable.join(labels.select("idx", "label"), "idx")
                .where(F.col("label").isin([int(x) for x in donors]))
                .mapInPandas(selfdist, schema="idx long, d double")
                .orderBy(F.col("d").desc(), F.col("idx").asc())
                .limit(1)
                .collect()
            )
            if not worst:
                continue
            stolen_idx = int(worst[0]["idx"])
            donor = int(
                labels.where(F.col("idx") == stolen_idx).collect()[0]["label"]
            )
            labels = labels.withColumn(
                "label",
                F.when(F.col("idx") == stolen_idx, F.lit(c)).otherwise(
                    F.col("label")
                ),
            ).localCheckpoint(eager=True)
            stolen_emb = np.asarray(
                usable.where(F.col("idx") == stolen_idx).collect()[0]["embedding"]
            )
            cents[c] = _normalize32(stolen_emb)
            donor_rows = (
                usable.join(labels.select("idx", "label"), "idx")
                .where(F.col("label") == donor)
                .groupBy("label")
                .applyInPandas(mean32, schema="label long, centroid array<float>")
                .collect()
            )
            if donor_rows:
                cents[donor] = np.asarray(
                    donor_rows[0]["centroid"], dtype=np.float32
                )
            sizes[c] = 1
            sizes[donor] = sizes.get(donor, 1) - 1
            changed = True
        if not changed:
            break

    out = labels.select("doc_hash", "idx", "label")
    leftovers = docs.join(usable.select("idx"), "idx", "left_anti").select(
        "doc_hash", "idx", (F.lit(int(k)) + F.col("idx")).alias("label")
    )
    return out.unionByName(leftovers)


def _exact_louvain(
    n: int,
    adjacency: list[list[tuple[int, float]]],
) -> list[int]:
    """Literal runLouvain (:491-593): greedy node-moves in index order
    with mutable community degrees; compacted community ids. Candidate
    iteration follows adjacency insertion order (the reference iterates
    an unordered_map — order-dependent only on exact gain ties, which
    callers must not rely on; the fixture asserts distinct gains)."""
    assignment = list(range(n))
    if n == 0:
        return assignment
    node_degree = [0.0] * n
    for i in range(n):
        for _j, w in adjacency[i]:
            node_degree[i] += float(w)
    two_m = sum(node_degree)
    if two_m <= 0.0:
        return assignment
    comm_degree = [0.0] * n
    for i in range(n):
        comm_degree[assignment[i]] = node_degree[i]

    def delta_q(node: int, target: int, w_to_target: float) -> float:
        kdeg = node_degree[node]
        sigma = comm_degree[target]
        return w_to_target / two_m - (sigma * kdeg) / (two_m * two_m)

    improved = True
    it = 0
    while improved and it < 10:
        improved = False
        it += 1
        for i in range(n):
            from_comm = assignment[i]
            kdeg = node_degree[i]
            w_to_comm: dict[int, float] = {}
            for j, w in adjacency[i]:
                w_to_comm[assignment[j]] = w_to_comm.get(assignment[j], 0.0) + float(w)
            w_to_from = w_to_comm.get(from_comm, 0.0)
            w_to_comm.setdefault(from_comm, 0.0)
            best_comm = from_comm
            best_gain = 0.0
            comm_degree[from_comm] -= kdeg
            for cand, w_to_cand in w_to_comm.items():
                if cand == from_comm:
                    continue
                gain = delta_q(i, cand, w_to_cand) - (
                    -delta_q(i, from_comm, w_to_from)
                )
                if gain > best_gain:
                    best_gain = gain
                    best_comm = cand
            assignment[i] = best_comm
            comm_degree[best_comm] += kdeg
            if best_comm != from_comm:
                improved = True

    remap: dict[int, int] = {}
    for i, a in enumerate(assignment):
        assignment[i] = remap.setdefault(a, len(remap))
    return assignment


def louvain_assign(
    documents: DataFrame,
    pair_weights: DataFrame,
    max_driver_edges: int = LOUVAIN_MAX_DRIVER_EDGES,
) -> DataFrame:
    """(doc_hash, idx, label): single-pass Louvain communities
    (runLouvain, :491-593). The greedy move sequence is order-dependent
    state, so — like the reference, whose engine is in-memory by
    construction — the exact loop runs driver-side, gated at
    ``max_driver_edges`` undirected pairs. Beyond the gate this raises:
    the scale answer is the distributed CC/SGC engines (the production
    default), not a semantics-changing parallel Louvain."""
    n_edges = pair_weights.count()
    n_docs = documents.count()
    if n_edges > max_driver_edges or n_docs > max_driver_edges:
        raise ValueError(
            f"louvain_assign: {n_edges} pairs / {n_docs} docs exceed the "
            f"{max_driver_edges} driver gate; use the distributed CC/SGC "
            "topology engines at this scale (the sequential greedy move "
            "order cannot be parallelised without changing results)"
        )
    id_rows = documents.select(
        F.col("doc_hash"), F.col("idx").cast("long").alias("idx")
    ).collect()
    idx_by_hash = {r["doc_hash"]: int(r["idx"]) for r in id_rows}
    ordered = sorted(idx_by_hash.items(), key=lambda t: t[1])
    dense = {h: i for i, (h, _) in enumerate(ordered)}
    n = len(dense)
    adjacency: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for r in pair_weights.select("lo_hash", "hi_hash", "weight").collect():
        i = dense.get(r["lo_hash"])
        j = dense.get(r["hi_hash"])
        if i is None or j is None:
            continue
        w = float(r["weight"])
        adjacency[i].append((j, w))
        adjacency[j].append((i, w))
    assignment = _exact_louvain(n, adjacency)
    spark = documents.sparkSession
    rows = [
        (h, idx_by_hash[h], int(assignment[dense[h]]))
        for h in dense
    ]
    return spark.createDataFrame(rows, "doc_hash string, idx long, label long")


def build_batch_from_assignment(
    documents: DataFrame,
    labels: DataFrame,
    pair_weights: DataFrame,
) -> dict[str, DataFrame]:
    """{'clusters', 'memberships'}: the shared assignment→artifact
    builder (buildBatchFromAssignment, :100-266).
    ``labels`` holds opaque bucket keys (doc_hash, label); cluster ids
    are ``topology.cluster.<min member hash>`` (:141 via the hash-sorted
    member ordering at :127-135). All metrics are keyed aggregations on
    the pair table; medoids are per-cluster windows; centroids are
    float32 member-mean applyInPandas (topology_build_utils.h:27-56).
    With one routing representative per cluster and no overlap (the
    reference defaults) the post-passes at :219 and :263 emit no rows."""
    docs = documents.select(
        F.col("doc_hash"),
        F.col("embedding"),
    )
    mem = labels.select("doc_hash", "label").join(docs, "doc_hash", "left")
    cluster_ids = mem.groupBy("label").agg(
        F.concat(F.lit(CLUSTER_ID_PREFIX), F.min("doc_hash")).alias("cluster_id"),
        F.count("*").alias("member_count"),
    )
    mem = mem.join(cluster_ids, "label")

    lab = labels.select(F.col("doc_hash").alias("h"), F.col("label").alias("l"))
    pairs = (
        pair_weights.join(
            lab.withColumnRenamed("h", "lo_hash").withColumnRenamed("l", "lo_label"),
            "lo_hash",
        )
        .join(
            lab.withColumnRenamed("h", "hi_hash").withColumnRenamed("l", "hi_label"),
            "hi_hash",
        )
        .withColumn("internal", F.col("lo_label") == F.col("hi_label"))
    )

    internal = pairs.where("internal")
    cstats = internal.groupBy(F.col("lo_label").alias("label")).agg(
        F.count("*").alias("internal_edge_count"),
        F.sum(F.col("weight").cast("double")).alias("cohesion_sum"),
        F.min(F.col("weight").cast("double")).alias("persistence"),
    )
    cross = pairs.where(~F.col("internal"))
    cross_counts = (
        cross.select(F.col("lo_label").alias("label"))
        .unionAll(cross.select(F.col("hi_label").alias("label")))
        .groupBy("label")
        .agg(F.count("*").alias("cross_count"))
    )

    # per-member internal weighted degree + degree (:153-174)
    wd = (
        internal.select(
            F.col("lo_hash").alias("doc_hash"), F.col("weight").cast("double").alias("w")
        )
        .unionAll(
            internal.select(
                F.col("hi_hash").alias("doc_hash"),
                F.col("weight").cast("double").alias("w"),
            )
        )
        .groupBy("doc_hash")
        .agg(F.sum("w").alias("weighted_degree"), F.count("*").alias("degree"))
    )
    m = (
        mem.join(wd, "doc_hash", "left")
        .withColumn("weighted_degree", F.coalesce("weighted_degree", F.lit(0.0)))
        .withColumn("degree", F.coalesce("degree", F.lit(0)))
    )

    medoid_w = Window.partitionBy("label").orderBy(
        F.col("weighted_degree").desc(), F.col("doc_hash").asc()
    )
    m = m.withColumn("medoid_rank", F.row_number().over(medoid_w))
    medoids = m.where(F.col("medoid_rank") == 1).select(
        "label",
        F.col("doc_hash").alias("medoid_hash"),
        F.greatest(F.col("weighted_degree"), F.lit(0.0)).alias("medoid_score"),
    )

    bridge_counts = (
        m.where((F.col("member_count") > 2) & (F.col("degree") >= 2))
        .groupBy("label")
        .agg(F.count("*").alias("bridge_count"))
    )

    def mean32(pdf: pd.DataFrame) -> pd.DataFrame:
        # meanEmbedding (topology_build_utils.h:27-56) over hash-sorted
        # members: dim fixed by the first non-empty embedding, float32
        # accumulate, float32 count divide. Empty when no member has one.
        pdf = pdf.sort_values("doc_hash")
        acc = None
        cnt = 0
        for e in pdf["embedding"]:
            if e is None or len(e) == 0:
                continue
            v = np.asarray(e, dtype=np.float32)
            if acc is None:
                acc = np.zeros(len(v), dtype=np.float32)
            elif len(v) != len(acc):
                continue
            acc += v
            cnt += 1
        cent = [] if cnt == 0 else [float(x) for x in (acc / np.float32(cnt))]
        return pd.DataFrame(
            {"label": [int(pdf["label"].iloc[0])], "centroid": [cent]}
        )

    centroids = mem.groupBy("label").applyInPandas(
        mean32, schema="label long, centroid array<float>"
    )

    clusters = (
        cluster_ids.join(cstats, "label", "left")
        .join(cross_counts, "label", "left")
        .join(bridge_counts, "label", "left")
        .join(medoids, "label", "left")
        .join(centroids, "label", "left")
        .withColumn("internal_edge_count", F.coalesce("internal_edge_count", F.lit(0)))
        .withColumn("cross_count", F.coalesce("cross_count", F.lit(0)))
        .withColumn("bridge_count", F.coalesce("bridge_count", F.lit(0)))
        .withColumn(
            "cohesion",
            F.when(
                F.col("internal_edge_count") > 0,
                F.col("cohesion_sum") / F.col("internal_edge_count"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "persistence",
            F.when(
                F.col("internal_edge_count") > 0, F.col("persistence")
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "possible_edges",
            F.when(
                F.col("member_count") > 1,
                F.col("member_count").cast("double")
                * (F.col("member_count") - 1).cast("double")
                / 2.0,
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "density",
            F.when(
                F.col("possible_edges") > 0.0,
                F.col("internal_edge_count").cast("double") / F.col("possible_edges"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "bridge_mass",
            F.col("bridge_count").cast("double") / F.col("member_count"),
        )
        .withColumn(
            "protected_pair_count",
            (F.col("internal_edge_count") + F.col("cross_count")).cast("long"),
        )
        .withColumn(
            "preserved_protected_pair_count",
            F.col("internal_edge_count").cast("long"),
        )
        .select(
            "cluster_id", "member_count", "cohesion", "persistence", "density",
            "bridge_mass", "protected_pair_count",
            "preserved_protected_pair_count", "medoid_hash", "medoid_score",
            "centroid", "label",
        )
    )

    # per-member roles + bridge score (:227-251)
    memberships = (
        m.join(
            clusters.select("label", "cohesion", "persistence"), "label"
        )
        .join(medoids.select("label", "medoid_hash"), "label")
        .withColumn(
            "bridge_score",
            F.when(
                F.col("member_count") > 1,
                F.col("weighted_degree")
                / (F.col("member_count") - 1).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "role",
            F.when(F.col("member_count") == 1, F.lit("outlier"))
            .when(F.col("doc_hash") == F.col("medoid_hash"), F.lit("medoid"))
            .when(
                (F.col("member_count") > 2) & (F.col("weighted_degree") >= 2.0),
                F.lit("bridge"),
            )
            .otherwise(F.lit("core")),
        )
        .select(
            "doc_hash", "cluster_id", F.lit(0).alias("cluster_level"),
            "persistence", "cohesion", "bridge_score", "role",
        )
    )

    return {
        "clusters": clusters.drop("label"),
        "memberships": memberships,
    }
