"""Vectorized pairwise scoring stage.

Computes the reference pair features and acceptance gates
(dedupe.cpp:191-204) for every candidate pair, plus the extra north-star
features (Jaro-Winkler on normalized titles, Levenshtein on urls, SimHash
Hamming distance).

Split across the JVM/Python boundary by what each side is good at
(guide §4.1/§4.2):

* title/path token-set Jaccard and the SimHash popcount run as codegen'd
  JVM expressions (``array_intersect``/``array_union`` sizes, ``bit_count``)
  — exact-int set sizes divided in double, bit-identical to the Python
  ``jaccard_overlap`` the oracle uses, with no strings crossing to
  Python for them;
* the cosine (whose double-accumulation einsum order is the shared
  pipeline/oracle definition — CLAUDE.md invariant) plus the accepted-only
  Jaro-Winkler extra run in ONE ``mapInArrow`` pass; the embedding matrices
  are reshaped zero-copy from the Arrow list buffers;
* the accepted-only url Levenshtein is Spark's built-in ``levenshtein`` in
  the projection after that pass (code-point edit distance, the same
  definition as ``similarity.levenshtein``), so the urls never cross to
  Python.

score     = 0.8·cosine + 0.15·title_overlap + 0.05·path_overlap  (:197)
accepted  = cosine ≥ threshold AND
            (title_overlap>0 OR path_overlap>0 OR cosine ≥ 0.975) (:199-204)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yams_spark.functions.similarity import (
    cosine_matrix,
    cosine_similarity,
    jaro_winkler,
)

SCORED_SCHEMA = (
    "url_a string, url_b string, cosine double, title_overlap double, "
    "path_overlap double, jaro_winkler_title double, levenshtein_url int, "
    "simhash_hamming int, pair_score double, accepted boolean"
)
_SCORED_COLUMNS = [c.split(" ")[0] for c in SCORED_SCHEMA.split(", ")]
#: the Python pass returns SCORED_SCHEMA less the JVM-side levenshtein_url
_PY_SCHEMA = SCORED_SCHEMA.replace(" levenshtein_url int,", "")

PAIR_SIDE_COLS = ["url", "title_norm", "url_norm", "simhash64", "embedding"]


def attach_pair_features(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """Join both endpoints' feature columns onto the pair table."""
    slim = signatures.select(*PAIR_SIDE_COLS)
    a = slim.select([F.col(c).alias(f"{c}_a") for c in PAIR_SIDE_COLS])
    b = slim.select([F.col(c).alias(f"{c}_b") for c in PAIR_SIDE_COLS])
    return pairs.join(a, "url_a").join(b, "url_b")


def _jaccard_tokens_expr(a: str, b: str):
    """JVM token-set Jaccard, bit-equal to textnorm.jaccard_overlap:
    ``array_intersect``/``array_union`` are set-semantic (dedup) like the
    frozensets, and int-set-size / int-set-size in double is the same IEEE
    division the Python kernel performs. Empty side -> 0.0 (the C++ rule,
    dedupe.cpp:93-111)."""
    ta = F.expr(f"filter(split({a}, ' '), x -> x <> '')")
    tb = F.expr(f"filter(split({b}, ' '), x -> x <> '')")
    return F.when(
        (F.size(ta) == 0) | (F.size(tb) == 0), F.lit(0.0)
    ).otherwise(
        F.size(F.array_intersect(ta, tb)).cast("double")
        / F.size(F.array_union(ta, tb)).cast("double")
    )


def _batch_cosine(emb_a, emb_b, n: int) -> np.ndarray:
    """Row-wise cosine of two Arrow list<float> columns. When every
    embedding in the batch has one length d (one embedding dim per run),
    ``cosine_matrix`` over zero-copy (n, d) reshapes of the flat value
    buffers; otherwise (a ``precomputed_embeddings`` override of another
    dim) ``cosine_similarity`` row by row, which is 0.0 on a length
    mismatch (vector_database.cpp:1786-1810) and bit-equal to the matrix
    path on equal lengths."""
    la = np.diff(emb_a.offsets.to_numpy())
    lb = np.diff(emb_b.offsets.to_numpy())
    d = int(la[0])
    if (la == d).all() and (lb == d).all():
        return cosine_matrix(
            emb_a.flatten().to_numpy(zero_copy_only=False).reshape(n, d),
            emb_b.flatten().to_numpy(zero_copy_only=False).reshape(n, d),
        )
    return np.fromiter(
        (cosine_similarity(x, y) for x, y in zip(emb_a.to_pylist(), emb_b.to_pylist())),
        dtype=np.float64, count=n,
    )


def scored_pairs_stage(
    pairs_with_features: DataFrame,
    threshold: float = 0.92,
) -> DataFrame:
    import pyarrow as pa

    hydrated = (
        pairs_with_features.withColumn(
            "title_overlap", _jaccard_tokens_expr("title_norm_a", "title_norm_b")
        )
        .withColumn(
            "path_overlap", _jaccard_tokens_expr("url_norm_a", "url_norm_b")
        )
        .withColumn(
            "simhash_hamming",
            F.bit_count(
                F.col("simhash64_a").bitwiseXOR(F.col("simhash64_b"))
            ).cast("int"),
        )
        # project to exactly what crosses the Python boundary (guide §4.1):
        # url_norm/simhash columns stay JVM-side, consumed above
        .select(
            "url_a", "url_b", "title_norm_a", "title_norm_b",
            "embedding_a", "embedding_b",
            "title_overlap", "path_overlap", "simhash_hamming",
        )
    )

    def score(iterator):
        for batch in iterator:
            n = batch.num_rows
            if n == 0:
                continue
            cidx = {name: i for i, name in enumerate(batch.schema.names)}

            def col(name):
                return batch.column(cidx[name])

            cosine = _batch_cosine(col("embedding_a"), col("embedding_b"), n)

            title_overlap = col("title_overlap").to_numpy(zero_copy_only=False)
            path_overlap = col("path_overlap").to_numpy(zero_copy_only=False)
            score_v = cosine * 0.8 + title_overlap * 0.15 + path_overlap * 0.05
            accepted = (cosine >= threshold) & (
                (title_overlap > 0.0) | (path_overlap > 0.0) | (cosine >= 0.975)
            )
            # extra (non-gating) feature: computed only for accepted pairs,
            # like levenshtein_url below
            jw = np.zeros(n)
            if accepted.any():
                idx = np.nonzero(accepted)[0]
                take = pa.array(idx)
                ta_acc = col("title_norm_a").take(take).to_pylist()
                tb_acc = col("title_norm_b").take(take).to_pylist()
                jw[idx] = np.fromiter(
                    (jaro_winkler(x, y) for x, y in zip(ta_acc, tb_acc)),
                    dtype=np.float64, count=len(idx),
                )
            yield pa.record_batch(
                [
                    col("url_a"), col("url_b"),
                    pa.array(cosine, type=pa.float64()),
                    col("title_overlap"), col("path_overlap"),
                    pa.array(jw, type=pa.float64()),
                    col("simhash_hamming"),
                    pa.array(score_v, type=pa.float64()),
                    pa.array(accepted),
                ],
                names=[
                    "url_a", "url_b", "cosine", "title_overlap",
                    "path_overlap", "jaro_winkler_title",
                    "simhash_hamming", "pair_score", "accepted",
                ],
            )

    # the quadratic-DP Levenshtein over every rejected candidate would
    # dominate the stage at scale, so it is computed for accepted pairs only
    return hydrated.mapInArrow(score, schema=_PY_SCHEMA).withColumn(
        "levenshtein_url",
        F.when(F.col("accepted"), F.levenshtein("url_a", "url_b")).otherwise(0),
    ).select(*_SCORED_COLUMNS)
