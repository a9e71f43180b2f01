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
  ``jaccard_token_sets`` the oracle uses, with no strings crossing to
  Python for them;
* the cosine (whose double-accumulation einsum order is the shared
  pipeline/oracle definition — CLAUDE.md invariant) plus the accepted-only
  Jaro-Winkler/Levenshtein extras run in ONE ``mapInArrow`` pass; the
  embedding matrices are reshaped zero-copy from the Arrow list buffers,
  never stacked row-by-row.

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
    jaro_winkler,
    levenshtein_batch,
)

SCORED_SCHEMA = (
    "url_a string, url_b string, cosine double, title_overlap double, "
    "path_overlap double, jaro_winkler_title double, levenshtein_url int, "
    "simhash_hamming int, pair_score double, accepted boolean"
)

PAIR_SIDE_COLS = ["url", "title_norm", "url_norm", "simhash64", "embedding"]


def attach_pair_features(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """Join both endpoints' feature columns onto the pair table."""
    slim = signatures.select(*PAIR_SIDE_COLS)
    a = slim.select([F.col(c).alias(f"{c}_a") for c in PAIR_SIDE_COLS])
    b = slim.select([F.col(c).alias(f"{c}_b") for c in PAIR_SIDE_COLS])
    return pairs.join(a, "url_a").join(b, "url_b")


def _jaccard_tokens_expr(a: str, b: str):
    """JVM token-set Jaccard, bit-equal to textnorm.jaccard_token_sets:
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


def _embedding_matrix(col, n: int) -> np.ndarray:
    """(n, d) float32 view over an Arrow list<float> column — a zero-copy
    reshape of the flat values buffer when the lists are uniform width
    (they are: one embedding dim per run), else a per-row stack fallback."""
    flat = col.flatten()
    offs = np.diff(col.offsets.to_numpy())
    if n > 0 and (offs == offs[0]).all() and offs[0] > 0:
        return flat.to_numpy(zero_copy_only=False).reshape(n, int(offs[0]))
    return np.stack(
        [np.asarray(v, dtype=np.float32) for v in col.to_pylist()]
    ) if n else np.zeros((0, 1), dtype=np.float32)


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

            emb_a = _embedding_matrix(col("embedding_a"), n)
            emb_b = _embedding_matrix(col("embedding_b"), n)
            cosine = cosine_matrix(emb_a, emb_b)

            title_overlap = col("title_overlap").to_numpy(zero_copy_only=False)
            path_overlap = col("path_overlap").to_numpy(zero_copy_only=False)
            score_v = cosine * 0.8 + title_overlap * 0.15 + path_overlap * 0.05
            accepted = (cosine >= threshold) & (
                (title_overlap > 0.0) | (path_overlap > 0.0) | (cosine >= 0.975)
            )
            # extra (non-gating) features: computed only for accepted pairs —
            # the quadratic-DP Levenshtein over every rejected candidate would
            # dominate the stage at scale
            jw = np.zeros(n)
            lev = np.zeros(n, dtype=np.int32)
            if accepted.any():
                idx = np.nonzero(accepted)[0]
                take = pa.array(idx)
                ua_acc = col("url_a").take(take).to_pylist()
                ub_acc = col("url_b").take(take).to_pylist()
                lev[idx] = levenshtein_batch(ua_acc, ub_acc)
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
                    pa.array(lev, type=pa.int32()),
                    col("simhash_hamming"),
                    pa.array(score_v, type=pa.float64()),
                    pa.array(accepted),
                ],
                names=[
                    "url_a", "url_b", "cosine", "title_overlap",
                    "path_overlap", "jaro_winkler_title", "levenshtein_url",
                    "simhash_hamming", "pair_score", "accepted",
                ],
            )

    return hydrated.mapInArrow(score, schema=SCORED_SCHEMA)
