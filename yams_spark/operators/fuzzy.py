"""SymSpell-style fuzzy term matching.

The reference keeps ``symspell_terms(term, frequency)`` plus a
``symspell_deletes(delete_hash, term_id)`` table and matches query terms by
joining delete variants, ordering hits by (edit distance, frequency desc)
with distance ≤ 2 (migration.cpp:2257-2298; src/search/symspell_search.cpp:
25-29,84-94,111).

Spark recast: delete-variant expansion on both sides is a *candidate
generator* (complete for edit distance ≤ max_deletes), followed by an exact
Levenshtein verify — two equi-joins instead of a quadratic scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delete_variants(terms: DataFrame, term_col: str = "term", max_deletes: int = 1) -> DataFrame:
    """(term, variant): the term itself plus every string obtained by
    deleting up to ``max_deletes`` characters (distance-1 deletes by
    default; applied iteratively for 2)."""
    out = terms.select(F.col(term_col).alias("term"), F.col(term_col).alias("variant"))
    frontier = out
    for _ in range(max_deletes):
        nxt = (
            frontier.select(
                "term",
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(variant)), "
                        "i -> concat(substr(variant, 1, i - 1), substr(variant, i + 1)))"
                    )
                ).alias("variant"),
            )
            .where(F.length("variant") > 0)
            .distinct()
        )
        out = out.unionByName(nxt).distinct()
        frontier = nxt
    return out


def symspell_match(
    vocab: DataFrame,
    queries: DataFrame,
    max_distance: int = 1,
    freq_col: str | None = "collection_frequency",
) -> DataFrame:
    """(query_term, term, distance[, frequency]) for all vocab terms within
    ``max_distance`` edits, ordered by (distance asc, frequency desc, term)
    per symspell_search.cpp:84-94."""
    v = delete_variants(vocab.select("term"), "term", max_distance)
    q = delete_variants(
        queries.select(F.col("query_term").alias("term")), "term", max_distance
    ).select(F.col("term").alias("query_term"), "variant")
    cand = q.join(v, "variant").select("query_term", "term").distinct()
    verified = cand.withColumn(
        "distance", F.levenshtein("query_term", "term")
    ).where(F.col("distance") <= max_distance)
    order = [F.col("distance").asc()]
    if freq_col:
        freq = vocab.select(
            F.col("term").alias("vterm"), F.col(freq_col).alias("frequency")
        )
        verified = verified.join(freq, verified["term"] == freq["vterm"]).drop("vterm")
        order.append(F.col("frequency").desc())
    order.append(F.col("term").asc())
    return verified.orderBy("query_term", *order)
