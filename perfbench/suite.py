"""The operator-query suite: 16 ``__spark_entry__`` queries, each forced
with a ``noop`` write and fingerprinted in the same job.

A fingerprint is a tuple of order-independent aggregates over the result
(row count; per column the non-null count plus a sum that fits the type),
computed by Spark through ``DataFrame.observe`` while the noop write runs,
and by DuckDB over the query's ``oracle_sql()`` text. Both engines compute
the same aggregates, so a result is correct when the two tuples agree.
"""

from __future__ import annotations

import math
import os
import time

#: a timed run executes four queries, one set per workload, so that a run
#: stays within its time budget on a loaded host; a traced run executes all
#: 16, the others included
SEARCH_QUERIES = ["q11_bm25", "q12_fusion_rrf", "q32_grep_scan", "q46_phrase_match"]
SIMILARITY_QUERIES = [
    "q19_cosine_topk", "q20_embedding_near_dup", "q31_ann_lsh_bucketed",
    "q41_ngram_jaccard_dedup",
]
QUERIES = sorted(SEARCH_QUERIES + SIMILARITY_QUERIES + [
    "q06_topk_per_group", "q09_term_stats", "q13_tree_diff", "q17_quality_score",
    "q36_doc_chunking", "q43_kg_doc_entities", "q44_kg_node_stats",
    "q48_grep_context",
])
TABLES = ("documents", "embeddings", "orders")

_NUMERIC = ("byte", "short", "integer", "long", "float", "double", "decimal")


def _aggregates(fields) -> list[tuple[str, str, str]]:
    """(name, spark_sql, duckdb_sql) per fingerprint component."""
    out = [("n", "count(1)", "count(*)")]
    for i, (name, type_name) in enumerate(fields):
        c = f"`{name}`"
        d = f'"{name}"'
        out.append((f"nn{i}", f"count({c})", f"count({d})"))
        if type_name.startswith(_NUMERIC):
            out.append((f"s{i}", f"sum(cast({c} as double))",
                        f"sum(cast({d} as double))"))
        elif type_name == "string":
            out.append((f"l{i}", f"sum(length({c}))", f"sum(length({d}))"))
            out.append((f"h{i}",
                        f"sum(cast(conv(substr(md5({c}), 1, 7), 16, 10) as bigint))",
                        f"sum(('0x' || substr(md5({d}), 1, 7))::BIGINT)"))
        elif type_name == "boolean":
            out.append((f"b{i}", f"sum(cast({c} as int))", f"sum(cast({d} as int))"))
    return out


def _fields(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.typeName()) for f in df.schema.fields]


def run_query(spark, entry, name: str, sf_dir: str):
    """Build, force (noop write) and fingerprint one query.
    Returns (seconds, fingerprint dict, result fields)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = entry.queries()[name](spark, sf_dir)
    fields = _fields(df)
    obs = Observation(name)
    aggs = [F.expr(s).alias(k) for k, s, _ in _aggregates(fields)]
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    seconds = time.perf_counter() - t0
    return seconds, dict(obs.get), fields


def oracle_fingerprints(entry, sf_dir: str,
                        fields: dict[str, list]) -> dict[str, dict]:
    """Expected fingerprint of each query in ``fields`` (name -> result
    fields as the Spark run reported them), from DuckDB over the same
    parquet files."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from "
                f"'{os.path.join(sf_dir, t + '.parquet')}'")
    oracles = entry.oracle_sql()
    out = {}
    for name, fs in fields.items():
        aggs = _aggregates(fs)
        sql = ", ".join(f"{d} as {k}" for k, _, d in aggs)
        row = con.sql(f"select {sql} from ({oracles[name]}) _q").fetchone()
        out[name] = {k: v for (k, _, _), v in zip(aggs, row)}
    con.close()
    return out


def fingerprints_match(got: dict, want: dict) -> bool:
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if g is None or w is None:
            if g is not w:
                return False
        elif k.startswith("s"):
            if not math.isclose(float(g), float(w), rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif int(g) != int(w):
            return False
    return True
