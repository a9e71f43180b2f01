"""Embedding-dimension resolution (``reference src/vector/dim_resolver.cpp``).

Each rule comes as a scalar function and as the Catalyst column twin the
driver queries use; the tests pin the two against each other.
"""

from __future__ import annotations

#: dim_resolver.cpp:21-43 — substring table in the reference's check
#: order (the first match wins: a name containing several markers
#: resolves to the earliest row).
MODEL_DIM_TABLE = (
    ("minilm", 384),
    ("mpnet", 768),
    ("jina", 768),
    ("nomic", 768),
    ("bge-small", 384),
    ("bge-base", 768),
    ("bge-large", 1024),
    ("e5-small", 384),
    ("e5-base", 768),
    ("e5-large", 1024),
    ("embeddinggemma", 768),
)


def dim_from_model_name(model_name: str) -> int | None:
    """dim_from_model_name (dim_resolver.cpp:11-45): case-folded
    substring lookup; None for unknown models (caller queries the
    model)."""
    if not model_name:
        return None
    name = model_name.lower()
    for marker, dim in MODEL_DIM_TABLE:
        if marker in name:
            return dim
    return None


def dim_from_model_config(config_json: str | None) -> int | None:
    """dim_from_model_config (:47-72) over the config's JSON content
    (the file read is the caller's concern in a dataflow engine):
    hidden_size > output_embedding_size > dim, integers only."""
    if not config_json:
        return None
    import json

    try:
        j = json.loads(config_json)
    except ValueError:
        return None
    for key in ("hidden_size", "output_embedding_size", "dim"):
        v = j.get(key) if isinstance(j, dict) else None
        if isinstance(v, int) and not isinstance(v, bool):
            return v
    return None


def resolve_dim(
    sentinel_dim: int | None, generator_dim: int, default_dim: int
) -> int:
    """resolve_dim (:94-101): persisted sentinel wins, then the live
    generator, then the configured default."""
    if sentinel_dim is not None:
        return sentinel_dim
    if generator_dim > 0:
        return generator_dim
    return default_dim


def dim_from_model_name_col(name_col):
    """The name lookup as one Catalyst CASE chain (zero exchanges)."""
    from pyspark.sql import functions as F

    c = F.col(name_col) if isinstance(name_col, str) else name_col
    lower = F.lower(c)
    expr = F.when(F.lit(False), F.lit(None).cast("int"))
    for marker, dim in MODEL_DIM_TABLE:
        expr = expr.when(lower.contains(marker), F.lit(dim))
    return expr.otherwise(F.lit(None).cast("int"))


def dim_from_model_config_col(json_col):
    """The config-JSON cascade via get_json_object (JVM-side)."""
    from pyspark.sql import functions as F

    c = F.col(json_col) if isinstance(json_col, str) else json_col
    # try_cast: ANSI-safe NULL for non-integer JSON values (the C++
    # is_number_integer gate rejects floats/bools the same way).
    return F.coalesce(
        F.get_json_object(c, "$.hidden_size").try_cast("int"),
        F.get_json_object(c, "$.output_embedding_size").try_cast("int"),
        F.get_json_object(c, "$.dim").try_cast("int"),
    )


def resolve_dim_col(sentinel_col, generator_col, default_dim: int):
    """resolve_dim (:94-101) as a column cascade."""
    from pyspark.sql import functions as F

    s = F.col(sentinel_col) if isinstance(sentinel_col, str) else sentinel_col
    g = F.col(generator_col) if isinstance(generator_col, str) else generator_col
    return F.coalesce(
        s, F.when(g > 0, g), F.lit(default_dim)
    ).cast("int")
