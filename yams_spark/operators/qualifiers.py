"""Scan-level filter predicates.

* ``_glob_to_rlike`` — a shell glob as an anchored regex, for the CLI's
  and grep's include-glob scoping.
* ``metadata_query_filter`` — MetadataQuery::matches as one Catalyst
  predicate.
"""

from __future__ import annotations

import re


def _glob_to_rlike(glob: str) -> str:
    out = "^"
    for ch in glob:
        if ch == "*":
            out += ".*"
        elif ch == "?":
            out += "."
        else:
            out += re.escape(ch)
    return out + "$"


def metadata_query_filter(
    mime_type: str | None = None,
    name_pattern: str | None = None,
    required_tags: list[str] = (),
    any_tags: list[str] = (),
    exclude_tags: list[str] = (),
    created_after: int | None = None,
    modified_before: int | None = None,
    custom_fields: dict[str, str] | None = None,
):
    """MetadataQuery::matches (src/api/content_metadata.cpp:319-384) as
    one Catalyst predicate: exact mime, FULL-regex name match
    (std::regex_match semantics — the pattern is anchored), required /
    any / exclude tag keys over the tag map, a created-after and a
    modified-before gate (strict < / > rejections), and custom key=value
    equality, over the ``mime_type``, ``name``, ``tags``, ``created_ts``
    and ``modified_ts`` columns. Pure scan-level filter — pushdown-friendly for every non-regex
    clause."""
    from pyspark.sql import functions as F

    pred = F.lit(True)
    if mime_type is not None:
        pred = pred & (F.col("mime_type") == mime_type)
    if name_pattern is not None:
        pred = pred & F.col("name").rlike(f"^(?:{name_pattern})$")
    tags = F.col("tags")
    for t in required_tags:
        pred = pred & F.map_contains_key(tags, F.lit(t))
    if any_tags:
        any_pred = F.lit(False)
        for t in any_tags:
            any_pred = any_pred | F.map_contains_key(tags, F.lit(t))
        pred = pred & any_pred
    for t in exclude_tags:
        pred = pred & ~F.map_contains_key(tags, F.lit(t))
    if created_after is not None:
        pred = pred & ~(F.col("created_ts") < F.lit(created_after))
    if modified_before is not None:
        pred = pred & ~(F.col("modified_ts") > F.lit(modified_before))
    for k, v in (custom_fields or {}).items():
        pred = pred & (
            F.element_at(tags, F.lit(k)).isNotNull()
            & (F.element_at(tags, F.lit(k)) == v)
        )
    return pred
