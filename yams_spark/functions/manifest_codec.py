"""Manifest validation — the reference's chunk-manifest rules
(``src/manifest/manifest_manager.cpp``) over manifest rows.

``validate_manifest_col`` expresses validateManifest (:438-486) as one
Catalyst predicate over manifest ROWS (chunks as ``array<struct>``):
isValid's 64-char hashes (HASH_STRING_SIZE, types.h:279), non-empty
chunks and positive sizes (manifest_manager.h:58-105), the version
ceiling, strictly sequential chunk offsets (an ``F.aggregate`` fold)
and total-size equality — the shape a 100 TB store audit scans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HASH_STRING_SIZE = 64


def validate_manifest_col(
    file_hash: Column | str = "file_hash",
    file_size: Column | str = "file_size",
    version: Column | str = "version",
    chunks: Column | str = "chunks",
    current_version: int = 1,
) -> Column:
    """validateManifest as one Catalyst predicate over manifest rows
    (chunks: array<struct<hash,offset,size,flags>>). The sequential
    offset walk is an F.aggregate fold carrying (expected_offset, ok)."""
    fh = F.col(file_hash) if isinstance(file_hash, str) else file_hash
    fs = F.col(file_size) if isinstance(file_size, str) else file_size
    ver = F.col(version) if isinstance(version, str) else version
    ch = F.col(chunks) if isinstance(chunks, str) else chunks
    chunk_ok = F.forall(
        ch,
        lambda c: (F.length(c["hash"]) == _HASH_STRING_SIZE)
        & (c["size"] > 0),
    )
    basic = (
        (F.length(fh) == _HASH_STRING_SIZE)
        & (F.size(ch) > 0)
        & (fs > 0)
        & chunk_ok
        & (ver <= F.lit(current_version))
    )
    walk = F.aggregate(
        ch,
        F.struct(
            F.lit(0).cast("long").alias("expected"),
            F.lit(True).alias("ok"),
        ),
        lambda acc, c: F.struct(
            (acc["expected"] + c["size"]).cast("long").alias("expected"),
            (acc["ok"] & (c["offset"] == acc["expected"])).alias("ok"),
        ),
    )
    return basic & walk["ok"] & (walk["expected"] == fs)
