"""Manifest validation (manifest_manager.cpp validateManifest) as one
Catalyst predicate over manifest rows."""

from __future__ import annotations

from yams_spark.functions.manifest_codec import validate_manifest_col

_H = "ab" * 32  # 64-char hash


def test_validate_manifest_col(spark):
    rows = [
        ("ok", _H, 300, 1, [("cd" * 32, 0, 100, 0), ("ef" * 32, 100, 200, 0)]),
        ("badver", _H, 300, 2, [("cd" * 32, 0, 300, 0)]),
        ("gap", _H, 300, 1, [("cd" * 32, 0, 100, 0), ("ef" * 32, 99, 200, 0)]),
        ("sizemismatch", _H, 299, 1, [("cd" * 32, 0, 300, 0)]),
        ("shorthash", "x" * 63, 300, 1, [("cd" * 32, 0, 300, 0)]),
        ("zerochunk", _H, 300, 1, [("cd" * 32, 0, 0, 0)]),
        ("empty", _H, 300, 1, []),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, file_hash string, file_size long, version int, "
        "chunks array<struct<hash: string, offset: long, size: long, "
        "flags: long>>",
    )
    got = {
        r["name"]: r["ok"]
        for r in df.select(
            "name", validate_manifest_col().alias("ok")
        ).collect()
    }
    assert got == {
        "ok": True, "badver": False, "gap": False,
        "sizemismatch": False, "shorthash": False, "zerochunk": False,
        "empty": False,
    }
