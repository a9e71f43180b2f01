"""Compression policy cascade + binary content analysis
(compression_policy.cpp / compression_utils.cpp) — hand-computed
decision goldens, zlib cross-check, magic/entropy batteries."""

from __future__ import annotations

import math
import zlib

import numpy as np
from pyspark.sql import functions as F

from yams_spark.operators.compression import (
    compression_decisions,
    crc32_col,
    estimate_compression_ratio_col,
    estimate_compression_ratio_py,
    extension_col,
    is_likely_compressed_col,
    is_likely_compressed_py,
)

_NOW = 1_700_000_000
_MB = 1024 * 1024


def _decide(spark, rows):
    df = spark.createDataFrame(
        rows,
        "name string, mime_type string, size long, created_ts long, "
        "last_accessed_ts long, access_count long",
    )
    out = compression_decisions(df, now_ts=_NOW)
    return {
        r["name"]: (
            r["should_compress"], r["algorithm"], r["level"], r["reason"]
        )
        for r in out.collect()
    }


def _ts(hours_ago: float) -> int:
    return _NOW - int(hours_ago * 3600)


def test_decision_cascade_gates(spark):
    rows = [
        # already compressed: mime
        ("a.txt", "application/ZIP", 20 * _MB, _ts(100), _ts(50), 5),
        # already compressed: excluded extension
        ("b.PNG", "text/plain", 20 * _MB, _ts(100), _ts(50), 5),
        # too new (since access < 1h)
        ("c.txt", "text/plain", 20 * _MB, _ts(100), _ts(0.5), 5),
        # too small
        ("d.txt", "text/plain", 4095, _ts(100), _ts(50), 5),
        # not compressible (custom mime, no ext)
        ("e", "x-custom/thing", 20 * _MB, _ts(100), _ts(50), 5),
        # compressible by extension despite unknown mime
        ("f.md", "x-custom/thing", 20 * _MB, _ts(100), _ts(50), 5),
        # default branch: application/ prefix
        ("g", "application/octet-stream", 20 * _MB, _ts(100), _ts(50), 5),
    ]
    got = _decide(spark, rows)
    assert got["a.txt"] == (
        False, "None", 0, "Content appears to be already compressed"
    )
    assert got["b.PNG"] == (
        False, "None", 0, "Content appears to be already compressed"
    )
    assert got["c.txt"] == (False, "None", 0, "File too new (0 hours)")
    assert got["d.txt"] == (False, "None", 0, "File too small (4095 bytes)")
    assert got["e"] == (False, "None", 0, "File type is not compressible")
    assert got["f.md"][0] and got["g"][0]


def test_algorithm_level_and_reasons(spark):
    rows = [
        # hot zstd level 1: freq = 100/(48/24) = 50/day; 5 MB warm-size
        ("hot.txt", "text/plain", 5 * _MB, _ts(48), _ts(2), 100),
        # cold -> LZMA; small => min(6,5)=5; large-file reason
        ("cold.txt", "text/plain", 11 * _MB, _ts(24 * 100), _ts(2), 1),
        # archive age (total) -> LZMA level 6 (>=10MB)...
        #   but reason uses since-access age: accessed recently -> temp
        ("old.txt", "text/plain", 5 * _MB, _ts(24 * 40), _ts(2), 96),
        # warm zstd default level 3
        ("warm.txt", "text/plain", 5 * _MB, _ts(48), _ts(2), 4),
        # old since ACCESS too -> "Old file (N days)" reason
        ("stale.txt", "text/plain", 5 * _MB, _ts(24 * 40), _ts(24 * 31), 90),
    ]
    got = _decide(spark, rows)
    # hot.txt: freq 50 >= 10 -> Zstandard level 1; reason Hot 50.0/day
    assert got["hot.txt"] == (
        True, "Zstandard", 1, "Hot file with 50.0 accesses/day"
    )
    # cold.txt: freq = 1/(2400/24) = 0.01 <= 0.1 -> LZMA; size 11MB ->
    # level 6; reason: size >= 10MB -> Large file (11.0 MB)
    assert got["cold.txt"] == (True, "LZMA", 6, "Large file (11.0 MB)")
    # old.txt: total 960h >= 720 -> LZMA; 5MB -> level 5; freq =
    # 96/40 = 2.4/day -> Warm reason (since-access age only 2h)
    assert got["old.txt"] == (True, "LZMA", 5, "Warm file with 2.4 accesses/day")
    # warm.txt: freq 2.0 -> Zstandard level 3
    assert got["warm.txt"] == (
        True, "Zstandard", 3, "Warm file with 2.0 accesses/day"
    )
    # stale.txt: since-access 744h >= 720 -> "Old file (31 days)";
    # algorithm still from total age (960h) -> LZMA
    assert got["stale.txt"] == (True, "LZMA", 5, "Old file (31 days)")


def test_zero_age_frequency(spark):
    # total age 0 -> frequency = raw access count (hot)
    rows = [("z.txt", "text/plain", 5 * _MB, _ts(0), _ts(2), 42)]
    got = _decide(spark, rows)
    assert got["z.txt"] == (
        True, "Zstandard", 1, "Hot file with 42.0 accesses/day"
    )


def test_extension_extraction(spark):
    df = spark.createDataFrame(
        [("a.TXT",), ("archive.tar.gz",), (".hidden",), ("trailing.",),
         ("noext",), ("",)],
        "name string",
    )
    got = {
        r["name"]: r["e"]
        for r in df.select("name", extension_col("name").alias("e")).collect()
    }
    assert got == {
        "a.TXT": ".txt", "archive.tar.gz": ".gz", ".hidden": "",
        "trailing.": "", "noext": "", "": "",
    }


def _corpus() -> list[tuple[str, bytes]]:
    rng = np.random.RandomState(11)
    rand = rng.randint(0, 256, 4096, dtype=np.uint8).tobytes()
    return [
        ("gzip", b"\x1f\x8b" + b"x" * 100),
        ("zlib", b"\x78\x9c" + b"\x00" * 100),
        ("zip", b"PK\x03\x04" + b"y" * 100),
        ("sevenz", b"7z\xbc\xaf\x27\x1c" + b"z" * 100),
        ("xz", b"\xfd7zXZ\x00" + b"w" * 100),
        ("bzip2", b"BZh9" + b"v" * 100),
        ("zstd_le", b"\x28\xb5\x2f\xfd" + b"u" * 100),
        ("zstd_be", b"\xfd\x2f\xb5\x28" + b"t" * 100),
        ("tiny", b"\x1f\x8b" + b"s" * 10),      # < 64 bytes -> False
        ("text", (b"the quick brown fox jumps over the lazy dog. " * 40)),
        ("random", rand),
        ("zeros", b"\x00" * 2048),
    ]


def test_is_likely_compressed_scalar_and_spark(spark):
    corpus = _corpus()
    want = {
        "gzip": True, "zlib": True, "zip": True, "sevenz": True,
        "xz": True, "bzip2": True, "zstd_le": True, "zstd_be": True,
        "tiny": False, "text": False, "random": True, "zeros": False,
    }
    for name, data in corpus:
        assert is_likely_compressed_py(data) == want[name], name
    df = spark.createDataFrame(corpus, "name string, data binary")
    got = {
        r["name"]: r["lc"]
        for r in df.select(
            "name", is_likely_compressed_col("data").alias("lc")
        ).collect()
    }
    assert got == want
    # entropy margin audit: the text/random rows sit well clear of 7.5
    for name in ("text", "random", "zeros"):
        data = dict(corpus)[name]
        sample = np.frombuffer(data[:4096], np.uint8)
        counts = np.bincount(sample, minlength=256)
        p = counts[counts > 0] / sample.size
        ent = float(-(p * np.log2(p)).sum())
        assert abs(ent - 7.5) > 0.05, (name, ent)


def test_crc32_matches_zlib_and_spec(spark):
    corpus = _corpus()
    # independent table-driven implementation of :31-40
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ (0xEDB88320 if crc & 1 else 0)
        table.append(crc)

    def crc_ref(data: bytes) -> int:
        crc = 0xFFFFFFFF
        for b in data:
            crc = (crc >> 8) ^ table[(crc ^ b) & 0xFF]
        return crc ^ 0xFFFFFFFF

    df = spark.createDataFrame(corpus, "name string, data binary")
    got = {
        r["name"]: r["crc"]
        for r in df.select("name", crc32_col("data").alias("crc")).collect()
    }
    for name, data in corpus:
        assert got[name] == crc_ref(data) == (zlib.crc32(data) & 0xFFFFFFFF)


def test_compression_entry_fixture_margins():
    """q99 fixture audit: no frequency double may be an exact 1-decimal
    rounding midpoint (Java %.1f HALF_UP vs C printf half-even diverge
    only there), and no entropy in the q100 corpus may sit at 7.5."""
    for d in range(500):
        c = d % 300
        th = (d % 50) * 25
        f = float(c) if th == 0 else c / (th / 24.0)
        x = f * 20.0
        assert not (x == int(x) and int(x) % 2 == 1), (d, f)
    # q100 entropy margins over the non-magic families
    for d in range(500):
        if d % 7 == 6 or d % 6 in (0, 3, 5):
            continue
        n = 256 + (d % 5) * 512
        fam = d % 6
        body = []
        for i in range(n):
            if fam == 1:
                body.append((i * 177 + d * 97) % 256)
            elif fam == 2:
                body.append(d % 5 if i % 3 == 0 else 0)
            else:
                body.append(97 + ((i * d) % 26))
        counts = np.bincount(np.array(body), minlength=256)
        p = counts[counts > 0] / n
        ent = float(-(p * np.log2(p)).sum())
        assert abs(ent - 7.5) > 0.01, (d, fam, ent)


def test_estimate_compression_ratio(spark):
    cases = [
        ("rep", b"\x00\x01" * 512, "Zstandard", 10),     # 2/256 < .1
        ("rep_lzma", b"\x00\x01" * 512, "LZMA", 20),
        ("some", bytes(range(50)) * 20, "Zstandard", 5),  # 50/256 < .3
        ("text", bytes(range(120)) * 10, "Zstandard", 3),  # 120/256 < .6
        ("bin", bytes(range(220)) * 5, "LZMA", 2),        # 220/256 < .9
        ("rand", bytes(range(256)) * 4, "Zstandard", 1),
        ("none", b"abc" * 100, "None", 1),
    ]
    for name, data, algo, want in cases:
        assert estimate_compression_ratio_py(data, algo) == want, name
    df = spark.createDataFrame(
        [(n, d, a) for n, d, a, _ in cases],
        "name string, data binary, algo string",
    )
    got = {
        r["name"]: r["ratio"]
        for r in df.select(
            "name",
            estimate_compression_ratio_col("data", "algo").alias("ratio"),
        ).collect()
    }
    assert got == {n: w for n, _, _, w in cases}


def test_compression_header_validate(spark):
    from yams_spark.operators.compression import (
        HEADER_MAGIC,
        validate_compression_header_col,
        validate_compression_header_py,
    )

    # validate() branch battery, scalar == column
    rows = [
        # (magic, version, algo, level, usize, csize, want)
        (HEADER_MAGIC, 1, 1, 3, 1000, 400, True),
        (0x1111, 1, 1, 3, 1000, 400, False),       # magic
        (HEADER_MAGIC, 2, 1, 3, 1000, 400, False), # future version
        (HEADER_MAGIC, 0, 1, 3, 1000, 400, True),  # older version ok
        (HEADER_MAGIC, 1, 3, 3, 1000, 400, False), # unknown algorithm
        (HEADER_MAGIC, 1, 0, 0, 0, 0, True),       # None: sizes free
        (HEADER_MAGIC, 1, 1, 3, 0, 400, False),    # zero uncompressed
        (HEADER_MAGIC, 1, 1, 3, 1000, 0, False),   # zero compressed
        # integer division: 201/2 = 100, not > 100 -> still valid
        (HEADER_MAGIC, 1, 1, 3, 100, 201, True),
        (HEADER_MAGIC, 1, 1, 3, 100, 202, False),  # 101 > 100
        (HEADER_MAGIC, 1, 1, 3, 100, 200, True),   # exactly 2x is fine
        (HEADER_MAGIC, 1, 1, 23, 1000, 400, False),  # level cap
        (HEADER_MAGIC, 1, 2, 22, 1000, 400, True),
    ]
    for m, v, a, lv, us, cs, want in rows:
        h = {
            "magic": m, "version": v, "algorithm_id": a, "level": lv,
            "uncompressed_size": us, "compressed_size": cs,
        }
        assert validate_compression_header_py(h) == want, h
    df = spark.createDataFrame(
        [r[:6] for r in rows],
        "magic long, version int, algorithm_id int, level int, "
        "uncompressed_size long, compressed_size long",
    )
    got = [
        r["ok"]
        for r in df.select(
            validate_compression_header_col().alias("ok")
        ).collect()
    ]
    assert got == [r[6] for r in rows]


def test_compression_health_alerts(spark):
    from yams_spark.operators.compression import compression_health_alerts

    rows = [
        # algo, in, out, comp_files, decomp_files, cerr, derr, ctime_ms
        ("Zstandard", 1000, 50000, 100, 50, 0, 0, 1),   # ratio 0.02 -> low
        ("LZMA", 10**9, 10**8, 100, 0, 10, 0, 1000),    # err 0.1 -> high
        ("Slow", 10**8, 10**7, 10, 0, 0, 0, 10**6),     # 0.095 MB/s -> slow
        ("Healthy", 10**9, 10**8, 100, 0, 1, 0, 1000),  # all gates pass
        ("NoData", 0, 0, 0, 0, 0, 0, 0),                # zero guards
    ]
    df = spark.createDataFrame(
        rows,
        "algorithm string, bytes_input long, bytes_output long, "
        "files_compressed long, files_decompressed long, "
        "compression_errors long, decompression_errors long, "
        "compression_time_ms long",
    )
    got = {}
    for r in compression_health_alerts(df).collect():
        got.setdefault(r["algorithm"], []).append(
            (r["alert_type"], round(r["value"], 6))
        )
    # 1000 bytes in 1 ms is ALSO below the 100 MB/s performance gate —
    # the reference fires every applicable alert, in ratio/error/perf
    # order (:101-153).
    assert got["Zstandard"] == [
        ("LowCompressionRatio", 0.02),
        ("SlowPerformance", 0.953674),
    ]
    assert ("HighErrorRate", 0.1) in got["LZMA"]
    assert got["Slow"][0][0] == "SlowPerformance"
    assert "Healthy" not in got          # ratio 10, err 0.01, 953 MB/s
    assert "NoData" not in got           # ratio 0 / no ops / no time
