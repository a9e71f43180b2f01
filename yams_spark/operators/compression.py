"""Compression policy + content-analysis utilities as batch dataflow.

Reference:

* ``src/compression/compression_policy.cpp`` — ``shouldCompress``
  (:106-159) is a pure per-row decision cascade: already-compressed
  check (:253-269 — mime contains compressed/zip/gzip, or an excluded
  extension), the ``neverCompressBefore`` age gate on *ageSinceAccess*,
  the ``neverCompressBelow`` size gate, the compressible-type cascade
  (:212-238 — excluded types/extensions, explicit compressible sets,
  default = ``text/``/``application/`` mime prefix), then algorithm
  (:161-184 — LZMA for ``totalAge >= archiveAfterAge`` or Cold
  temperature, else Zstandard; the large-inactive LZMA rule kept in its
  exact order even though Cold already implies it) and level selection
  (:186-210), with the reference's reason strings verbatim (note
  shouldCompress's reason step reuses the *ageSinceAccess* value from
  step 2, while selectAlgorithm uses *totalAge* — both reproduced).
  The system-resource step (:133-135) probes live CPU/disk/thread
  state — an environment effect, exposed as the
  ``has_system_resources`` flag rather than computed from data.
  Rule defaults are verbatim from compression_policy.h:95-165.
* ``src/compression/compression_utils.cpp`` — ``calculateCRC32``
  (:31-40; the zlib/gzip CRC-32, poly 0xEDB88320, init/xorout
  0xFFFFFFFF — ``zlib.crc32`` computes exactly this),
  ``isLikelyCompressed`` (:54-131; size floor 64, seven magic-number
  families, the zlib 0x0800/mod-31 header test, then Shannon entropy
  > 7.5 bits/byte over the first 4096 bytes) and
  ``estimateCompressionRatio`` (:133-182; unique-byte diversity over
  the first 64 KiB bucketed per algorithm).

Everything in the policy cascade is whole-stage-codegen Catalyst; the
binary analyses are Arrow-batched pandas UDFs over the ``binary``
column (the per-byte loops are numpy/zlib C paths, never per-row
Python) — the same seam the media codecs use.

``AccessPattern`` durations: ``duration_cast<hours>`` truncates toward
zero, and ``accessFrequency`` is ``count / (hours/24)`` with the
zero-age short-circuit returning the raw count (:46-52).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "CompressionRules",
    "extension_col",
    "compression_decisions",
    "crc32_col",
    "is_likely_compressed_col",
    "estimate_compression_ratio_col",
    "is_likely_compressed_py",
    "estimate_compression_ratio_py",
]

_MB = 1024 * 1024


@dataclass(frozen=True)
class CompressionRules:
    """compression_policy.h:95-165 defaults, verbatim."""

    compress_after_age_hours: int = 24 * 7
    archive_after_age_hours: int = 24 * 30
    never_compress_before_hours: int = 1
    always_compress_above: int = 10 * _MB
    never_compress_below: int = 4096
    prefer_zstd_below: int = 50 * _MB
    compressible_types: frozenset = frozenset(
        {
            "text/plain", "text/html", "text/css", "text/javascript",
            "application/json", "application/xml",
            "application/javascript", "application/x-yaml",
            "text/markdown", "text/csv",
        }
    )
    excluded_types: frozenset = frozenset(
        {
            "image/jpeg", "image/png", "image/webp", "image/gif",
            "video/mp4", "video/webm", "video/x-matroska", "audio/mpeg",
            "audio/ogg", "audio/wav", "application/zip",
            "application/x-7z-compressed", "application/x-rar-compressed",
        }
    )
    compressible_extensions: frozenset = frozenset(
        {
            ".txt", ".log", ".json", ".xml", ".html", ".css", ".js",
            ".md", ".yaml", ".yml", ".csv", ".sql", ".py", ".cpp", ".h",
        }
    )
    excluded_extensions: frozenset = frozenset(
        {
            ".jpg", ".jpeg", ".png", ".gif", ".mp4", ".mp3", ".zip",
            ".gz", ".bz2", ".7z", ".rar", ".webm", ".mkv", ".avi",
        }
    )
    default_zstd_level: int = 3
    archive_zstd_level: int = 9
    default_lzma_level: int = 6
    hot_accesses_per_day: float = 10.0
    cold_accesses_per_day: float = 0.1


def extension_col(name: Column | str) -> Column:
    """getExtension (compression_policy.cpp:245-251): lowercased suffix
    from the last dot, '' for dotless names, leading-dot files and
    trailing dots."""
    c = F.col(name) if isinstance(name, str) else name
    return F.lower(F.regexp_extract(c, r".+(\.[^.]+)$", 1))


def compression_decisions(
    df: DataFrame,
    rules: CompressionRules = CompressionRules(),
    now_ts: int | None = None,
    has_system_resources: bool = True,
    name_col: str = "name",
    mime_col: str = "mime_type",
    size_col: str = "size",
    created_col: str = "created_ts",
    last_accessed_col: str = "last_accessed_ts",
    access_count_col: str = "access_count",
) -> DataFrame:
    """shouldCompress (compression_policy.cpp:106-159) over every stored
    object at once: adds should_compress / algorithm / level / reason.
    Timestamps are epoch seconds; ``now_ts`` pins the evaluation instant
    (the C++ reads the wall clock per call)."""
    now = F.lit(now_ts).cast("long") if now_ts is not None else (
        F.unix_timestamp()
    )
    mime_l = F.lower(F.col(mime_col))
    ext = extension_col(name_col)
    age_h = F.floor((now - F.col(last_accessed_col)) / 3600).cast("long")
    total_h = F.floor((now - F.col(created_col)) / 3600).cast("long")
    freq = F.when(
        total_h == 0, F.col(access_count_col).cast("double")
    ).otherwise(
        F.col(access_count_col).cast("double")
        / (total_h.cast("double") / 24.0)
    )

    excluded_ext = ext.isin(*sorted(rules.excluded_extensions))
    already = (
        mime_l.contains("compressed")
        | mime_l.contains("zip")
        | mime_l.contains("gzip")
        | excluded_ext
    )
    compressible = F.when(
        mime_l.isin(*sorted(rules.excluded_types)), F.lit(False)
    ).when(excluded_ext, F.lit(False)).when(
        mime_l.isin(*sorted(rules.compressible_types)), F.lit(True)
    ).when(
        ext.isin(*sorted(rules.compressible_extensions)), F.lit(True)
    ).otherwise(
        mime_l.startswith("text/") | mime_l.startswith("application/")
    )

    is_cold = freq <= F.lit(rules.cold_accesses_per_day)
    is_hot = freq >= F.lit(rules.hot_accesses_per_day)
    archive_total = total_h >= F.lit(rules.archive_after_age_hours)
    # selectAlgorithm (:161-184) — rule order preserved.
    algo = F.when(archive_total | is_cold, F.lit("LZMA")).when(
        (F.col(size_col) >= F.lit(rules.prefer_zstd_below))
        & (freq < F.lit(rules.cold_accesses_per_day)),
        F.lit("LZMA"),
    ).otherwise(F.lit("Zstandard"))
    # selectLevel (:186-210)
    level = F.when(
        algo == "LZMA",
        F.when(
            F.col(size_col) < F.lit(10 * _MB),
            F.lit(min(rules.default_lzma_level, 5)),
        ).otherwise(F.lit(rules.default_lzma_level)),
    ).otherwise(
        F.when(freq > F.lit(rules.hot_accesses_per_day), F.lit(1))
        .when(archive_total, F.lit(rules.archive_zstd_level))
        .otherwise(F.lit(rules.default_zstd_level))
    )
    temp_name = F.when(is_hot, F.lit("Hot")).when(
        is_cold, F.lit("Cold")
    ).otherwise(F.lit("Warm"))
    # shouldCompress reason (:143-156): reuses the *since-access* age.
    compress_reason = F.when(
        F.col(size_col) >= F.lit(rules.always_compress_above),
        F.format_string(
            "Large file (%.1f MB)", F.col(size_col).cast("double") / _MB
        ),
    ).when(
        age_h >= F.lit(rules.archive_after_age_hours),
        F.format_string("Old file (%d days)", (age_h / 24).cast("long")),
    ).otherwise(
        F.format_string("%s file with %.1f accesses/day", temp_name, freq)
    )

    dont = F.lit(False)
    decision = (
        F.when(
            already,
            F.struct(
                dont.alias("sc"), F.lit("None").alias("algo"),
                F.lit(0).alias("lvl"),
                F.lit(
                    "Content appears to be already compressed"
                ).alias("why"),
            ),
        )
        .when(
            age_h < F.lit(rules.never_compress_before_hours),
            F.struct(
                dont.alias("sc"), F.lit("None").alias("algo"),
                F.lit(0).alias("lvl"),
                F.format_string("File too new (%d hours)", age_h).alias(
                    "why"
                ),
            ),
        )
        .when(
            F.col(size_col) < F.lit(rules.never_compress_below),
            F.struct(
                dont.alias("sc"), F.lit("None").alias("algo"),
                F.lit(0).alias("lvl"),
                F.format_string(
                    "File too small (%d bytes)", F.col(size_col)
                ).alias("why"),
            ),
        )
        .when(
            ~compressible,
            F.struct(
                dont.alias("sc"), F.lit("None").alias("algo"),
                F.lit(0).alias("lvl"),
                F.lit("File type is not compressible").alias("why"),
            ),
        )
        .when(
            F.lit(not has_system_resources),
            F.struct(
                dont.alias("sc"), F.lit("None").alias("algo"),
                F.lit(0).alias("lvl"),
                F.lit("Insufficient system resources").alias("why"),
            ),
        )
        .otherwise(
            F.struct(
                F.lit(True).alias("sc"), algo.alias("algo"),
                level.alias("lvl"), compress_reason.alias("why"),
            )
        )
    )
    return (
        df.withColumn("_d", decision)
        .withColumn("should_compress", F.col("_d.sc"))
        .withColumn("algorithm", F.col("_d.algo"))
        .withColumn("level", F.col("_d.lvl").cast("int"))
        .withColumn("reason", F.col("_d.why"))
        .drop("_d")
    )


# ---------------------------------------------------------------------------
# Binary content analysis (compression_utils.cpp) — Arrow-batched UDFs
# ---------------------------------------------------------------------------


def is_likely_compressed_py(data: bytes) -> bool:
    """isLikelyCompressed (:54-131), scalar twin."""
    import math

    if len(data) < 64:
        return False
    b = data
    if b[0] == 0x1F and b[1] == 0x8B:  # gzip
        return True
    header = (b[0] << 8) | b[1]  # zlib
    if (header & 0x0F00) == 0x0800 and header % 31 == 0:
        return True
    if (
        len(b) >= 4
        and b[0] == 0x50 and b[1] == 0x4B
        and b[2] in (0x03, 0x05, 0x07)
        and b[3] in (0x04, 0x06, 0x08)
    ):  # zip
        return True
    if len(b) >= 6 and b[:6] == b"7z\xbc\xaf\x27\x1c":  # 7z
        return True
    if len(b) >= 6 and b[:6] == b"\xfd7zXZ\x00":  # xz
        return True
    if b[0] == 0x42 and b[1] == 0x5A and b[2] in (0x68, 0x30):  # bzip2
        return True
    if len(b) >= 4:
        magic_le = int.from_bytes(b[:4], "little")
        if magic_le in (0xFD2FB528, 0x28B52FFD):  # zstd (either endian)
            return True
    sample = b[: min(len(b), 4096)]
    freq = [0] * 256
    for byte in sample:
        freq[byte] += 1
    n = len(sample)
    entropy = 0.0
    for count in freq:
        if count:
            p = count / n
            entropy -= p * math.log2(p)
    return entropy > 7.5


def estimate_compression_ratio_py(data: bytes, algorithm: str) -> int:
    """estimateCompressionRatio (:133-182), scalar twin."""
    sample = data[: min(len(data), 65536)]
    diversity = len(set(sample)) / 256.0
    if algorithm == "Zstandard":
        for gate, ratio in ((0.1, 10), (0.3, 5), (0.6, 3), (0.9, 2)):
            if diversity < gate:
                return ratio
        return 1
    if algorithm == "LZMA":
        for gate, ratio in ((0.1, 20), (0.3, 8), (0.6, 4), (0.9, 2)):
            if diversity < gate:
                return ratio
        return 1
    return 1


def _magic_hit(arr) -> bool:
    b = arr
    if b[0] == 0x1F and b[1] == 0x8B:
        return True
    header = (int(b[0]) << 8) | int(b[1])
    if (header & 0x0F00) == 0x0800 and header % 31 == 0:
        return True
    if (
        b[0] == 0x50 and b[1] == 0x4B
        and b[2] in (3, 5, 7) and b[3] in (4, 6, 8)
    ):
        return True
    head6 = bytes(b[:6])
    if head6 == b"7z\xbc\xaf\x27\x1c" or head6 == b"\xfd7zXZ\x00":
        return True
    if b[0] == 0x42 and b[1] == 0x5A and b[2] in (0x68, 0x30):
        return True
    magic_le = int.from_bytes(bytes(b[:4]), "little")
    return magic_le in (0xFD2FB528, 0x28B52FFD)


def crc32_col(data: Column | str) -> Column:
    """calculateCRC32 (:31-40) — the zlib CRC-32 (identical polynomial,
    init and xorout), via zlib's C implementation in an Arrow batch."""
    c = F.col(data) if isinstance(data, str) else data

    @pandas_udf("long")
    def _crc32_udf(series: pd.Series) -> pd.Series:
        import zlib

        return series.map(
            lambda b: zlib.crc32(b) & 0xFFFFFFFF if b is not None else None
        )

    return _crc32_udf(c)


def is_likely_compressed_col(data: Column | str) -> Column:
    c = F.col(data) if isinstance(data, str) else data

    @pandas_udf("boolean")
    def _likely_compressed_udf(series: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for b in series:
            if b is None:
                out.append(None)
                continue
            if len(b) < 64:
                out.append(False)
                continue
            arr = np.frombuffer(b, np.uint8)
            if _magic_hit(arr):
                out.append(True)
                continue
            sample = arr[:4096]
            counts = np.bincount(sample, minlength=256).astype(np.float64)
            p = counts[counts > 0] / sample.size
            entropy = float(-(p * np.log2(p)).sum())
            out.append(entropy > 7.5)
        return pd.Series(out)

    return _likely_compressed_udf(c)


def estimate_compression_ratio_col(
    data: Column | str, algorithm: Column | str
) -> Column:
    """estimateCompressionRatio (:133-182): unique-byte diversity over
    the first 64 KiB, bucketed per algorithm — diversity thresholds can
    never tie exactly (k/256 ∉ {.1,.3,.6,.9})."""
    d = F.col(data) if isinstance(data, str) else data
    a = F.col(algorithm) if isinstance(algorithm, str) else algorithm

    @pandas_udf("int")
    def _ratio(data_s: pd.Series, algo_s: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for b, algo in zip(data_s, algo_s):
            if b is None:
                out.append(None)
                continue
            arr = np.frombuffer(b[:65536], np.uint8)
            uniq = int(np.unique(arr).size) if arr.size else 0
            diversity = uniq / 256.0
            if algo == "Zstandard":
                gates = ((0.1, 10), (0.3, 5), (0.6, 3), (0.9, 2))
            elif algo == "LZMA":
                gates = ((0.1, 20), (0.3, 8), (0.6, 4), (0.9, 2))
            else:
                out.append(1)
                continue
            for gate, ratio in gates:
                if diversity < gate:
                    out.append(ratio)
                    break
            else:
                out.append(1)
        return pd.Series(out)

    return _ratio(d, a)


# ---------------------------------------------------------------------------
# Header validation (compression_header.cpp / compression_header.h)
# ---------------------------------------------------------------------------

#: compression_header.h:33-52
HEADER_MAGIC = 0x4B524E43  # "KRNC"
HEADER_VERSION = 1

_ALGO_NAMES = {0: "None", 1: "Zstandard", 2: "LZMA"}
_ALGO_IDS = {v: k for k, v in _ALGO_NAMES.items()}


def validate_compression_header_py(h: dict) -> bool:
    """validate() (compression_header.cpp:51-86): magic, version,
    known algorithm, the compressed<=2x-uncompressed rule via integer
    division (overflow-safe on corrupt headers), zstd level cap 22."""
    if h["magic"] != HEADER_MAGIC:
        return False
    if h["version"] > HEADER_VERSION:
        return False
    algo = h.get("algorithm_id", _ALGO_IDS.get(h.get("algorithm"), 255))
    if algo > 2:
        return False
    if algo != 0:
        if h["compressed_size"] == 0 or h["uncompressed_size"] == 0:
            return False
        if h["compressed_size"] // 2 > h["uncompressed_size"]:
            return False
    if h["level"] > 22:
        return False
    return True


def validate_compression_header_col():
    """validate() as one Catalyst predicate over a parsed-header table
    (the shape a 100 TB store audit scans)."""
    m, v, a, lv, us, cs = (F.col(c) for c in (
        "magic", "version", "algorithm_id", "level", "uncompressed_size",
        "compressed_size",
    ))
    # shiftright = exact integer /2 (the C++ overflow-safe division);
    # floor(cs/2.0) would lose precision past 2^53 on corrupt headers.
    size_ok = (a == 0) | (
        (cs != 0) & (us != 0) & ~(F.shiftright(cs, 1) > us)
    )
    return (
        (m == F.lit(HEADER_MAGIC))
        & (v <= F.lit(HEADER_VERSION))
        & (a <= 2)
        & size_ok
        & (lv <= 22)
    )


# ---------------------------------------------------------------------------
# Health alerts (compression_monitor.cpp:101-153)
# ---------------------------------------------------------------------------


def compression_health_alerts(stats: DataFrame) -> DataFrame:
    """checkAlgorithmHealth (compression_monitor.cpp:101-153) over a
    per-algorithm counter table at once (MonitorConfig defaults
    compression_monitor.h:19-28). Stats formulas from
    compression_stats.h: averageRatio = bytes_input/bytes_output
    (0 when no output, :60-64); throughput = MiB / seconds (0 when no
    time, :70-76); error rate over compress+decompress op counts.
    Emits one alert row per fired gate — the exact three alert types
    with the reference's message strings. Pure Catalyst explode."""
    ratio_threshold, error_rate_threshold, performance_threshold = 0.1, 0.05, 100.0
    ratio = F.when(
        F.col("bytes_output") > 0,
        F.col("bytes_input").cast("double")
        / F.col("bytes_output").cast("double"),
    ).otherwise(F.lit(0.0))
    total_ops = F.col("files_compressed") + F.col("files_decompressed")
    total_errors = (
        F.col("compression_errors") + F.col("decompression_errors")
    )
    error_rate = F.when(
        total_ops > 0,
        total_errors.cast("double") / total_ops.cast("double"),
    )
    throughput = F.when(
        F.col("compression_time_ms") > 0,
        (F.col("bytes_input").cast("double") / 1024.0 / 1024.0)
        / (F.col("compression_time_ms").cast("double") / 1000.0),
    ).otherwise(F.lit(0.0))
    algo = F.col("algorithm")
    alerts = F.array(
        F.when(
            (ratio > 0) & (ratio < F.lit(ratio_threshold)),
            F.struct(
                F.lit("LowCompressionRatio").alias("alert_type"),
                F.concat(
                    F.lit("Low compression ratio for "), algo
                ).alias("message"),
                ratio.alias("value"),
                F.lit(ratio_threshold).alias("threshold"),
            ),
        ),
        F.when(
            (total_ops > 0) & (error_rate > F.lit(error_rate_threshold)),
            F.struct(
                F.lit("HighErrorRate").alias("alert_type"),
                F.concat(F.lit("High error rate for "), algo).alias(
                    "message"
                ),
                error_rate.alias("value"),
                F.lit(error_rate_threshold).alias("threshold"),
            ),
        ),
        F.when(
            (throughput > 0) & (throughput < F.lit(performance_threshold)),
            F.struct(
                F.lit("SlowPerformance").alias("alert_type"),
                F.concat(
                    F.lit("Slow compression performance for "), algo
                ).alias("message"),
                throughput.alias("value"),
                F.lit(performance_threshold).alias("threshold"),
            ),
        ),
    )
    return (
        stats.withColumn(
            "_a", F.explode(F.filter(alerts, lambda a: a.isNotNull()))
        )
        .select(
            "algorithm",
            F.col("_a.alert_type").alias("alert_type"),
            F.col("_a.message").alias("message"),
            F.col("_a.value").alias("value"),
            F.col("_a.threshold").alias("threshold"),
        )
    )
