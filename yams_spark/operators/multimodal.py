"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct. The
Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested, and the decode step is REAL for every
format with a from-scratch codec in this repo — PPM/PGM, PNG, GIF, JPEG,
BMP images; PCM16 WAV, FLAC, MPEG-1 Layer I/II audio; Motion-JPEG MP4
video frames (``functions/media_codecs`` + ``jpeg_codec`` /
``flac_codec`` / ``mpeg_audio`` / ``mp4_meta``). The remaining
boundaries — MP3 (Layer III) sample decode and inter-frame video codecs
(avc1/hevc) — produce a deterministic fake feature. This mirrors the
reference's plugin extractor boundary
(src/extraction/external_plugin_extractor.cpp): the engine defines the
dataflow, the codec is a pluggable worker-side function.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, "
    "width int, height int, duration_ms long"
)

FEATURE_DIM = 64


def _fake_decode_features(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder+featurizer: hash-seeded
    pseudo-features, L2-normalized."""
    digest = hashlib.blake2b(payload, digest_size=32).digest()
    seed = int.from_bytes(digest[:8], "little")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(FEATURE_DIM)
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32)


def extract_media_features(media: DataFrame) -> DataFrame:
    """(media_id, kind, mime, decoded boolean, feature array<float>,
    payload_sha256, n_bytes) via one Arrow-batched mapInPandas pass.

    Per row: a REAL decoder is used when one exists for the mime
    (PPM/PGM, PCM16 WAV — media_codecs.decode_features), else the
    deterministic fake.
    ``decoded`` records which path ran."""

    def compute(iterator):
        from yams_spark.functions.filetype import detect_file_type
        from yams_spark.functions.media_codecs import decode_features

        for pdf in iterator:
            rows = []
            for mid, kind, payload, mime in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["mime"]
            ):
                data = bytes(payload) if payload is not None else b""
                feat = None
                decoded = False
                if data and not mime:
                    # magic-byte detection fills a missing mime (the
                    # reference's FileTypeDetector front-door,
                    # file_type_detector.cpp classification cascade)
                    mime = detect_file_type(data)["mime"]
                if data:
                    real = decode_features(data, mime or "")
                    if real is not None:
                        feat, decoded = real.tolist(), True
                    else:
                        feat = _fake_decode_features(data).tolist()
                else:
                    feat = [0.0] * FEATURE_DIM
                rows.append(
                    (
                        mid, kind, mime, decoded, feat,
                        hashlib.sha256(data).hexdigest(), len(data),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "media_id", "kind", "mime", "decoded", "feature",
                        "payload_sha256", "n_bytes",
                    ],
                )

    return media.mapInPandas(
        compute,
        schema="media_id string, kind string, mime string, decoded boolean, "
        "feature array<float>, payload_sha256 string, n_bytes long",
    )


def extract_archive_listing(media: DataFrame) -> DataFrame:
    """(media_id, format, total_files, total_directories,
    compressed_size, uncompressed_size, is_encrypted,
    compression_method, format_confidence): REAL archive listings —
    ZIP central-directory / ustar TAR / RFC-1952 GZIP walks, RAR
    signature metadata (functions/archive_codecs, replacing the
    reference's libarchive/unzip delegates
    archive_content_handler.cpp:181-313 with from-scratch format
    walks). Unrecognized payloads yield nulls. One Arrow pass."""

    def compute(iterator):
        from yams_spark.functions.archive_codecs import (
            ArchiveError,
            analyze_archive,
        )

        for pdf in iterator:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                meta = None
                if payload is not None:
                    try:
                        meta = analyze_archive(bytes(payload))
                    except ArchiveError:
                        meta = None
                if meta is None:
                    rows.append((mid, None, None, None, None, None,
                                 None, None, None))
                else:
                    rows.append((
                        mid, meta["format"], meta["total_files"],
                        meta["total_directories"],
                        meta["compressed_size"],
                        meta["uncompressed_size"], meta["is_encrypted"],
                        meta["compression_method"],
                        float(meta["confidence"]),
                    ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "total_files",
                    "total_directories", "compressed_size",
                    "uncompressed_size", "is_encrypted",
                    "compression_method", "format_confidence",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        compute,
        schema="media_id string, format string, total_files long, "
        "total_directories long, compressed_size long, "
        "uncompressed_size long, is_encrypted boolean, "
        "compression_method string, format_confidence double",
    )


def explode_archive_members(media: DataFrame) -> DataFrame:
    """(media_id, member_name, member_bytes, member_size, is_dir): one
    row per extractable archive member, with REAL decompression
    (ZIP Store/Deflate, TAR slices, the GZIP body) — the archive →
    member-document explode a training-data ingest needs before the
    extraction stage. Encrypted or unsupported members are skipped
    (the reference handler never decodes those either). One Arrow
    pass; output rows re-enter the normal extraction pipeline."""

    def compute(iterator):
        from yams_spark.functions.archive_codecs import (
            ArchiveError,
            analyze_archive,
            extract_gzip,
            extract_tar_member,
            extract_zip_member,
        )

        for pdf in iterator:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                try:
                    meta = analyze_archive(data)
                except ArchiveError:
                    continue
                if meta is None or meta["format"] == "RAR":
                    continue
                if meta["format"] == "GZIP":
                    try:
                        body = extract_gzip(data)
                    except Exception:
                        continue
                    name = meta["entries"][0]["name"] or "gzip-member"
                    rows.append((mid, name, body, len(body), False))
                    continue
                for e in meta["entries"]:
                    if e["is_dir"]:
                        rows.append((mid, e["name"], None, 0, True))
                        continue
                    try:
                        if meta["format"] == "ZIP":
                            body = extract_zip_member(data, e["name"])
                        else:
                            body = extract_tar_member(data, e["name"])
                    except ArchiveError:
                        continue
                    rows.append((mid, e["name"], body, len(body), False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "member_name", "member_bytes",
                         "member_size", "is_dir"],
            )

    return media.select("media_id", "payload").mapInPandas(
        compute,
        schema="media_id string, member_name string, "
        "member_bytes binary, member_size long, is_dir boolean",
    )


def synth_archive_table(spark, n: int = 48) -> DataFrame:
    """Deterministic synthetic archive corpus: ZIP (Deflate + Store),
    TAR, GZIP, a RAR signature row and a non-archive row per cycle —
    member texts derive from the row index, no external data."""
    from yams_spark.functions.archive_codecs import (
        build_gzip,
        build_tar,
        build_zip,
    )

    rows = []
    for i in range(n):
        members = [
            (f"docs/file_{i}_{j}.txt",
             (f"member {i}/{j} body " * (3 + (i + j) % 5)).encode())
            for j in range(1 + i % 3)
        ]
        fam = i % 5
        if fam == 0:
            payload, mime = build_zip(members, method=8), "application/zip"
        elif fam == 1:
            payload, mime = build_zip(members, method=0), "application/zip"
        elif fam == 2:
            payload, mime = build_tar(members), "application/x-tar"
        elif fam == 3:
            payload = build_gzip(members[0][1], name=members[0][0])
            mime = "application/gzip"
        else:
            payload, mime = (
                b"Rar!\x1a\x07\x00\x05" + bytes([i % 251] * 40),
                "application/vnd.rar",
            )
        rows.append((f"a{i:04d}", "archive", payload, mime, None, None,
                     None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synth_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for tests: REAL decodable
    payloads (PPM images, PCM16 WAV audio) plus opaque video bytes —
    binary payload + typed metadata, no external data."""
    from yams_spark.functions.media_codecs import encode_ppm, encode_wav

    from yams_spark.functions.media_codecs import encode_png

    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            w = h = 8 + i % 5
            img = (np.arange(h * w * 3, dtype=np.int64) * (i + 3) % 256).astype(
                np.uint8
            ).reshape(h, w, 3)
            # rotate the four REAL image codecs (netpbm, PNG, GIF, JPEG)
            if i % 12 == 0:
                payload, mime = encode_png(img), "image/png"
            elif i % 12 == 6:
                from yams_spark.functions.jpeg_codec import encode_jpeg

                payload, mime = encode_jpeg(img, quality=90), "image/jpeg"
            elif i % 12 == 3 or i % 12 == 9:
                from yams_spark.functions.media_codecs import encode_gif

                pal = img.reshape(-1, 3)[:: max(1, (h * w) // 8)][:8]
                payload = encode_gif(
                    (np.arange(h * w, dtype=np.int64) % len(pal))
                    .astype(np.uint8).reshape(h, w),
                    pal,
                )
                mime = "image/gif"
            else:
                payload, mime = encode_ppm(img), "image/x-portable-pixmap"
            width = height = w
            duration = None
        elif kind == "audio":
            t = np.arange(800) / 8000.0
            tone = 0.5 * np.sin(2 * np.pi * (200 + 40 * i) * t)
            if i % 6 == 1:  # rotate the three REAL audio codecs
                from yams_spark.functions.flac_codec import encode_flac

                payload = encode_flac(
                    (tone * 32767).astype(np.int32), rate=8000
                )
                mime = "audio/flac"
            elif i % 12 == 4:  # (audio rows have i%6 in {1,4}: keep WAV too)
                from yams_spark.functions.mpeg_audio import encode_layer2

                t2 = np.arange(1152 * 2) / 44100.0
                payload = encode_layer2(
                    0.5 * np.sin(2 * np.pi * (300 + 60 * i) * t2), 44100, 192
                )
                mime = "audio/mpeg"
            else:
                payload, mime = encode_wav(tone, rate=8000), "audio/wav"
            width, height, duration = None, None, None
        else:
            # REAL structural MP4 container (box tree parses for true
            # metadata). Every third video row is a Motion-JPEG track
            # with real JPEG frame samples in mdat (+ full stsz/stco
            # tables) — REAL pixel decode; avc1 rows keep the documented
            # fake-feature boundary (inter-frame codecs)
            from yams_spark.functions.mp4_meta import build_mp4

            duration = (i + 1) * 750
            width, height = 320 + 16 * (i % 4), 240 + 16 * (i % 4)
            if i % 9 == 5:
                from yams_spark.functions.jpeg_codec import encode_jpeg

                fw = fh_ = 16
                frames = []
                for fidx in range(3):
                    img = (
                        (np.arange(fh_ * fw * 3, dtype=np.int64)
                         * (i + 2 + fidx * 7)) % 256
                    ).astype(np.uint8).reshape(fh_, fw, 3)
                    frames.append(encode_jpeg(img, quality=85))
                vide = {"kind": "vide", "codec": "jpeg", "width": fw,
                        "height": fh_, "duration_ms": duration,
                        "samples": frames}
            else:
                vide = {"kind": "vide", "codec": "avc1", "width": width,
                        "height": height, "duration_ms": duration}
            payload = build_mp4(
                duration_ms=duration,
                tracks=[
                    vide,
                    {"kind": "soun", "codec": "mp4a", "width": 0,
                     "height": 0, "duration_ms": duration},
                ],
                use_64bit=(i % 6 == 2),
            )
            mime = "video/mp4"
        rows.append((f"m{i:04d}", kind, payload, mime, width, height, duration))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
