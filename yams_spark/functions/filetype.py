"""File-type detection from magic bytes (the reference's
``src/detection/file_type_detector.cpp`` + the constexpr pattern table of
``include/yams/core/magic_numbers.hpp``): prefix-pattern match →
(mime, file_type, confidence), with the reference's UTF-8 text
validation fallback (:115-140 — strict continuation-byte walk) and an
extension map for names. Patterns are standard public signatures; the
set covers every format this repo can actually decode plus the common
web-corpus types."""

from __future__ import annotations

#: (prefix bytes, offset, mime, file_type, confidence)
MAGIC_PATTERNS: list[tuple[bytes, int, str, str, float]] = [
    (b"\x89PNG\r\n\x1a\n", 0, "image/png", "image", 1.0),
    (b"\xff\xd8\xff", 0, "image/jpeg", "image", 0.95),
    (b"GIF87a", 0, "image/gif", "image", 1.0),
    (b"GIF89a", 0, "image/gif", "image", 1.0),
    (b"BM", 0, "image/bmp", "image", 0.7),
    (b"P5", 0, "image/x-portable-graymap", "image", 0.8),
    (b"P6", 0, "image/x-portable-pixmap", "image", 0.8),
    (b"fLaC", 0, "audio/flac", "audio", 1.0),
    (b"ID3", 0, "audio/mpeg", "audio", 0.9),
    (b"\xff\xfb", 0, "audio/mpeg", "audio", 0.8),
    (b"\xff\xfd", 0, "audio/mpeg", "audio", 0.8),  # L2, no CRC
    (b"\xff\xfc", 0, "audio/mpeg", "audio", 0.8),  # L2, CRC
    (b"\xff\xfa", 0, "audio/mpeg", "audio", 0.8),  # L3, CRC
    (b"ftyp", 4, "video/mp4", "video", 0.95),
    (b"%PDF", 0, "application/pdf", "document", 1.0),
    (b"PK\x03\x04", 0, "application/zip", "archive", 0.9),
    (b"\x1f\x8b", 0, "application/gzip", "archive", 0.9),
    (b"\x7fELF", 0, "application/x-executable", "executable", 1.0),
    (b"<html", 0, "text/html", "text", 0.8),
    (b"<!DOCTYPE", 0, "text/html", "text", 0.8),
]

EXTENSION_MIME: dict[str, str] = {
    ".jpg": "image/jpeg", ".jpeg": "image/jpeg", ".png": "image/png",
    ".gif": "image/gif", ".bmp": "image/bmp", ".ppm": "image/x-portable-pixmap",
    ".pgm": "image/x-portable-graymap", ".wav": "audio/wav",
    ".flac": "audio/flac", ".mp2": "audio/mpeg", ".mp3": "audio/mpeg",
    ".mp4": "video/mp4", ".html": "text/html", ".htm": "text/html",
    ".txt": "text/plain", ".json": "application/json", ".pdf": "application/pdf",
    ".zip": "application/zip", ".gz": "application/gzip",
}


def is_valid_utf8_text(data: bytes) -> bool:
    """The reference's strict UTF-8 continuation walk
    (file_type_detector.cpp:115-145) over a 512-byte prefix sample, plus a
    control-byte veto (NUL ⇒ binary)."""
    chunk = data[:512]
    if b"\x00" in chunk:
        return False
    i, n = 0, len(chunk)
    while i < n:
        c = chunk[i]
        if c < 0x80:
            i += 1
            continue
        if 0xC2 <= c <= 0xDF:
            need = 1
        elif 0xE0 <= c <= 0xEF:
            need = 2
        elif 0xF0 <= c <= 0xF4:
            need = 3
        else:
            return False
        if i + need >= n:
            return True  # truncated multi-byte at the sample edge: accept
        for j in range(1, need + 1):
            if (chunk[i + j] & 0xC0) != 0x80:
                return False
        i += need + 1
    return True


def detect_file_type(data: bytes, name: str | None = None) -> dict:
    """(mime, file_type, confidence, method) for one payload — magic
    prefix first, WAV's two-part RIFF check, then the UTF-8 text
    fallback, then the extension map, else octet-stream
    (file_type_detector.cpp classification cascade)."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return {"mime": "audio/wav", "file_type": "audio",
                "confidence": 1.0, "method": "magic"}
    for pattern, off, mime, ftype, conf in MAGIC_PATTERNS:
        if data[off : off + len(pattern)] == pattern:
            return {"mime": mime, "file_type": ftype,
                    "confidence": conf, "method": "magic"}
    if name:
        dot = name.rfind(".")
        ext = name[dot:].lower() if dot >= 0 else ""
        if ext in EXTENSION_MIME:
            mime = EXTENSION_MIME[ext]
            return {"mime": mime,
                    "file_type": mime.split("/")[0],
                    "confidence": 0.5, "method": "extension"}
    if data and is_valid_utf8_text(data):
        return {"mime": "text/plain", "file_type": "text",
                "confidence": 0.6, "method": "utf8"}
    return {"mime": "application/octet-stream", "file_type": "binary",
            "confidence": 0.1, "method": "fallback"}
