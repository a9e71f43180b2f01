"""Plain-text extraction tier: encoding detection, UTF-16/Latin-1 →
UTF-8 conversion, binary/parseable gates, the reference's tiny
stopword language detector.

Reference:

* ``src/extraction/text_extractor_utils.cpp`` —
  ``EncodingDetector::detectEncoding`` (:11-73): UTF-8 BOM → 1.0,
  UTF-16LE/BE BOM → 1.0, strict whole-buffer UTF-8 walk (truncated
  multibyte tail = INVALID, unlike the parseable-text probe) → 0.9,
  else ISO-8859-1 at 0.5. ``convertToUtf8`` (:94-153): Latin-1
  codepoint widening; UTF-16 LE/BE with BOM skip, surrogate pairing
  and U+FFFD for stray/truncated surrogates. ``LanguageDetector::
  detectLanguage`` (:156-211): whole-word hits (byte-wise ``isalpha``
  boundaries) against three stopword lists; confidence 0.9/0.7/0.3 at
  score >5 / >2 / else. The C++ scans an ``unordered_map`` and keeps
  strictly-greater scores, so exact ties are hash-order dependent —
  this twin iterates en, es, fr in that fixed order (documented
  deterministic tie rule; the entry fixture keeps scores untied).
* ``src/extraction/plain_text_extractor.cpp`` —
  ``extractFromBuffer`` (:76-124): binary gate → parseable gate →
  encoding detect → convert (fallback to raw text with a warning) →
  language detect; confidences stored via ``std::to_string`` (fixed
  6 decimals). ``isBinaryFile`` (:233-257): a NUL past index 3, or
  >30% non-printable (integer percent) over the first 8192 bytes.
  ``isParseableText`` (:259-297): UTF-8 walk over the first 8192
  bytes where a sequence truncated AT the check boundary counts as
  valid.

The byte walks are inherently sequential per row; the Spark surface is
an Arrow-batched pandas UDF over the binary column (the media-codec
seam).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "detect_encoding",
    "convert_to_utf8",
    "is_binary_file",
    "is_parseable_text",
    "detect_language_simple",
    "extract_from_buffer",
    "extract_plain_text_col",
    "LANGUAGE_STOPWORDS",
]

#: text_extractor_utils.cpp:177-190, in the deterministic scan order.
LANGUAGE_STOPWORDS = (
    ("en", ("the", "is", "are", "and", "or", "but", "in", "on", "at",
            "to", "for", "of")),
    ("es", ("el", "la", "de", "que", "y", "en", "un", "una", "es",
            "por", "con")),
    ("fr", ("le", "de", "un", "une", "et", "est", "pour", "dans",
            "que", "avec")),
)


def _valid_utf8_walk(data: bytes, limit: int, truncated_ok: bool) -> bool:
    i = 0
    n = min(len(data), limit)
    while i < n:
        b = data[i]
        if b <= 0x7F:
            i += 1
            continue
        if (b & 0xE0) == 0xC0:
            seq = 2
        elif (b & 0xF0) == 0xE0:
            seq = 3
        elif (b & 0xF8) == 0xF0:
            seq = 4
        else:
            return False
        for j in range(1, seq):
            if i + j >= n:
                return truncated_ok
            if (data[i + j] & 0xC0) != 0x80:
                return False
        i += seq
    return True


def detect_encoding(data: bytes) -> tuple[str, float]:
    """EncodingDetector::detectEncoding (:11-73)."""
    if len(data) >= 3 and data[0] == 0xEF and data[1] == 0xBB and data[2] == 0xBF:
        return "UTF-8", 1.0
    if len(data) >= 2:
        if data[0] == 0xFF and data[1] == 0xFE:
            return "UTF-16LE", 1.0
        if data[0] == 0xFE and data[1] == 0xFF:
            return "UTF-16BE", 1.0
    # Strict walk over the whole buffer; a truncated tail is invalid
    # (:42-58 — the i+k >= size checks fail the sequence).
    if _valid_utf8_walk(data, len(data), truncated_ok=False):
        return "UTF-8", 0.9
    return "ISO-8859-1", 0.5


def convert_to_utf8(text: bytes, from_encoding: str) -> str | None:
    """convertToUtf8 (:94-153); None mirrors the unsupported-encoding
    error."""
    if from_encoding in ("UTF-8", "utf-8", "ASCII"):
        return text.decode("utf-8", "surrogateescape")
    if from_encoding in ("ISO-8859-1", "iso-8859-1", "latin1"):
        return "".join(chr(b) for b in text)
    if from_encoding in ("UTF-16LE", "UTF-16BE"):
        le = from_encoding == "UTF-16LE"
        i = 0
        if len(text) >= 2:
            bom = (
                (text[1] << 8 | text[0]) if le else (text[0] << 8 | text[1])
            )
            if bom == 0xFEFF:
                i = 2
        out: list[str] = []
        n = len(text)
        while i + 1 < n:
            w = (text[i + 1] << 8 | text[i]) if le else (
                text[i] << 8 | text[i + 1]
            )
            i += 2
            if 0xD800 <= w <= 0xDBFF:
                if i + 1 >= n:
                    out.append("�")
                    break
                w2 = (text[i + 1] << 8 | text[i]) if le else (
                    text[i] << 8 | text[i + 1]
                )
                i += 2
                if not (0xDC00 <= w2 <= 0xDFFF):
                    out.append("�")
                    continue
                out.append(chr(0x10000 + (((w - 0xD800) << 10) | (w2 - 0xDC00))))
            elif 0xDC00 <= w <= 0xDFFF:
                out.append("�")
            else:
                out.append(chr(w))
        return "".join(out)
    return None


def is_binary_file(data: bytes) -> bool:
    """isBinaryFile (plain_text_extractor.cpp:233-257)."""
    check = min(len(data), 8192)
    if check == 0:
        return False
    non_printable = 0
    for i in range(check):
        b = data[i]
        if b == 0 and i > 3:
            return True
        if b < 32 and b not in (9, 10, 13):
            non_printable += 1
    return (non_printable * 100 // check) > 30


def is_parseable_text(data: bytes) -> bool:
    """isParseableText (:259-297): truncation at the 8192 boundary is
    assumed valid — the opposite of detect_encoding's strict walk."""
    return _valid_utf8_walk(data, 8192, truncated_ok=True)


def detect_language_simple(text: str) -> tuple[str, float]:
    """LanguageDetector::detectLanguage (:156-211); byte-wise ASCII
    isalpha boundaries, en/es/fr scan order for ties."""
    # Byte-wise C-locale tolower: only ASCII A-Z fold; multibyte UTF-8
    # sequences pass through untouched (their bytes are all >= 0x80).
    lower = "".join(
        chr(ord(c) + 0x20) if "A" <= c <= "Z" else c for c in text
    )

    def alpha(ch: str) -> bool:
        return ("a" <= ch <= "z") or ("A" <= ch <= "Z")

    def whole_word(word: str) -> bool:
        pos = 0
        while True:
            pos = lower.find(word, pos)
            if pos < 0:
                return False
            ok_start = pos == 0 or not alpha(lower[pos - 1])
            end = pos + len(word)
            ok_end = end >= len(lower) or not alpha(lower[end])
            if ok_start and ok_end:
                return True
            pos += 1

    best_lang, best = "en", 0
    for lang, words in LANGUAGE_STOPWORDS:
        score = sum(1 for w in words if whole_word(w))
        if score > best:
            best, best_lang = score, lang
    conf = 0.9 if best > 5 else (0.7 if best > 2 else 0.3)
    return best_lang, conf


def extract_from_buffer(data: bytes) -> dict:
    """extractFromBuffer (plain_text_extractor.cpp:76-124)."""
    if is_binary_file(data):
        return {
            "success": False,
            "error": "Buffer appears to contain binary data",
            "text": None, "encoding": None, "encoding_confidence": None,
            "language": None, "language_confidence": None,
        }
    if not is_parseable_text(data):
        return {
            "success": False,
            "error": "Buffer does not contain valid text encoding",
            "text": None, "encoding": None, "encoding_confidence": None,
            "language": None, "language_confidence": None,
        }
    encoding, conf = detect_encoding(data)
    if encoding in ("UTF-8", "ASCII"):
        text = data.decode("utf-8", "surrogateescape")
    else:
        converted = convert_to_utf8(data, encoding)
        # :108-110 — conversion failure degrades to the raw bytes.
        text = converted if converted is not None else data.decode(
            "latin-1"
        )
    out = {
        "success": True, "error": None, "text": text,
        "encoding": encoding, "encoding_confidence": f"{conf:.6f}",
        "language": None, "language_confidence": None,
    }
    if text:
        lang, lconf = detect_language_simple(text)
        out["language"] = lang
        out["language_confidence"] = f"{lconf:.6f}"
    return out


_RESULT_SCHEMA = (
    "struct<success: boolean, error: string, text: string, "
    "encoding: string, encoding_confidence: string, language: string, "
    "language_confidence: string>"
)


def extract_plain_text_col(data: Column | str) -> Column:
    """extractFromBuffer over a binary column (Arrow-batched)."""
    c = F.col(data) if isinstance(data, str) else data

    @pandas_udf(_RESULT_SCHEMA)
    def _extract(series: pd.Series) -> pd.DataFrame:
        rows = [
            extract_from_buffer(bytes(b))
            if b is not None
            else dict.fromkeys(
                ("success", "error", "text", "encoding",
                 "encoding_confidence", "language", "language_confidence")
            )
            for b in series
        ]
        return pd.DataFrame(rows)

    return _extract(c)
