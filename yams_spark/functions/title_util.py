"""Title derivation cascade + structural document sectioning.

Reference: ``src/extraction/title_util.cpp`` and the ingest cascade in
``src/daemon/components/PostIngestQueue.cpp:1569-1615`` (deriveTitle):

* empty text → the file name;
* HTML (``.html``/``.htm``/``text/html``) → ``extractHtmlTitle``
  (:82-106): case-insensitive ``<title``…``>``…``</title>`` within the
  first 4096 bytes;
* Markdown (``.md``/``.markdown``/``text/markdown``) →
  ``extractMarkdownHeading`` (:107-132): the first non-empty line
  starting with ``#`` within 200 lines, hashes stripped;
* ``extractCodeSignature`` (:133-158): the first comment-stripped line
  (:45-68 — ``//``/``#``/``--``/``/*``/``*``/``*/`` prefixes) opening
  with one of the ten declaration keywords;
* ``extractFirstMeaningfulLine`` (:160-178);
* the file name as the final fallback.

Every candidate passes ``normalizeTitleCandidate`` (:70-80): trim,
collapse whitespace, 120-byte cap. The GLiNER ML title path is the
async model boundary (same stance as the ``embed_fn`` seam).

``detect_document_sections`` (:180-355) is the language-agnostic
structural splitter: a 200-line/16384-byte scan window, section
headers = short standalone lines (1-8 words, ALL-CAPS or numbered or
≤4 words) preceded by a blank line, title = the pre-header lines
(stopping after the first ≥4-word line), named section spans, an
abstract gate (first section block, 40 < len < 4000), and the
first-line fallback when no headers exist.

All scalar (per-row text walks); the Spark surface is one Arrow batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "strip_comment_prefix",
    "extract_html_title",
    "extract_markdown_heading",
    "extract_code_signature",
    "extract_first_meaningful_line",
    "derive_title",
    "derive_title_col",
    "detect_document_sections",
    "CODE_SIGNATURE_PREFIXES",
]

CODE_SIGNATURE_PREFIXES = (
    "class ", "struct ", "interface ", "enum ", "def ", "function ",
    "fn ", "module ", "package ", "namespace ",
)

_WS = " \t\n\x0b\f\r"


def _trim(s: str) -> str:
    return s.strip(_WS)


def _collapse(s: str) -> str:
    out = []
    in_space = False
    for c in s:
        if c in _WS:
            if not in_space:
                out.append(" ")
                in_space = True
        else:
            out.append(c)
            in_space = False
    return "".join(out)


def _normalize_candidate(s: str) -> str:
    """normalizeTitleCandidate (:70-80)."""
    s = _trim(s)
    if not s:
        return s
    return _collapse(s)[:120]


def strip_comment_prefix(line: str) -> str:
    """stripCommentPrefix (:45-68) — note ``/*`` keeps stripping (no
    early return), so ``/* * text`` unwraps twice."""
    s = _trim(line)
    if s.startswith("//"):
        return _trim(s[2:])
    if s.startswith("#"):
        return _trim(s[1:])
    if s.startswith("--"):
        return _trim(s[2:])
    if s.startswith("/*"):
        s = _trim(s[2:])
    if s.startswith("*/"):
        return _trim(s[2:])
    if s.startswith("*"):
        return _trim(s[1:])
    return s


def extract_html_title(text: str) -> str:
    """extractHtmlTitle (:82-106): scan window = first 4096 chars."""
    window = text[:4096]
    lower = "".join(
        chr(ord(c) + 0x20) if "A" <= c <= "Z" else c for c in window
    )
    open_pos = lower.find("<title")
    if open_pos < 0:
        return ""
    gt = lower.find(">", open_pos)
    if gt < 0:
        return ""
    close = lower.find("</title>", gt)
    if close < 0:
        return ""
    return _normalize_candidate(window[gt + 1 : close])


def _iter_lines(text: str):
    pos = 0
    lines = 0
    n = len(text)
    while pos < n and lines < 200:
        end = text.find("\n", pos)
        if end < 0:
            end = n
        yield text[pos:end]
        pos = end + 1
        lines += 1


def extract_markdown_heading(text: str) -> str:
    """extractMarkdownHeading (:107-132)."""
    for raw in _iter_lines(text):
        line = _trim(raw)
        if line:
            if line.startswith("#"):
                i = 0
                while i < len(line) and line[i] == "#":
                    i += 1
                return _normalize_candidate(line[i:].strip(_WS))
    return ""


def extract_code_signature(text: str) -> str:
    """extractCodeSignature (:133-158)."""
    for raw in _iter_lines(text):
        line = strip_comment_prefix(raw)
        if line:
            for prefix in CODE_SIGNATURE_PREFIXES:
                if line.startswith(prefix):
                    return _normalize_candidate(line)
    return ""


def extract_first_meaningful_line(text: str) -> str:
    """extractFirstMeaningfulLine (:160-178)."""
    for raw in _iter_lines(text):
        line = strip_comment_prefix(raw)
        if line:
            return _normalize_candidate(line)
    return ""


def derive_title(
    text: str, file_name: str, mime_type: str = "", extension: str = ""
) -> str:
    """PostIngestQueue::deriveTitle (:1569-1615)."""
    if not text:
        return file_name
    if extension in (".html", ".htm") or mime_type == "text/html":
        t = extract_html_title(text)
        if t:
            return t
    if extension in (".md", ".markdown") or mime_type == "text/markdown":
        t = extract_markdown_heading(text)
        if t:
            return t
    t = extract_code_signature(text)
    if t:
        return t
    t = extract_first_meaningful_line(text)
    if t:
        return t
    return file_name


def derive_title_col(
    text: Column | str,
    file_name: Column | str,
    mime_type: Column | str,
    extension: Column | str,
) -> Column:
    """deriveTitle over columns — one Arrow batch (the line walks are
    per-row sequential)."""
    cols = [
        F.col(c) if isinstance(c, str) else c
        for c in (text, file_name, mime_type, extension)
    ]

    @pandas_udf("string")
    def _derive(t: pd.Series, fn: pd.Series, mt: pd.Series,
                ext: pd.Series) -> pd.Series:
        return pd.Series(
            [
                derive_title(a or "", b or "", c or "", d or "")
                for a, b, c, d in zip(t, fn, mt, ext)
            ]
        )

    return _derive(*cols)


def detect_document_sections(text: str) -> dict:
    """detectDocumentSections (:180-355), field for field."""
    result = {"title": "", "abstract": "", "body": "", "sections": []}
    if not text:
        return result
    scan_end = min(len(text), 16384)
    lines = []
    pos = 0
    while pos < scan_end and len(lines) < 200:
        nl = text.find("\n", pos)
        if nl < 0:
            # npos clamps to the window; a found newline BEYOND the
            # window is kept, so the last line walks past scanEnd
            # exactly like the C++ (:207-209).
            nl = scan_end
        if nl > pos:
            seg = text[pos:nl]
            word_count = 0
            all_caps = True
            has_num = False
            is_empty = True
            has_letter = False
            in_word = False
            for c in seg:
                if c in _WS:
                    in_word = False
                else:
                    if not in_word:
                        word_count += 1
                        in_word = True
                    is_empty = False
                    if c.isdigit() and c.isascii():
                        has_num = True
                    if c.isascii() and c.isalpha():
                        has_letter = True
                        if not c.isupper():
                            all_caps = False
            if not has_letter:
                all_caps = False
            lines.append(
                {
                    "start": pos, "end": nl + 1, "words": word_count,
                    "all_caps": all_caps, "num": has_num,
                    "empty": is_empty,
                }
            )
        pos = nl + 1
    if not lines:
        result["body"] = text
        return result

    def is_header(l) -> bool:
        if l["empty"] or l["words"] > 8:
            return False
        if l["all_caps"] and 1 <= l["words"] <= 6:
            return True
        if l["num"] and 1 <= l["words"] <= 8:
            return True
        return 1 <= l["words"] <= 4

    first_header = len(lines)
    for i, l in enumerate(lines):
        if is_header(l) and i > 0 and lines[i - 1]["empty"]:
            first_header = i
            break

    if first_header < len(lines):
        title_text = ""
        for i in range(first_header):
            l = lines[i]
            if not l["empty"]:
                if title_text:
                    title_text += " "
                title_text += _trim(text[l["start"] : l["end"] - 1])
                if l["words"] >= 4:
                    break
        result["title"] = _normalize_candidate(title_text)
        sec_start = lines[first_header]["start"]
        sec_name = ""
        sec_idx = 0
        for i in range(first_header, len(lines)):
            l = lines[i]
            if is_header(l) and i > first_header and lines[i - 1]["empty"]:
                sec_end = l["start"]
                if _trim(text[sec_start:sec_end]):
                    result["sections"].append(
                        {
                            "name": sec_name or f"sec{sec_idx}",
                            "start": sec_start, "end": sec_end,
                        }
                    )
                    sec_idx += 1
                sec_start = l["start"]
                sec_name = ""
            if sec_start == l["start"] and 1 <= l["words"] <= 8:
                sec_name = _trim(text[l["start"] : l["end"] - 1])
        final_end = min(scan_end, len(text))
        if _trim(text[sec_start:final_end]):
            result["sections"].append(
                {
                    "name": sec_name or f"sec{sec_idx}",
                    "start": sec_start, "end": final_end,
                }
            )
        if result["sections"] and not result["abstract"]:
            first = result["sections"][0]
            block = _trim(text[first["start"] : first["end"]])
            if 40 < len(block) < 4000:
                result["abstract"] = _collapse(block)
    else:
        result["title"] = extract_first_meaningful_line(text)
        result["body"] = text

    if not result["body"] and result["title"]:
        title_pos = text.find(result["title"])
        if title_pos >= 0:
            body_start = title_pos + len(result["title"])
            while body_start < len(text) and text[body_start] in _WS:
                body_start += 1
            if body_start < len(text):
                result["body"] = _collapse(_trim(text[body_start:]))
    return result


def detect_sections_col(text: Column | str) -> Column:
    """detectDocumentSections over a text column — one Arrow batch
    returning (title, abstract, body, n_sections, section_names)."""
    c = F.col(text) if isinstance(text, str) else text

    @pandas_udf(
        "struct<title: string, abstract: string, body: string, "
        "n_sections: int, section_names: array<string>>"
    )
    def _detect(series: pd.Series) -> pd.DataFrame:
        rows = []
        for t in series:
            r = detect_document_sections(t or "")
            rows.append(
                {
                    "title": r["title"],
                    "abstract": r["abstract"],
                    "body": r["body"],
                    "n_sections": len(r["sections"]),
                    "section_names": [s["name"] for s in r["sections"]],
                }
            )
        return pd.DataFrame(rows)

    return _detect(c)
