"""Plain-text extraction tier (text_extractor_utils.cpp /
plain_text_extractor.cpp) — encoding/conversion/gate/language scalar
twins + the Spark batch surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yams_spark.functions.plain_extract import (
    convert_to_utf8,
    detect_encoding,
    detect_language_simple,
    extract_from_buffer,
    extract_plain_text_col,
    is_binary_file,
    is_parseable_text,
)


def test_detect_encoding():
    assert detect_encoding(b"\xef\xbb\xbfhello") == ("UTF-8", 1.0)
    assert detect_encoding(b"\xff\xfea\x00") == ("UTF-16LE", 1.0)
    assert detect_encoding(b"\xfe\xff\x00a") == ("UTF-16BE", 1.0)
    assert detect_encoding(b"plain ascii") == ("UTF-8", 0.9)
    assert detect_encoding("héllo".encode()) == ("UTF-8", 0.9)
    assert detect_encoding(b"caf\xe9 latin1") == ("ISO-8859-1", 0.5)
    # strict walk: truncated multibyte tail is INVALID (:42-58)
    assert detect_encoding(b"ok \xc3") == ("ISO-8859-1", 0.5)
    assert detect_encoding(b"") == ("UTF-8", 0.9)


def test_convert_to_utf8():
    assert convert_to_utf8(b"caf\xe9", "ISO-8859-1") == "café"
    # UTF-16LE with BOM, pair, stray low surrogate, truncated high
    le = "a€\U0001F600".encode("utf-16-le")
    assert convert_to_utf8(b"\xff\xfe" + le, "UTF-16LE") == "a€\U0001F600"
    be = "a€\U0001F600".encode("utf-16-be")
    assert convert_to_utf8(b"\xfe\xff" + be, "UTF-16BE") == "a€\U0001F600"
    # stray low surrogate -> U+FFFD; truncated high -> U+FFFD and stop
    assert convert_to_utf8(b"\x00\xdcA\x00", "UTF-16LE") == "�A"
    assert convert_to_utf8(b"A\x00\x00\xd8", "UTF-16LE") == "A�"
    # high surrogate followed by non-low -> U+FFFD then continue
    assert convert_to_utf8(b"\x00\xd8B\x00C\x00", "UTF-16LE") == "�C"
    assert convert_to_utf8(b"x", "KOI8-R") is None
    assert convert_to_utf8(b"abc", "UTF-8") == "abc"


def test_binary_and_parseable_gates():
    assert not is_binary_file(b"")
    assert not is_binary_file(b"plain text\nwith lines\t.")
    # NUL at index <= 3 is allowed (BOM slack), later is binary
    assert not is_binary_file(b"\x00\x01ab" + b"x" * 60)
    assert is_binary_file(b"abcd\x00more")
    # >30% non-printable (integer percent)
    assert is_binary_file(bytes([1, 2, 3, 4]) + b"abcdef")  # 4/10 = 40%
    assert not is_binary_file(bytes([1, 2, 3]) + b"abcdefg")  # 3/10 = 30%
    assert is_parseable_text("héllo wörld".encode())
    assert not is_parseable_text(b"bad \xc3\x28 cont")
    assert not is_parseable_text(b"\xf9 start")
    # truncated at the boundary: assumed valid (:285-287)
    assert is_parseable_text(b"ok \xc3")


def test_detect_language():
    en = "the cat is on the mat and it sat for hours of fun"
    es = "el perro y la casa de que un una es por con"
    fr = "le chien est dans une maison pour que avec"
    assert detect_language_simple(en) == ("en", 0.9)
    assert detect_language_simple(es)[0] == "es"
    assert detect_language_simple(fr)[0] == "fr"
    # substring hits don't count: 'the' inside 'theme' is not a word
    assert detect_language_simple("theme athematic clothes")[0] == "en"
    assert detect_language_simple("theme athematic clothes")[1] == 0.3
    # empty/neutral defaults to en at 0.3
    assert detect_language_simple("zzz qqq") == ("en", 0.3)


def test_extract_from_buffer_cascade():
    out = extract_from_buffer(b"abcd\x00binary" + b"x" * 60)
    assert (out["success"], out["error"]) == (
        False, "Buffer appears to contain binary data"
    )
    out = extract_from_buffer(b"bad \xc3\x28")
    assert out["error"] == "Buffer does not contain valid text encoding"
    out = extract_from_buffer(b"the cat is on the mat and to for of")
    assert out["success"] and out["encoding"] == "UTF-8"
    assert out["encoding_confidence"] == "0.900000"
    assert out["language"] == "en" and out["language_confidence"] == "0.900000"
    # NB: latin-1 bytes fail the parseable gate before conversion —
    # extractFromBuffer only ever converts BOM'd UTF-16 in practice,
    # since the UTF-8 walk rejects other encodings first (:88-93).
    u16 = b"\xff\xfe" + "el perro y la casa de que un es".encode("utf-16-le")
    out = extract_from_buffer(u16)
    assert not out["success"]  # 0x00 bytes trip the binary gate first


def test_plain_extract_entry_fixture_margins():
    """q101 fixture audit: every language-scored sentence must have a
    strictly unique argmax (or all-zero), since the C++ tie behavior is
    unordered_map hash-order dependent."""
    from yams_spark.functions.plain_extract import LANGUAGE_STOPWORDS

    texts = [
        "the cat is on the mat and it goes to the den for lots of 7",
        "el perro y la casa de que un dia es por con gusto 7",
        "le chien est dans une maison pour la route avec bruit 7",
        "zzz qwerty 7",
        "theme athematic clothes around 7",
        "hola el mundo de la casa que es un sitio por aqui 7",
    ]
    for t in texts:
        scores = []
        for _, words in LANGUAGE_STOPWORDS:
            lower = t.lower()
            s = 0
            for w in words:
                import re

                if re.search(
                    rf"(^|[^a-zA-Z]){re.escape(w)}([^a-zA-Z]|$)", lower
                ):
                    s += 1
            scores.append(s)
        top = sorted(scores, reverse=True)
        assert top[0] == 0 or top[0] > top[1], (t, scores)


def test_spark_batch_matches_scalar(spark):
    corpus = [
        ("utf8", b"the cat is on the mat and to for of in"),
        ("bom", b"\xef\xbb\xbfhola el perro y la casa de que un es por"),
        ("bin", b"abcd\x00" + b"x" * 100),
        ("badutf", b"bad \xc3\x28 seq"),
        ("empty", b""),
    ]
    df = spark.createDataFrame(corpus, "name string, data binary")
    got = {
        r["name"]: r["r"].asDict()
        for r in df.select(
            "name", extract_plain_text_col("data").alias("r")
        ).collect()
    }
    for name, data in corpus:
        want = extract_from_buffer(data)
        assert got[name] == want, name
