"""WAL record codec (wal_entry.cpp) — round-trips, validity gates,
corruption, the StoreBlock payload codec. No Spark session needed (the
scalar codec is the wire-format surface)."""

from __future__ import annotations

import struct
import zlib

from yams_spark.streaming.wal_codec import (
    WAL_HEADER_SIZE,
    WAL_MAGIC,
    decode_store_block,
    decode_wal_entry,
    encode_store_block,
    encode_wal_entry,
)


def test_roundtrip_and_layout():
    payload = encode_store_block("a" * 64, 4096, 3)
    blob = encode_wal_entry(
        "StoreBlock", sequence_num=7, transaction_id=99,
        payload=payload, timestamp=1_700_000_000_000_000,
    )
    assert len(blob) == WAL_HEADER_SIZE + 40
    assert blob[:4] == b"1LAW"  # 0x57414C31 little-endian
    e = decode_wal_entry(blob)
    assert e is not None
    assert (e["op"], e["sequence_num"], e["transaction_id"]) == (
        "StoreBlock", 7, 99,
    )
    assert e["timestamp"] == 1_700_000_000_000_000
    sb = decode_store_block(e["data"])
    # char[32] truncates the 64-char hex digest to its first 32 chars
    assert sb == {"hash": "a" * 32, "size": 4096, "ref_count": 3}
    # checksum is the zlib CRC over zero-checksum header + data
    zeroed = bytearray(blob)
    zeroed[40:44] = b"\0\0\0\0"
    assert e["checksum"] == (zlib.crc32(bytes(zeroed)) & 0xFFFFFFFF)


def test_validity_gates():
    good = encode_wal_entry("Checkpoint", sequence_num=1)
    assert decode_wal_entry(good) is not None
    assert decode_wal_entry(good[:-1] if len(good) > 48 else good[:47]) is None
    # zero sequence invalid (wal_entry.h:61-62)
    assert decode_wal_entry(encode_wal_entry(8, sequence_num=0)) is None
    # unknown op
    bad_op = bytearray(encode_wal_entry(8, sequence_num=1))
    bad_op[32] = 9
    assert decode_wal_entry(bytes(bad_op)) is None
    # version 2 accepted (dual-read), 3 rejected
    assert decode_wal_entry(
        encode_wal_entry(8, sequence_num=1, version=2)
    ) is not None
    assert decode_wal_entry(
        encode_wal_entry(8, sequence_num=1, version=3)
    ) is None
    # corrupt payload byte -> checksum mismatch
    blob = bytearray(
        encode_wal_entry("StoreBlock", 5, payload=encode_store_block("h1", 1))
    )
    blob[WAL_HEADER_SIZE] ^= 0xFF
    assert decode_wal_entry(bytes(blob)) is None


def test_payload_codecs():
    assert decode_store_block(encode_store_block("short", 7, 2)) == {
        "hash": "short", "size": 7, "ref_count": 2,
    }
    assert decode_store_block(b"short") is None
    # struct size matches the C layout
    assert len(encode_store_block("h", 1, 1)) == 40
