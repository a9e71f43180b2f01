"""WAL record codec — the reference's on-disk write-ahead-log framing.

Reference: ``src/wal/wal_entry.cpp`` + ``include/yams/wal/wal_entry.h``.
The engine's own recovery story is Spark-native (stage parquet commits
+ watermark files + streaming checkpoints, plans/er_pipeline.py); this
module covers the WIRE FORMAT so stored reference WAL files are
readable and writable for parity:

* Header (wal_entry.h:42-71, natural alignment — 48 bytes with a
  4-byte tail pad, offsets compiler-verified): magic ``WAL1``
  (0x57414C31), version, sequenceNum, timestamp(us), transactionId,
  OpType (1..8), flags, reserved, dataSize, checksum. ``isValid``
  accepts version 1/2 (dual-read), requires a non-zero sequence and a
  known op (:55-67).
* serialize/updateChecksum (:92-162): CRC-32 (the zlib polynomial —
  wal_entry.cpp:16-28 is the bitwise form of exactly ``zlib.crc32``)
  over the ZERO-PADDED header bytes with the checksum field zeroed,
  then the payload; the checksum is patched at offset 40.
  deserialize (:112-148): size floor, isValid, dataSize bound,
  checksum verify (the legacy raw-padding fallback is byte-identical
  here because Python always writes zeroed padding — noted :183-189).
* The StoreBlockData payload codec (:191-262 + types.h:278
  HASH_SIZE=32): hash char[32] — a 64-char hex digest TRUNCATES to its
  first 32 chars, faithfully; uint32 size; uint32 refCount.
"""

from __future__ import annotations

import struct
import zlib

__all__ = [
    "WAL_MAGIC",
    "WAL_HEADER_SIZE",
    "OP_TYPES",
    "encode_wal_entry",
    "decode_wal_entry",
    "encode_store_block",
    "decode_store_block",
]

WAL_MAGIC = 0x57414C31  # "WAL1"
WAL_HEADER_SIZE = 48
_HEADER_FMT = "<IIQQQBBHII4x"
_HASH_SIZE = 32  # types.h:278

OP_TYPES = {
    1: "BeginTransaction", 2: "StoreBlock", 3: "DeleteBlock",
    4: "UpdateReference", 5: "UpdateMetadata", 6: "CommitTransaction",
    7: "Rollback", 8: "Checkpoint",
}
_OP_IDS = {v: k for k, v in OP_TYPES.items()}


def _header_bytes(
    version, seq, ts, tx, op, flags, data_size, checksum
) -> bytes:
    return struct.pack(
        _HEADER_FMT, WAL_MAGIC, version, seq, ts, tx, op, flags, 0,
        data_size, checksum,
    )


def encode_wal_entry(
    op: str | int,
    sequence_num: int,
    transaction_id: int = 0,
    payload: bytes = b"",
    timestamp: int = 0,
    version: int = 1,
    flags: int = 0,
) -> bytes:
    """WALEntry::serialize (:92-110): zero-checksum bytes, CRC, patch."""
    op_id = _OP_IDS[op] if isinstance(op, str) else int(op)
    raw = bytearray(
        _header_bytes(version, sequence_num, timestamp, transaction_id,
                      op_id, flags, len(payload), 0)
    )
    raw += payload
    checksum = zlib.crc32(bytes(raw)) & 0xFFFFFFFF
    raw[40:44] = struct.pack("<I", checksum)
    return bytes(raw)


def _header_is_valid(magic, version, seq, op) -> bool:
    """Header::isValid (wal_entry.h:55-67)."""
    return (
        magic == WAL_MAGIC
        and version in (1, 2)
        and seq != 0
        and 1 <= op <= 8
    )


def decode_wal_entry(buffer: bytes) -> dict | None:
    """WALEntry::deserialize (:112-148); None on any invalidity (the
    C++ optional). The returned dict carries ``consumed`` for stream
    walks."""
    if len(buffer) < WAL_HEADER_SIZE:
        return None
    (magic, version, seq, ts, tx, op, flags, _res, data_size,
     checksum) = struct.unpack(_HEADER_FMT, buffer[:WAL_HEADER_SIZE])
    if not _header_is_valid(magic, version, seq, op):
        return None
    if len(buffer) < WAL_HEADER_SIZE + data_size:
        return None
    data = bytes(buffer[WAL_HEADER_SIZE : WAL_HEADER_SIZE + data_size])
    expect = bytearray(
        _header_bytes(version, seq, ts, tx, op, flags, data_size, 0)
    )
    expect += data
    if (zlib.crc32(bytes(expect)) & 0xFFFFFFFF) != checksum:
        return None
    return {
        "magic": magic, "version": version, "sequence_num": seq,
        "timestamp": ts, "transaction_id": tx, "op": OP_TYPES.get(op),
        "op_id": op, "flags": flags, "data_size": data_size,
        "checksum": checksum, "data": data,
        "consumed": WAL_HEADER_SIZE + data_size,
    }


def _pack_hash(hash_str: str) -> bytes:
    raw = hash_str.encode("utf-8")[:_HASH_SIZE]
    return raw + b"\0" * (_HASH_SIZE - len(raw))


def _unpack_hash(raw: bytes) -> str:
    return raw.split(b"\0", 1)[0].decode("utf-8", "replace")


def encode_store_block(hash_str: str, size: int, ref_count: int = 1) -> bytes:
    return _pack_hash(hash_str) + struct.pack("<II", size, ref_count)


def decode_store_block(data: bytes) -> dict | None:
    if len(data) < _HASH_SIZE + 8:
        return None
    size, ref_count = struct.unpack(
        "<II", data[_HASH_SIZE : _HASH_SIZE + 8]
    )
    return {
        "hash": _unpack_hash(data[:_HASH_SIZE]),
        "size": size,
        "ref_count": ref_count,
    }
