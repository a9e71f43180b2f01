"""MP4 / ISO-BMFF container metadata — box walk, no frame decode.

Video frame decode genuinely needs codec libraries this container lacks
(the strict-mode boundary in ``operators/multimodal``), but the
CONTAINER is a trivial length-prefixed box tree (ISO/IEC 14496-12), and
the reference's extractor surfaces exactly this metadata tier for media
files (width / height / duration / track codecs) without decoding
frames. Implements:

* ``parse_mp4`` — walk ftyp / moov (mvhd: timescale + duration; per
  trak: tkhd dimensions, mdhd timescale/duration, hdlr handler type,
  stsd sample-description codec fourcc), 32- and 64-bit box sizes,
  version-0/1 full boxes. Returns {brand, duration_ms, tracks: [{kind,
  codec, width, height, duration_ms}]}.
* ``build_mp4`` — a minimal valid structural MP4 (the test oracle):
  ftyp + moov with mvhd and one or more trak trees carrying the given
  dimensions/durations/codecs. Not playable media (no mdat samples) —
  its point is that the PARSER is exercised against spec-shaped boxes.

Both sides are deterministic; the multimodal feature extractor uses the
parsed metadata as the real "decode" for video rows, leaving only the
frame pixels stubbed.
"""

from __future__ import annotations

import struct


def _walk(data: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) for each box in a span."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos : pos + 4], "big")
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            size = int.from_bytes(data[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError("MP4 box size out of bounds")
        yield bytes(btype), body, pos + size
        pos += size


def _fullbox(data: bytes, pos: int) -> tuple[int, int]:
    """(version, body offset after version/flags)."""
    return data[pos], pos + 4


def parse_mp4(payload: bytes) -> dict:
    """Container metadata from the box tree; raises on malformed boxes
    or a missing moov."""
    boxes = list(_walk(payload, 0, len(payload)))
    brand = None
    out: dict = {"brand": None, "duration_ms": None, "tracks": []}
    moov_span = None
    for btype, body, bend in boxes:
        if btype == b"ftyp":
            brand = payload[body : body + 4].decode("ascii", "replace")
        elif btype == b"moov":
            moov_span = (body, bend)
    out["brand"] = brand
    if moov_span is None:
        raise ValueError("MP4 missing moov box")

    for btype, body, bend in _walk(payload, *moov_span):
        if btype == b"mvhd":
            v, p = _fullbox(payload, body)
            if v == 1:
                timescale = int.from_bytes(payload[p + 16 : p + 20], "big")
                duration = int.from_bytes(payload[p + 20 : p + 28], "big")
            else:
                timescale = int.from_bytes(payload[p + 8 : p + 12], "big")
                duration = int.from_bytes(payload[p + 12 : p + 16], "big")
            if timescale:
                out["duration_ms"] = duration * 1000 // timescale
        elif btype == b"trak":
            out["tracks"].append(_parse_trak(payload, body, bend))
    return out


def _parse_trak(payload: bytes, start: int, end: int) -> dict:
    track = {"kind": None, "codec": None, "width": None, "height": None,
             "duration_ms": None}
    for btype, body, bend in _walk(payload, start, end):
        if btype == b"tkhd":
            v, p = _fullbox(payload, body)
            # width/height are the LAST 8 bytes of tkhd: 16.16 fixed point
            track["width"] = int.from_bytes(payload[bend - 8 : bend - 6], "big")
            track["height"] = int.from_bytes(payload[bend - 4 : bend - 2], "big")
        elif btype == b"mdia":
            for mtype, mbody, mend in _walk(payload, body, bend):
                if mtype == b"mdhd":
                    v, p = _fullbox(payload, mbody)
                    if v == 1:
                        ts = int.from_bytes(payload[p + 16 : p + 20], "big")
                        dur = int.from_bytes(payload[p + 20 : p + 28], "big")
                    else:
                        ts = int.from_bytes(payload[p + 8 : p + 12], "big")
                        dur = int.from_bytes(payload[p + 12 : p + 16], "big")
                    if ts:
                        track["duration_ms"] = dur * 1000 // ts
                elif mtype == b"hdlr":
                    track["kind"] = payload[mbody + 8 : mbody + 12].decode(
                        "ascii", "replace"
                    )
                elif mtype == b"minf":
                    for stype, sbody, send in _walk(payload, mbody, mend):
                        if stype != b"stbl":
                            continue
                        for ttype, tbody, tend in _walk(payload, sbody, send):
                            if ttype == b"stsd":
                                # fullbox + entry_count, then first entry
                                n = int.from_bytes(
                                    payload[tbody + 4 : tbody + 8], "big"
                                )
                                if n:
                                    track["codec"] = payload[
                                        tbody + 12 : tbody + 16
                                    ].decode("ascii", "replace")
                            elif ttype == b"stsz":
                                fixed = int.from_bytes(
                                    payload[tbody + 4 : tbody + 8], "big")
                                cnt = int.from_bytes(
                                    payload[tbody + 8 : tbody + 12], "big")
                                if fixed:
                                    track["sample_sizes"] = [fixed] * cnt
                                else:
                                    track["sample_sizes"] = [
                                        int.from_bytes(
                                            payload[tbody + 12 + 4 * i :
                                                    tbody + 16 + 4 * i], "big")
                                        for i in range(cnt)
                                    ]
                            elif ttype == b"stco":
                                cnt = int.from_bytes(
                                    payload[tbody + 4 : tbody + 8], "big")
                                track["chunk_offsets"] = [
                                    int.from_bytes(
                                        payload[tbody + 8 + 4 * i :
                                                tbody + 12 + 4 * i], "big")
                                    for i in range(cnt)
                                ]
                            elif ttype == b"stsc":
                                cnt = int.from_bytes(
                                    payload[tbody + 4 : tbody + 8], "big")
                                track["stsc"] = [
                                    tuple(
                                        int.from_bytes(
                                            payload[tbody + 8 + 12 * i + 4 * j :
                                                    tbody + 12 + 12 * i + 4 * j],
                                            "big")
                                        for j in range(3)
                                    )
                                    for i in range(cnt)
                                ]
    return track


def extract_samples(payload: bytes, kind: str = "vide") -> list[dict]:
    """Per matching track: {codec, samples: list[bytes]} — the real
    sample extraction walk (ISO 14496-12 §8.7): stsc maps samples to
    chunks, stco gives chunk file offsets, stsz sizes each sample;
    samples are contiguous within a chunk."""
    meta = parse_mp4(payload)
    out = []
    for t in meta["tracks"]:
        if t.get("kind") != kind or not t.get("sample_sizes"):
            continue
        sizes = t["sample_sizes"]
        offsets = t.get("chunk_offsets") or []
        stsc = t.get("stsc") or [(1, len(sizes), 1)]
        samples: list[bytes] = []
        si = 0
        for ci, chunk_off in enumerate(offsets, start=1):
            per_chunk = None
            for first, spc, _ in stsc:
                if ci >= first:
                    per_chunk = spc
            if per_chunk is None:
                break
            pos = chunk_off
            for _ in range(per_chunk):
                if si >= len(sizes):
                    break
                samples.append(payload[pos : pos + sizes[si]])
                pos += sizes[si]
                si += 1
        out.append({"codec": t.get("codec"), "samples": samples})
    return out


MJPEG_CODECS = {"mjpa", "mjpb", "jpeg"}


def decode_mjpeg_frames(payload: bytes):
    """REAL video pixel decode for Motion-JPEG tracks: each sample is a
    baseline JPEG image decoded by ``functions/jpeg_codec``. Returns a
    list of (h, w, 3) uint8 frames. Non-MJPEG video codecs (avc1/hevc —
    entropy-coded inter-frame formats with no dependency-free codec
    here) raise NotImplementedError, the documented strict boundary."""
    tracks = [
        t for t in extract_samples(payload, "vide") if t["samples"]
    ]
    if not tracks:
        meta = parse_mp4(payload)
        vids = [t for t in meta["tracks"] if t.get("kind") == "vide"]
        codec = vids[0].get("codec") if vids else None
        raise NotImplementedError(
            f"no decodable video samples (codec {codec!r}); pixel decode "
            "is real only for MJPEG tracks"
        )
    t = tracks[0]
    if t["codec"] not in MJPEG_CODECS:
        raise NotImplementedError(
            f"video codec {t['codec']!r} sample decode is the documented "
            "strict boundary; MJPEG tracks decode for real"
        )
    from yams_spark.functions.jpeg_codec import decode_jpeg

    return [decode_jpeg(s) for s in t["samples"]]


# ---------- structural builder (the parser's oracle) ----------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _full(btype: bytes, version: int, body: bytes) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + body)


def build_mp4(
    duration_ms: int = 5000,
    timescale: int = 1000,
    tracks: list[dict] | None = None,
    use_64bit: bool = False,
) -> bytes:
    """Minimal structural MP4: ftyp [+ mdat] + moov(mvhd + trak*). Each
    track dict: kind ('vide'/'soun'), codec fourcc, width, height,
    duration_ms, and optionally ``samples`` (list[bytes]) — real media
    payloads laid out as one contiguous mdat chunk with full
    stsz/stsc/stco/stts sample tables (ISO 14496-12 §8.7), mdat-first so
    chunk offsets are known before moov is built. ``use_64bit`` emits
    version-1 mvhd/mdhd (64-bit durations) to exercise both parse
    paths."""
    tracks = tracks if tracks is not None else [
        {"kind": "vide", "codec": "avc1", "width": 640, "height": 360,
         "duration_ms": duration_ms},
    ]
    dur = duration_ms * timescale // 1000
    if use_64bit:
        mvhd = _full(b"mvhd", 1, struct.pack(
            ">QQIQ", 0, 0, timescale, dur) + bytes(80))
    else:
        mvhd = _full(b"mvhd", 0, struct.pack(
            ">IIII", 0, 0, timescale, dur) + bytes(80))

    # mdat-first layout: concatenate every track's samples into one mdat
    # and remember each track's chunk offset (absolute file position)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mdat_body = b""
    chunk_offsets: list[int | None] = []
    for t in tracks:
        samples = t.get("samples")
        if samples:
            chunk_offsets.append(len(ftyp) + 8 + len(mdat_body))
            mdat_body += b"".join(samples)
        else:
            chunk_offsets.append(None)
    mdat = _box(b"mdat", mdat_body) if mdat_body else b""

    trak_boxes = b""
    for t, chunk_off in zip(tracks, chunk_offsets):
        tkhd = _full(b"tkhd", 0, bytes(72) + struct.pack(
            ">HHHH", t.get("width") or 0, 0, t.get("height") or 0, 0))
        tdur = (t.get("duration_ms") or 0) * timescale // 1000
        if use_64bit:
            mdhd = _full(b"mdhd", 1, struct.pack(">QQIQ", 0, 0, timescale, tdur) + bytes(4))
        else:
            mdhd = _full(b"mdhd", 0, struct.pack(">IIII", 0, 0, timescale, tdur) + bytes(4))
        hdlr = _full(b"hdlr", 0, bytes(4) + t["kind"].encode() + bytes(12) + b"\x00")
        entry = _box(t["codec"].encode(), bytes(70))
        stsd = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
        stbl_body = stsd
        samples = t.get("samples")
        if samples:
            n = len(samples)
            delta = max(1, tdur // n)
            stts = _full(b"stts", 0, struct.pack(">III", 1, n, delta))
            stsc = _full(b"stsc", 0, struct.pack(">IIII", 1, 1, n, 1))
            stsz = _full(
                b"stsz", 0,
                struct.pack(">II", 0, n)
                + b"".join(struct.pack(">I", len(s)) for s in samples),
            )
            stco = _full(b"stco", 0, struct.pack(">II", 1, chunk_off))
            stbl_body += stts + stsc + stsz + stco
        stbl = _box(b"stbl", stbl_body)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak_boxes += _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak_boxes)
    return ftyp + mdat + moov
