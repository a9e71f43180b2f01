"""MP4/ISO-BMFF container metadata (functions/mp4_meta.py): box walk vs
the structural builder oracle, both mvhd/mdhd versions."""

from __future__ import annotations

import pytest

from yams_spark.functions.mp4_meta import build_mp4, parse_mp4


def test_parse_roundtrip_multitrack() -> None:
    m = parse_mp4(build_mp4(duration_ms=7500, tracks=[
        {"kind": "vide", "codec": "avc1", "width": 1280, "height": 720,
         "duration_ms": 7500},
        {"kind": "soun", "codec": "mp4a", "width": 0, "height": 0,
         "duration_ms": 7400},
    ]))
    assert m["brand"] == "isom" and m["duration_ms"] == 7500
    v, a = m["tracks"]
    assert (v["kind"], v["codec"], v["width"], v["height"]) == (
        "vide", "avc1", 1280, 720)
    assert a["kind"] == "soun" and a["duration_ms"] == 7400


def test_parse_version1_and_timescales() -> None:
    # 64-bit mvhd/mdhd (version 1) and a non-1000 timescale both parse
    m = parse_mp4(build_mp4(duration_ms=3000, use_64bit=True))
    assert m["duration_ms"] == 3000
    m2 = parse_mp4(build_mp4(duration_ms=2500, timescale=90000))
    assert m2["duration_ms"] == 2500


def test_parse_errors() -> None:
    with pytest.raises(ValueError, match="moov"):
        parse_mp4(b"\x00\x00\x00\x08ftyp")
    with pytest.raises(ValueError, match="bounds"):
        parse_mp4(b"\x00\x00\xff\xffmoov")
    good = build_mp4()
    with pytest.raises(ValueError):
        parse_mp4(good[: len(good) // 2])


def test_sample_tables_roundtrip_and_mjpeg_decode():
    """build_mp4 with samples emits real stsz/stsc/stco/stts tables;
    extract_samples recovers the exact bytes; MJPEG frames decode through
    the real JPEG codec within its bounded error."""
    import numpy as np

    from yams_spark.functions.jpeg_codec import decode_jpeg, encode_jpeg
    from yams_spark.functions.mp4_meta import (
        build_mp4,
        decode_mjpeg_frames,
        extract_samples,
    )

    srcs, frames = [], []
    for f in range(3):
        img = ((np.arange(16 * 16 * 3, dtype=np.int64) * (5 + f * 7)) % 256
               ).astype(np.uint8).reshape(16, 16, 3)
        srcs.append(img)
        frames.append(encode_jpeg(img, quality=85))
    mp4 = build_mp4(duration_ms=1500, tracks=[
        {"kind": "vide", "codec": "jpeg", "width": 16, "height": 16,
         "duration_ms": 1500, "samples": frames},
        {"kind": "soun", "codec": "mp4a", "width": 0, "height": 0,
         "duration_ms": 1500},
    ])
    tracks = extract_samples(mp4, "vide")
    assert len(tracks) == 1 and tracks[0]["codec"] == "jpeg"
    assert tracks[0]["samples"] == frames  # byte-exact through the container
    dec = decode_mjpeg_frames(mp4)
    assert len(dec) == 3 and dec[0].shape == (16, 16, 3)
    for got, img, payload in zip(dec, srcs, frames):
        assert np.array_equal(got, decode_jpeg(payload))  # container adds 0 error


def test_mjpeg_strict_boundary_for_interframe_codecs():
    import pytest as _pytest

    from yams_spark.functions.mp4_meta import build_mp4, decode_mjpeg_frames

    with _pytest.raises(NotImplementedError, match="pixel decode"):
        decode_mjpeg_frames(build_mp4(duration_ms=1000))  # avc1, no samples


def test_video_features_shape_and_motion():
    import numpy as np

    from yams_spark.functions.media_codecs import video_features

    still = [np.full((8, 8, 3), 100, dtype=np.uint8)] * 4
    fv = video_features(still)
    assert fv.shape == (14,) and fv[4] == 0.0 and fv[5] == 4.0  # no motion
    moving = [np.full((8, 8, 3), 50 * i, dtype=np.uint8) for i in range(4)]
    assert video_features(moving)[4] > 0.0  # motion proxy fires
    assert video_features([]).sum() == 0.0
