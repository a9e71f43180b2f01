"""MPEG-1 audio (ISO/IEC 11172-3) Layer I/II codec: header/frame math,
requantization lattices, filterbank round-trip, full encode→decode SNR,
and the Layer III strict boundary. Pure Python — no Spark session."""

from __future__ import annotations

import numpy as np
import pytest

from yams_spark.functions.mpeg_audio import (
    MpegAudioError,
    _dequant,
    _quant,
    analyze,
    decode_mpeg_audio,
    encode_layer1,
    encode_layer2,
    parse_frame_header,
    synthesize,
)

DELAY = 481  # 512-tap analysis+synthesis cascade group delay


def _snr(ref: np.ndarray, got: np.ndarray) -> float:
    m = min(len(ref), len(got))
    ref, got = ref[:m], got[:m]
    return 10 * np.log10(np.sum(ref**2) / np.sum((got - ref) ** 2))


def _tone(n: int) -> np.ndarray:
    rng = np.random.default_rng(1)
    t = np.arange(n)
    return (
        0.5 * np.sin(2 * np.pi * 440 * t / 44100)
        + 0.25 * np.sin(2 * np.pi * 2500 * t / 44100)
        + 0.02 * rng.standard_normal(n)
    )


def test_frame_header_roundtrip_and_sizes():
    bs = encode_layer2(_tone(1152), 44100, 192)
    fh = parse_frame_header(bs)
    assert (fh.layer, fh.bitrate_kbps, fh.sample_rate) == (2, 192, 44100)
    assert fh.frame_bytes == 144 * 192000 // 44100 == len(bs)
    bs1 = encode_layer1(_tone(384), 44100, 448)
    fh1 = parse_frame_header(bs1)
    assert fh1.layer == 1 and fh1.frame_bytes == (12 * 448000 // 44100) * 4
    with pytest.raises(MpegAudioError, match="sync"):
        parse_frame_header(b"\x00\x00\x00\x00")


def test_requantization_lattices_exact():
    """Table 3-B.4 closed forms land on the exactly symmetric lattices."""
    assert [_dequant(c, 3) for c in range(3)] == pytest.approx(
        [-2 / 3, 0.0, 2 / 3]
    )
    assert [_dequant(c, 5) for c in range(5)] == pytest.approx(
        [-0.8, -0.4, 0.0, 0.4, 0.8]
    )
    assert [_dequant(c, 9) for c in range(9)] == pytest.approx(
        [(-8 + 2 * c) / 9 for c in range(9)]
    )
    # 7-level (2^3-1) class: max |s''| = 6/7, code 3 is exact zero
    assert _dequant(3, 7) == pytest.approx(0.0)
    assert _dequant(6, 7) == pytest.approx(6 / 7)
    # quant inverts dequant on every legal code
    for levels in (3, 5, 7, 9, 15, 31, 255, 65535):
        codes = range(levels) if levels < 1000 else range(0, levels, 997)
        for c in codes:
            assert _quant(_dequant(c, levels), levels) == c, (levels, c)


def test_filterbank_roundtrip_and_band_isolation():
    pcm = _tone(8192)
    out = synthesize(analyze(pcm))
    ref = pcm[: len(out) - DELAY]
    assert _snr(ref, out[DELAY:]) >= 60.0
    # a band-10-centered sine lands only in subband 10
    x = np.sin(2 * np.pi * (10.5 / 64.0) * np.arange(4096))
    amp = np.abs(analyze(x)[40:]).max(axis=0)
    assert amp[10] > 0.4
    # sqrt-Hann prototype: full-width transition band -> adjacent bands
    # see ~-26 dB leakage (cancelled in synthesis); non-adjacent are dead
    assert max(amp[9], amp[11]) < 0.05
    assert float(np.delete(amp, [9, 10, 11]).max()) < 1e-3


def test_layer1_roundtrip():
    pcm = _tone(384 * 18)
    bs = encode_layer1(pcm, 44100, 448)
    fh = parse_frame_header(bs)
    assert (fh.layer, fh.sample_rate, fh.n_channels, fh.bitrate_kbps) == (
        1, 44100, 1, 448,
    )
    out, sr = decode_mpeg_audio(bs)
    assert sr == 44100 and out.shape == (18 * 384, 1)
    assert _snr(pcm[: len(out) - DELAY], out[DELAY:, 0]) >= 45.0


def test_layer2_roundtrip_and_grouped_codes():
    pcm = _tone(1152 * 6)
    bs = encode_layer2(pcm, 44100, 192)
    assert parse_frame_header(bs).layer == 2
    out, sr = decode_mpeg_audio(bs)
    assert len(out) == 6 * 1152
    # static allocation: 255-level low bands / 15-level mid / grouped
    # 3-level top — quantization-limited, filterbank measures ~70 dB
    assert _snr(pcm[: len(out) - DELAY], out[DELAY:, 0]) >= 25.0
    # high-band content exercises the grouped 3-level triplet path
    hi = 0.3 * np.sin(2 * np.pi * (25.5 / 64.0) * np.arange(1152 * 2))
    out2, _ = decode_mpeg_audio(encode_layer2(hi, 44100, 192))
    assert _snr(hi[: len(out2) - DELAY], out2[DELAY:, 0]) >= 8.0


def test_id3_skip_and_resync():
    bs = encode_layer2(_tone(1152 * 2), 44100, 192)
    tagged = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"x" * 10 + b"\xff" + bs
    out, sr = decode_mpeg_audio(tagged)
    assert sr == 44100 and len(out) == 1152 * 2


def test_layer3_is_metadata_only():
    """A Layer III stream: the frame header parses; sample decode raises
    the documented strict NotImplementedError."""
    # hand-built L3 header: sync|MPEG1|layer3|no-crc, 128kbps, 44.1kHz
    h = 0xFFF << 20 | 0x3 << 19 | 0x1 << 17 | 1 << 16 | 9 << 12 | 0 << 10 | 3 << 6
    frame_bytes = 144 * 128000 // 44100
    frame = h.to_bytes(4, "big") + b"\x00" * (frame_bytes - 4)
    fh = parse_frame_header(frame)
    assert fh.layer == 3 and fh.frame_bytes == frame_bytes
    with pytest.raises(NotImplementedError, match="Layer III"):
        decode_mpeg_audio(frame * 3)


def test_media_codecs_dispatch():
    from yams_spark.functions.media_codecs import REAL_DECODABLE, decode_features

    assert "audio/mpeg" in REAL_DECODABLE
    feats = decode_features(encode_layer2(_tone(1152 * 2), 44100, 192), "audio/mpeg")
    assert feats is not None and feats.dtype == np.float32
    # duration feature (index 2) reflects the decoded stream length
    assert feats[2] == pytest.approx(2 * 1152 / 44100, rel=1e-3)


def test_layer2_stereo_roundtrip():
    """Stereo (mode=0) frames: channel-interleaved allocation/scalefactor/
    sample layout per §2.4.1.6; both channels reconstruct independently."""
    n = 1152 * 4
    t = np.arange(n)
    left = 0.5 * np.sin(2 * np.pi * 440 * t / 44100)
    right = 0.4 * np.sin(2 * np.pi * 1320 * t / 44100)
    pcm = np.stack([left, right], axis=1)
    bs = encode_layer2(pcm, 44100, 384)
    assert parse_frame_header(bs).n_channels == 2
    out, sr = decode_mpeg_audio(bs)
    assert out.shape == (4 * 1152, 2)
    for ch, ref in ((0, left), (1, right)):
        got = out[DELAY:, ch]
        assert _snr(ref[: len(got)], got) >= 25.0, ch
    # channels are not swapped: left's 440 Hz dominates channel 0 only
    assert np.corrcoef(left[: len(out) - DELAY], out[DELAY:, 0])[0, 1] > 0.99
    assert abs(np.corrcoef(left[: len(out) - DELAY], out[DELAY:, 1])[0, 1]) < 0.1
