"""MJPEG-in-AVI: RIFF container walk, frame-independent selective
decode and the container's malformed-input guards.

MJPEG frames are plain JPEGs, so AVI-extracted frames must decode
BIT-IDENTICALLY to the same JPEG bytes decoded directly — that equality
is the core pin here.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from buildkite_logs_parquet_spark.functions.avi_codec import (
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    parse_avi,
)
from buildkite_logs_parquet_spark.functions.jpeg_codec import (
    decode_jpeg,
    encode_jpeg,
)


def _frames(rng, n=4, h=16, w=24):
    return [rng.integers(0, 256, (h, w, 3)).astype(np.uint8) for _ in range(n)]


def test_avi_roundtrip_matches_direct_jpeg_decode():
    rng = np.random.default_rng(21)
    px = _frames(rng)
    jpegs = [encode_jpeg(f, quality=90) for f in px]
    avi = encode_avi_mjpeg(jpegs, 24, 16, fps=10)
    info, frames = decode_avi_mjpeg(avi)
    assert info["n_frames"] == 4
    assert (info["width"], info["height"]) == (24, 16)
    assert info["handler"] == "MJPG"
    assert info["usec_per_frame"] == 100_000
    for got, j in zip(frames, jpegs):
        assert (got == decode_jpeg(j)).all()


def test_avi_selective_decode_and_header_walk():
    rng = np.random.default_rng(22)
    jpegs = [encode_jpeg(f, quality=85) for f in _frames(rng, n=5)]
    avi = encode_avi_mjpeg(jpegs, 24, 16)
    info, none = decode_avi_mjpeg(avi, frame_indices=[])
    assert info["n_frames"] == 5 and none == []
    _, sel = decode_avi_mjpeg(avi, frame_indices=[1, 4])
    assert len(sel) == 2
    assert (sel[0] == decode_jpeg(jpegs[1])).all()
    assert (sel[1] == decode_jpeg(jpegs[4])).all()


def test_avi_word_alignment_with_odd_sized_frames():
    """RIFF chunks pad odd payloads; a JPEG of odd byte length must not
    shift the following frames' offsets."""
    rng = np.random.default_rng(23)
    jpegs = [encode_jpeg(f, quality=85) for f in _frames(rng, n=6)]
    assert any(len(j) & 1 for j in jpegs), "fixture needs an odd-length JPEG"
    info, frames = decode_avi_mjpeg(encode_avi_mjpeg(jpegs, 24, 16))
    assert info["n_frames"] == 6
    for got, j in zip(frames, jpegs):
        assert (got == decode_jpeg(j)).all()


def test_avi_progressive_jpeg_frames():
    rng = np.random.default_rng(24)
    px = _frames(rng, n=3)
    base = [decode_jpeg(encode_jpeg(f, quality=90)) for f in px]
    prog = [encode_jpeg(f, quality=90, progressive=True) for f in px]
    _, frames = decode_avi_mjpeg(encode_avi_mjpeg(prog, 24, 16))
    for got, want in zip(frames, base):
        assert (got == want).all()


def test_avi_malformed_and_unsupported():
    with pytest.raises(ValueError, match="RIFF/AVI"):
        parse_avi(b"RIFX" + b"\x00" * 40)
    rng = np.random.default_rng(25)
    avi = bytearray(encode_avi_mjpeg([encode_jpeg(_frames(rng, n=1)[0])], 24, 16))
    pos = avi.find(b"MJPG")  # strh handler fourcc
    avi[pos : pos + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPEG only"):
        decode_avi_mjpeg(bytes(avi))


def test_avi_header_only_parse_reports_frame_offsets():
    rng = np.random.default_rng(26)
    jpegs = [encode_jpeg(f) for f in _frames(rng, n=3)]
    avi = encode_avi_mjpeg(jpegs, 24, 16)
    info = parse_avi(avi)
    assert [s for _o, s in info["frames"]] == [len(j) for j in jpegs]
    for (off, size), j in zip(info["frames"], jpegs):
        assert avi[off : off + size] == j
