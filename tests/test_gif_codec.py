"""GIF codec: LZW, interlace, animation compositing, disposal,
transparency — plus the decode_image dispatch seam.

GIF is lossless over palette pixels, so every round-trip assertion is
EXACT equality, and a hand-crafted byte stream (independent of our
encoder) pins the spec-level framing.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from buildkite_logs_parquet_spark.functions.gif_codec import (
    _lzw_encode,
    _sub_blocks,
    decode_gif,
    encode_gif,
)
from buildkite_logs_parquet_spark.functions.image_codec import decode_image


def _rand_palette_img(rng, h, w, ncolors=6):
    pal = rng.integers(0, 256, (ncolors, 3)).astype(np.uint8)
    return pal[rng.integers(0, ncolors, (h, w))]


def test_gif_roundtrip_static_and_interlaced():
    rng = np.random.default_rng(11)
    img = _rand_palette_img(rng, 23, 31)
    for interlace in (False, True):
        info, frames = decode_gif(encode_gif([img], interlace=interlace))
        assert info["n_frames"] == 1
        assert (info["width"], info["height"]) == (31, 23)
        assert (frames[0] == img).all()


def test_gif_roundtrip_forces_lzw_width_growth():
    """Enough pixels that the LZW dictionary crosses several width
    boundaries (and, with a noisy image, approaches the 4096 reset)."""
    rng = np.random.default_rng(12)
    img = _rand_palette_img(rng, 120, 317, ncolors=200)
    info, frames = decode_gif(encode_gif([img]))
    assert (frames[0] == img).all()


def test_gif_animation_delays_and_selection():
    rng = np.random.default_rng(13)
    fs = [_rand_palette_img(rng, 9, 14) for _ in range(4)]
    data = encode_gif(fs, delays_cs=[2, 3, 4, 5])
    info, frames = decode_gif(data)
    assert info["n_frames"] == 4
    assert info["delays_cs"] == [2, 3, 4, 5]
    assert all((a == b).all() for a, b in zip(frames, fs))
    # header-only walk materializes nothing; selection only the picks
    info0, none = decode_gif(data, frame_indices=[])
    assert info0["n_frames"] == 4 and none == []
    _, picked = decode_gif(data, frame_indices=[1, 3])
    assert len(picked) == 2
    assert (picked[0] == fs[1]).all() and (picked[1] == fs[3]).all()


def test_gif_transparency_composites_over_previous_frame():
    rng = np.random.default_rng(14)
    base = _rand_palette_img(rng, 16, 16)
    hole = (1, 2, 3)
    f2 = _rand_palette_img(rng, 16, 16)
    f2[5:10, 5:10] = hole
    _, frames = decode_gif(encode_gif([base, f2], transparent_rgb=hole))
    expect = f2.copy()
    expect[5:10, 5:10] = base[5:10, 5:10]  # hole shows frame 1
    assert (frames[1] == expect).all()


def _frame_block(idx: np.ndarray, left: int, top: int, disposal: int,
                 transparent: int | None = None) -> bytes:
    """Hand-assemble one GCE + image descriptor + LZW data block at an
    offset — the encoder only writes full-canvas frames, so disposal and
    offset tests build their own."""
    fh, fw = idx.shape
    gflags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
    out = bytes([0x21, 0xF9]) + _sub_blocks(
        bytes([gflags]) + struct.pack("<H", 2) + bytes([transparent or 0])
    )
    out += bytes([0x2C]) + struct.pack("<HHHHB", left, top, fw, fh, 0)
    out += bytes([4]) + _sub_blocks(_lzw_encode(4, idx.tobytes()))
    return out


def _hand_gif(w: int, h: int, gct: list[tuple[int, int, int]], bg: int,
              frames: bytes) -> bytes:
    n = len(gct)
    bits = max(1, (n - 1).bit_length())
    table = bytearray()
    for c in gct:
        table += bytes(c)
    table += bytes(3 * ((1 << bits) - n))
    head = b"GIF89a" + struct.pack(
        "<HHBBB", w, h, 0x80 | (bits - 1), bg, 0
    )
    return head + bytes(table) + frames + b"\x3b"


def test_gif_disposal_methods_restore_background_and_previous():
    """Frame 1 paints the canvas, frame 2 is a small rect with
    disposal=2 (restore to background) then 3 (restore to previous):
    the canvas under frame 3 must show the background / frame-1 pixels
    respectively."""
    # palette: 0=bg black, 1=red, 2=green, 3=blue (16 entries for LZW min 4)
    gct = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)] + [(9, 9, 9)] * 12
    full = np.full((8, 8), 1, np.uint8)  # red canvas
    rect = np.full((3, 3), 2, np.uint8)  # green rect
    rect2 = np.full((2, 2), 3, np.uint8)  # blue rect
    data = _hand_gif(
        8, 8, gct, 0,
        _frame_block(full, 0, 0, disposal=0)
        + _frame_block(rect, 2, 2, disposal=2)
        + _frame_block(rect2, 0, 0, disposal=3)
        + _frame_block(rect2, 6, 6, disposal=0),
    )
    info, frames = decode_gif(data)
    assert info["n_frames"] == 4
    # frame 2: green rect over red canvas
    assert tuple(frames[1][3, 3]) == (0, 255, 0)
    # frame 3: rect area restored to BACKGROUND (black), blue rect at 0,0
    assert tuple(frames[2][3, 3]) == (0, 0, 0)
    assert tuple(frames[2][0, 0]) == (0, 0, 255)
    assert tuple(frames[2][7, 7]) == (255, 0, 0)  # untouched canvas
    # frame 4: disposal=3 undid the blue rect at 0,0 -> red again
    assert tuple(frames[3][0, 0]) == (255, 0, 0)
    assert tuple(frames[3][6, 6]) == (0, 0, 255)
    assert tuple(frames[3][3, 3]) == (0, 0, 0)  # still-disposed bg rect


def test_gif_handpinned_1x1_stream():
    """Fully hand-written bytes (no encoder involved): 1x1 red pixel,
    2-entry GCT, LZW min code size 2 — codes clear(100) 0(000) eoi(101),
    LSB-first packed to 0x44 0x01."""
    data = (
        b"GIF89a"
        + struct.pack("<HHBBB", 1, 1, 0x80, 0, 0)
        + bytes([255, 0, 0, 0, 0, 0])  # GCT: red, black
        + bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        + bytes([2, 2, 0x44, 0x01, 0])
        + b"\x3b"
    )
    info, frames = decode_gif(data)
    assert info["n_frames"] == 1
    assert frames[0].shape == (1, 1, 3)
    assert tuple(frames[0][0, 0]) == (255, 0, 0)


def test_gif_malformed_streams_raise():
    with pytest.raises(ValueError, match="bad signature"):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    rng = np.random.default_rng(15)
    ok = encode_gif([_rand_palette_img(rng, 6, 6)])
    with pytest.raises(ValueError):
        decode_gif(ok[:-10])  # truncated mid-data


def test_decode_image_dispatches_gif_first_frame():
    rng = np.random.default_rng(16)
    fs = [_rand_palette_img(rng, 10, 12) for _ in range(3)]
    img = decode_image(encode_gif(fs))
    assert img.shape == (10, 12, 3)
    assert (img == fs[0]).all()
