"""Image codec tests: PNG/PPM decode from specification, committed golden
fixtures, JPEG baseline/progressive decode and BMP."""

import os

import numpy as np
import pytest

from buildkite_logs_parquet_spark.functions.image_codec import (
    decode_image,
    decode_png,
    decode_ppm,
    encode_png,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _fixture(name: str) -> bytes:
    with open(os.path.join(FIXTURES, name), "rb") as f:
        return f.read()


# ------------------------------------------------------------- round trips


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter_type(ftype):
    rng = np.random.default_rng(7 + ftype)
    img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    data = encode_png(img, row_filters=[ftype] * 6)
    assert (decode_png(data) == img).all()


def test_png_roundtrip_mixed_filters_and_channel_counts():
    rng = np.random.default_rng(99)
    for channels in (1, 3, 4):
        shape = (5, 4) if channels == 1 else (5, 4, channels)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        data = encode_png(img, row_filters=[0, 1, 2, 3, 4])
        out = decode_png(data)
        want = img[:, :, None] if channels == 1 else img
        assert (out == want).all(), channels


def test_png_rejects_corruption():
    img = np.zeros((2, 2, 3), np.uint8)
    data = bytearray(encode_png(img))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JUNK" + bytes(data[4:]))
    data[20] ^= 0xFF  # flip a byte inside IHDR → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


# --------------------------------------------------- committed golden files


def test_golden_rgb_png_fixture():
    """The committed 5x4 RGB fixture uses one scanline per filter type —
    decoding it drives every unfilter path against bytes on disk."""
    img = decode_png(_fixture("rgb_5x4.png"))
    assert img.shape == (5, 4, 3)
    rng = np.random.default_rng(42)
    want = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    assert (img == want).all()


def test_golden_gray_and_palette_png_fixtures():
    gray = decode_png(_fixture("gray_3x3.png"))
    assert (gray[:, :, 0] == np.array(
        [[0, 128, 255], [10, 20, 30], [200, 100, 50]], np.uint8
    )).all()
    pal = decode_png(_fixture("palette_2x2.png"))
    want = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]], np.uint8
    )
    assert (pal == want).all()


def test_golden_netpbm_fixtures():
    ppm = decode_ppm(_fixture("rgb_3x2.ppm"))
    assert ppm.shape == (2, 3, 3)
    assert (ppm.ravel() == np.arange(18, dtype=np.uint8)).all()
    pgm = decode_image(_fixture("gray_2x2.pgm"))
    assert (pgm.ravel() == np.array([0, 64, 128, 255], np.uint8)).all()


def test_unknown_format_keeps_the_honest_seam():
    # container formats this repo has not implemented from spec
    with pytest.raises(NotImplementedError, match="codec"):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    # a JPEG header now DISPATCHES (no longer the seam) — malformed
    # streams fail loudly as ValueError, not silently
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 JFIF jpeg bytes")


# ------------------------------------------------------------------ JPEG


def test_jpeg_handcrafted_spec_stream_decodes_exactly():
    """Ground truth with NO shared code with the encoder: a minimal
    baseline JPEG built byte-by-byte from T.81 — 8x8 grayscale, flat
    quant table of 8s, one-symbol Huffman tables, a single DC
    coefficient of 72 (category 7, bits 1001000) and an EOB.  Dequant
    gives 576; a DC-only IDCT is 576/8 = 72; level shift +128 = a solid
    200 image, exact in every pixel."""
    from buildkite_logs_parquet_spark.functions.jpeg_codec import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker, (len(payload) + 2) >> 8, (len(payload) + 2) & 0xFF]) + payload

    dqt = seg(0xDB, bytes([0x00]) + bytes([8] * 64))
    sof = seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    dht_dc = seg(0xC4, bytes([0x00, 1] + [0] * 15 + [7]))
    dht_ac = seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0x00]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # bits: huff(DC cat 7)='0', 72 as 7 bits='1001000', huff(EOB)='0',
    # then 1-padding -> 0b01001000 0b01111111
    entropy = bytes([0b01001000, 0b01111111])
    stream = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + entropy + b"\xff\xd9"
    img = decode_jpeg(stream)
    assert img.shape == (8, 8, 1)
    assert (img == 200).all()


def test_jpeg_fixture_grayscale():
    """Real-world fixture (IPython test suite's 2x2.jpg, BSD-licensed):
    baseline grayscale, standard Annex-K Huffman tables — decodes to a
    solid mid-gray 2x2."""
    img = decode_image(_fixture("gray_2x2.jpg"))
    assert img.shape == (2, 2, 1)
    assert (img == 128).all()


def test_jpeg_fixture_color_420():
    """Real-world fixture (CPython test suite's python.jpg, PSF-licensed):
    16x16 baseline YCbCr 4:2:0 (luma 2x2, chroma 1x1 sampling) — the
    Python logo at stamp size.  Structural + semantic pins: the center
    carries the logo's yellow (R,G both high, B low), the corners are
    near-black, and the exact pixel digest is pinned for regression."""
    import hashlib

    img = decode_image(_fixture("logo_16x16.jpg"))
    assert img.shape == (16, 16, 3)
    r, g, b = (int(x) for x in img[8, 8])
    assert r > 200 and g > 180 and b < 120  # logo yellow at center
    assert img[0, 0].max() < 30 and img[15, 15].max() < 30
    assert (
        hashlib.sha256(img.tobytes()).hexdigest()[:16] == "7ee70c76b4f78c9a"
    )


def test_jpeg_roundtrip_gray_and_color():
    from buildkite_logs_parquet_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    gray = np.tile(np.arange(64, dtype=np.uint8)[None, :] * 3, (32, 1))
    rt = decode_jpeg(encode_jpeg(gray, quality=95))
    assert rt.shape == (32, 64, 1)
    assert np.abs(rt[:, :, 0].astype(int) - gray.astype(int)).max() <= 2

    rgb = np.zeros((24, 40, 3), np.uint8)
    rgb[:, :, 0] = np.linspace(0, 255, 40, dtype=np.uint8)[None, :]
    rgb[:, :, 1] = np.linspace(255, 0, 24, dtype=np.uint8)[:, None]
    rgb[:, :, 2] = 77
    rt = decode_jpeg(encode_jpeg(rgb, quality=95))
    assert np.abs(rt.astype(int) - rgb.astype(int)).max() <= 8
    # 4:2:0: chroma smoothing allowed, structure preserved
    rt420 = decode_jpeg(encode_jpeg(rgb, quality=95, subsample=True))
    assert rt420.shape == rgb.shape
    assert np.abs(rt420.astype(int) - rgb.astype(int)).mean() < 4

    solid = np.full((16, 16, 3), [200, 100, 50], np.uint8)
    assert (decode_jpeg(encode_jpeg(solid, quality=90)) == solid).all()


def test_jpeg_restart_markers_are_transparent():
    """DRI/RSTn (predictor reset + realignment) must not change decoded
    pixels: the same image encoded with restart intervals 0/1/3 decodes
    bit-identically."""
    from buildkite_logs_parquet_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (40, 56, 3)).astype(float)
    for _ in range(3):
        rgb = (
            rgb
            + np.roll(rgb, 1, 0)
            + np.roll(rgb, 1, 1)
            + np.roll(rgb, -1, 0)
            + np.roll(rgb, -1, 1)
        ) / 5
    rgb = rgb.astype(np.uint8)
    base = decode_jpeg(encode_jpeg(rgb, quality=95, subsample=True))
    for ri in (1, 3):
        enc = encode_jpeg(rgb, quality=95, subsample=True, restart_interval=ri)
        assert b"\xff\xdd" in enc  # DRI segment present
        assert (decode_jpeg(enc) == base).all()


def test_jpeg_progressive_roundtrip_matches_baseline():
    """Progressive coefficient coding is lossless: the same image encoded
    baseline and progressive (same quality) must decode BIT-IDENTICALLY —
    across gray, 4:4:4, 4:2:0, restart intervals, and odd dimensions
    (where the non-interleaved scans walk a smaller grid than the padded
    MCU grid)."""
    from buildkite_logs_parquet_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(3)
    gray = np.tile(np.arange(64, dtype=np.uint8)[None, :] * 3, (32, 1))
    assert (
        decode_jpeg(encode_jpeg(gray, quality=95))
        == decode_jpeg(encode_jpeg(gray, quality=95, progressive=True))
    ).all()

    rgb = rng.integers(0, 256, (40, 56, 3)).astype(np.uint8)
    for kw in ({}, {"subsample": True}):
        base = decode_jpeg(encode_jpeg(rgb, quality=90, **kw))
        prog = encode_jpeg(rgb, quality=90, progressive=True, **kw)
        assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
        assert (base == decode_jpeg(prog)).all()

    # RSTn inside progressive scans: EOB runs and predictors reset
    base = decode_jpeg(encode_jpeg(rgb, quality=90, subsample=True))
    ri = encode_jpeg(
        rgb, quality=90, subsample=True, progressive=True, restart_interval=3
    )
    assert b"\xff\xd0" in ri
    assert (base == decode_jpeg(ri)).all()

    odd = rng.integers(0, 256, (17, 23, 3)).astype(np.uint8)
    assert (
        decode_jpeg(encode_jpeg(odd, quality=85, subsample=True))
        == decode_jpeg(
            encode_jpeg(odd, quality=85, subsample=True, progressive=True)
        )
    ).all()


def test_jpeg_progressive_handpinned_stream():
    """Hand-crafted SOF2 stream, independent of our encoder: one 8x8 gray
    block, flat quant table of 1s, three scans — DC first (Al=1, value 5
    -> coefficient 10), DC refinement (Ah=1, bit 1 -> 11), AC first with
    an immediate EOB.  DC-only block of 11 -> IDCT 11/8 -> round(1.375)
    + 128 = 129 in every pixel."""
    from buildkite_logs_parquet_spark.functions.jpeg_codec import decode_jpeg

    def seg(marker, payload):
        n = len(payload) + 2
        return bytes([0xFF, marker, n >> 8, n & 0xFF]) + payload

    dqt = seg(0xDB, bytes([0]) + bytes([1] * 64))
    sof2 = seg(0xC2, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    # DC table 0: single symbol 3 at code length 1 (code '0')
    dht_dc = seg(0xC4, bytes([0x00] + [1] + [0] * 15 + [3]))
    # AC table 0: single symbol 0x00 (EOB0) at code length 1
    dht_ac = seg(0xC4, bytes([0x10] + [1] + [0] * 15 + [0x00]))
    # scan 1: DC first, Al=1 — '0' (size 3) + '101' (5), 1-padded = 0x5F
    sos_dc1 = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + b"\x5f"
    # scan 2: DC refine, Ah=1 Al=0 — raw bit 1, padded = 0xFF (stuffed)
    sos_dc2 = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + b"\xff\x00"
    # scan 3: AC first 1-63 — EOB0 = '0', padded = 0x7F
    sos_ac = seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + b"\x7f"
    data = (
        b"\xff\xd8" + dqt + sof2 + dht_dc + dht_ac
        + sos_dc1 + sos_dc2 + sos_ac + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    assert img.shape == (8, 8, 1)
    assert (img == 129).all()


def test_jpeg_sof_variants_stay_behind_the_seam():
    from buildkite_logs_parquet_spark.functions.jpeg_codec import decode_jpeg

    def seg(marker, payload):
        n = len(payload) + 2
        return bytes([0xFF, marker, n >> 8, n & 0xFF]) + payload

    # SOF3 (lossless) and SOF9 (arithmetic) stay honest NotImplementedError
    for m, name in ((0xC3, "SOF3"), (0xC9, "SOF9")):
        sof = seg(m, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
        with pytest.raises(NotImplementedError, match=name):
            decode_jpeg(b"\xff\xd8" + sof + b"\xff\xd9")
    # SOF2 with zero scans is malformed, not silently black
    sof2 = seg(0xC2, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    with pytest.raises(ValueError, match="no scan data"):
        decode_jpeg(b"\xff\xd8" + sof2 + b"\xff\xd9")


# ------------------------------------------- real_decode through the stage


# --------------------------------------------------------------- BMP


def test_bmp_roundtrip_and_dispatch():
    from buildkite_logs_parquet_spark.functions.image_codec import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(31)
    # odd width exercises the 4-byte row padding
    img = rng.integers(0, 256, (13, 21, 3)).astype(np.uint8)
    data = encode_bmp(img)
    assert (decode_bmp(data) == img).all()
    assert (decode_image(data) == img).all()


def test_bmp_handpinned_2x2_and_variants():
    """Hand-built streams (no encoder): 24-bit bottom-up with padding,
    top-down (negative height), and 8-bit palette."""
    import struct

    from buildkite_logs_parquet_spark.functions.image_codec import decode_bmp

    def bmp24(pixels_bgr_rows, w, h):
        stride = (w * 3 + 3) & ~3
        body = b"".join(
            row + b"\x00" * (stride - len(row)) for row in pixels_bgr_rows
        )
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0
        )
        return b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + info + body

    # bottom-up: file row 0 is the BOTTOM image row
    data = bmp24(
        [b"\xff\x00\x00" + b"\x00\xff\x00",  # blue, green (bottom row)
         b"\x00\x00\xff" + b"\xff\xff\xff"],  # red, white (top row)
        2, 2,
    )
    img = decode_bmp(data)
    assert tuple(img[0, 0]) == (255, 0, 0) and tuple(img[0, 1]) == (255, 255, 255)
    assert tuple(img[1, 0]) == (0, 0, 255) and tuple(img[1, 1]) == (0, 255, 0)

    # top-down (h < 0): file order IS image order
    data = bmp24(
        [b"\x00\x00\xff" + b"\xff\xff\xff", b"\xff\x00\x00" + b"\x00\xff\x00"],
        2, -2,
    )
    img2 = decode_bmp(data)
    assert (img2 == img).all()

    # 8-bit palette: two entries, 2x1 image
    pal = b"\x00\x00\xff\x00" + b"\x00\xff\x00\x00"  # BGRA: red, green
    row = b"\x00\x01\x00\x00"  # indices + pad to 4
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 8, 0, 4, 0, 0, 2, 0)
    data = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + 8 + 4, 0, 0, 14 + 40 + 8)
        + info + pal + row
    )
    img3 = decode_bmp(data)
    assert tuple(img3[0, 0]) == (255, 0, 0) and tuple(img3[0, 1]) == (0, 255, 0)


def test_bmp_unsupported_variants_raise():
    import struct

    from buildkite_logs_parquet_spark.functions.image_codec import decode_bmp

    with pytest.raises(ValueError, match="BM magic"):
        decode_bmp(b"XX" + b"\x00" * 60)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 1, 0, 0, 0, 0, 0)  # RLE
    data = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + info
    with pytest.raises(NotImplementedError, match="compression"):
        decode_bmp(data)
