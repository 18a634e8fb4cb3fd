"""EXIF parse/strip (functions/exif.py): serializer-twin round trips,
GPS decoding, privacy strip, hostile-structure quarantine."""

from __future__ import annotations

import struct

import pytest

from buildkite_logs_parquet_spark.functions.exif import (
    ExifSummary,
    build_exif_app1,
    parse_exif,
    strip_exif,
)


def _jpeg_with(app1: bytes) -> bytes:
    # minimal but marker-valid JPEG: SOI | APP1 | SOS | entropy | EOI
    return (
        b"\xff\xd8"
        + app1
        + b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\x12\x34\x56"
        + b"\xff\xd9"
    )


class TestParse:
    @pytest.mark.parametrize("order", ["II", "MM"])
    def test_round_trip_both_byte_orders(self, order):
        app1 = build_exif_app1(
            make="ACME", model="Cam 9000", orientation=6,
            datetime="2024:05:01 12:00:00", gps=(48.8584, 2.2945),
            byte_order=order,
        )
        got = parse_exif(_jpeg_with(app1))
        assert got.make == "ACME"
        assert got.model == "Cam 9000"
        assert got.orientation == 6
        assert got.datetime == "2024:05:01 12:00:00"
        assert got.has_gps
        assert got.gps_lat == pytest.approx(48.8584, abs=1e-4)
        assert got.gps_lon == pytest.approx(2.2945, abs=1e-4)

    def test_southern_western_hemispheres_sign(self):
        app1 = build_exif_app1(gps=(-33.8688, -151.2093 + 360 - 360))
        got = parse_exif(_jpeg_with(app1))
        assert got.gps_lat == pytest.approx(-33.8688, abs=1e-4)
        assert got.gps_lon == pytest.approx(-151.2093, abs=1e-4)

    def test_no_exif_is_empty_summary_not_error(self):
        jpeg = _jpeg_with(b"")
        assert parse_exif(jpeg) == ExifSummary()

    def test_non_jpeg_raises(self):
        with pytest.raises(ValueError):
            parse_exif(b"PNG not jpeg")

    def test_hostile_ifd_count_raises_not_reads_foreign_bytes(self):
        app1 = bytearray(build_exif_app1(make="ACME"))
        # IFD0 entry count at tiff+8: blow it up
        tiff0 = 2 + 2 + 6  # marker+len+Exif\0\0
        ifd_count_off = tiff0 + 8
        struct.pack_into("<H", app1, ifd_count_off, 40000)
        with pytest.raises(ValueError):
            parse_exif(_jpeg_with(bytes(app1)))

    def test_truncated_segment_raises(self):
        app1 = build_exif_app1(make="ACME")
        jpeg = _jpeg_with(app1)
        with pytest.raises(ValueError):
            parse_exif(jpeg[: len(app1) // 2])


class TestStrip:
    def test_strip_removes_exif_keeps_everything_else(self):
        app1 = build_exif_app1(make="ACME", gps=(1.0, 2.0))
        jpeg = _jpeg_with(app1)
        stripped = strip_exif(jpeg)
        assert stripped == _jpeg_with(b"")
        assert parse_exif(stripped) == ExifSummary()
        # idempotent and no-op on exif-free input
        assert strip_exif(stripped) == stripped

    def test_strip_preserves_real_jpeg_pixels(self):
        import numpy as np

        from buildkite_logs_parquet_spark.functions.jpeg_codec import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(3)
        img = rng.integers(0, 255, size=(16, 16, 3), dtype=np.uint8)
        raw = encode_jpeg(img)
        # splice an EXIF APP1 right after SOI, as cameras do
        app1 = build_exif_app1(make="ACME", gps=(10.5, -20.25))
        tagged = raw[:2] + app1 + raw[2:]
        assert parse_exif(tagged).has_gps
        clean = strip_exif(tagged)
        assert clean == raw  # byte-identical to the untagged encode
        assert np.array_equal(decode_jpeg(clean), decode_jpeg(raw))

    def test_non_exif_app1_survives(self):
        # XMP also rides APP1 but without the Exif header — must be kept
        xmp = b"\xff\xe1" + struct.pack(">H", 12) + b"http://xmp"
        jpeg = _jpeg_with(xmp)
        assert strip_exif(jpeg) == jpeg
