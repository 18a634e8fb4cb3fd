"""FLAC codec: round-trips through every decoder path (the encoder is
an independently-constructed bit stream), CRC/truncation rejection and
the decode_audio dispatcher."""

import numpy as np
import pytest

from buildkite_logs_parquet_spark.functions.flac_codec import (
    _crc8,
    _crc16,
    _utf8_number,
    decode_flac,
    encode_flac,
)


def _signal(n, ch=1, seed=3, amp=1000):
    rng = np.random.default_rng(seed)
    # random walk keeps fixed-predictor residuals small (the rice path)
    steps = rng.integers(-50, 51, size=(n, ch))
    return np.clip(np.cumsum(steps, axis=0), -amp, amp).astype(np.int64)


class TestRoundTrip:
    def test_verbatim_mono(self):
        x = _signal(1000)
        sr, got = decode_flac(encode_flac(x, 16000))
        assert sr == 16000
        assert got.shape == (1000, 1)
        np.testing.assert_array_equal(got[:, 0], x[:, 0])

    def test_partial_final_block_and_multiframe(self):
        x = _signal(700)  # block_size 256 -> frames of 256,256,188
        _, got = decode_flac(encode_flac(x, 8000, block_size=256))
        np.testing.assert_array_equal(got, x)

    def test_constant_subframe(self):
        x = np.full(512, -137, dtype=np.int64)
        _, got = decode_flac(
            encode_flac(x, 8000, subframe="constant-or-verbatim")
        )
        np.testing.assert_array_equal(got[:, 0], x)

    @pytest.mark.parametrize("mode", ["fixed1", "fixed2"])
    def test_fixed_predictors_rice_residuals(self, mode):
        x = _signal(900, seed=11)
        _, got = decode_flac(encode_flac(x, 22050, subframe=mode))
        np.testing.assert_array_equal(got[:, 0], x[:, 0])

    def test_stereo_independent(self):
        x = _signal(400, ch=2, seed=5)
        _, got = decode_flac(encode_flac(x, 44100))
        assert got.shape == (400, 2)
        np.testing.assert_array_equal(got, x)

    def test_stereo_left_side_decorrelation(self):
        x = _signal(400, ch=2, seed=8)
        _, got = decode_flac(encode_flac(x, 44100, stereo_mode="left-side"))
        np.testing.assert_array_equal(got, x)

    def test_8_bit_depth(self):
        x = np.clip(_signal(300, amp=100), -128, 127)
        _, got = decode_flac(encode_flac(x, 8000, bits_per_sample=8))
        np.testing.assert_array_equal(got[:, 0], x[:, 0])

    def test_negative_extremes_16_bit(self):
        x = np.array([[-32768], [32767], [0], [-1]] * 50, dtype=np.int64)
        _, got = decode_flac(encode_flac(x, 8000))
        np.testing.assert_array_equal(got, x)


class TestRejection:
    def test_bad_magic(self):
        with pytest.raises(ValueError, match="magic"):
            decode_flac(b"RIFFnope")

    def test_header_crc_mismatch(self):
        raw = bytearray(encode_flac(_signal(300), 8000))
        # STREAMINFO is 4 magic + 4 hdr + 50 bytes; frame follows.
        # Flip a bit inside the first frame header's coded-number byte.
        raw[58 + 4] ^= 0x01
        with pytest.raises(ValueError):
            decode_flac(bytes(raw))

    def test_frame_crc_mismatch(self):
        good = encode_flac(_signal(300), 8000)
        raw = bytearray(good)
        raw[-3] ^= 0x10  # inside the last frame's payload
        with pytest.raises(ValueError):
            decode_flac(bytes(raw))

    def test_truncated(self):
        good = encode_flac(_signal(300), 8000)
        with pytest.raises(ValueError):
            decode_flac(good[: len(good) // 2])


class TestPrimitives:
    def test_crc_vectors(self):
        # classic check string for both polynomials
        assert _crc8(b"123456789") == 0xF4  # CRC-8/SMBUS (poly 0x07)
        assert _crc16(b"123456789") == 0xFEE8  # CRC-16/UMTS (poly 0x8005)

    def test_utf8_number_shapes(self):
        assert _utf8_number(0) == b"\x00"
        assert _utf8_number(0x7F) == b"\x7f"
        assert _utf8_number(0x80) == bytes([0xC2, 0x80])  # same as UTF-8 U+0080
        assert _utf8_number(0x7FF) == "߿".encode("utf-8")
        assert _utf8_number(0xFFFF) == "￿".encode("utf-8")


class TestDispatcher:
    def test_decode_audio_sniffs_flac_and_wav(self):
        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_audio,
            encode_wav,
        )

        x = _signal(500).astype(np.int16)
        sr_f, a_f = decode_audio(encode_flac(x.astype(np.int64), 16000))
        sr_w, a_w = decode_audio(encode_wav(x[:, 0], 16000))
        assert sr_f == sr_w == 16000
        np.testing.assert_array_equal(a_f, a_w)
        with pytest.raises(ValueError, match="container"):
            decode_audio(b"\x00\x01\x02\x03 junk")

    def test_flac_24_bit_rescales_to_int16_grid(self):
        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_audio,
        )

        x = (_signal(200, amp=1000) << 8).astype(np.int64)  # 24-bit-ish
        _, got = decode_audio(encode_flac(x, 8000, bits_per_sample=24))
        np.testing.assert_array_equal(got[:, 0], (x[:, 0] >> 8).astype(np.int16))


class TestAdvancedPaths:
    def test_lpc_subframe(self):
        x = _signal(900, seed=21)
        _, got = decode_flac(encode_flac(x, 16000, subframe="lpc2"))
        np.testing.assert_array_equal(got[:, 0], x[:, 0])

    def test_rice_partition_orders(self):
        x = _signal(1024, seed=9)
        for po in (1, 2, 3):
            _, got = decode_flac(
                encode_flac(
                    x, 16000, subframe="fixed2", partition_order=po
                )
            )
            np.testing.assert_array_equal(got[:, 0], x[:, 0])

    def test_escape_partitions(self):
        x = _signal(512, seed=13)
        _, got = decode_flac(
            encode_flac(
                x,
                16000,
                subframe="fixed1",
                partition_order=2,
                escape_partitions=True,
            )
        )
        np.testing.assert_array_equal(got[:, 0], x[:, 0])

    def test_lpc_stereo_left_side(self):
        x = _signal(600, ch=2, seed=17)
        _, got = decode_flac(
            encode_flac(x, 44100, subframe="lpc2", stereo_mode="left-side")
        )
        np.testing.assert_array_equal(got, x)


class TestFuzz:
    def test_random_bytes_never_crash_only_valueerror(self):
        """Quarantine contract: arbitrary bytes must raise ValueError
        (or decode, for a miracle), never hang or throw anything else."""
        import numpy as np

        rng = np.random.default_rng(0)
        for n in (0, 1, 3, 8, 64, 512):
            for _ in range(20):
                blob = bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
                try:
                    decode_flac(blob)
                except ValueError:
                    pass

    def test_mutated_valid_stream_never_crashes(self):
        import numpy as np

        good = bytearray(encode_flac(_signal(400), 8000))
        rng = np.random.default_rng(1)
        for _ in range(60):
            raw = bytearray(good)
            i = int(rng.integers(0, len(raw)))
            raw[i] ^= int(rng.integers(1, 256))
            try:
                decode_flac(bytes(raw))
            except ValueError:
                pass
