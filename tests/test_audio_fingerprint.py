"""MP3 metadata triage: ``functions.audio_codec.mp3_info``."""

import pytest

from buildkite_logs_parquet_spark.functions.audio_codec import mp3_info


def _mp3_frame(bitrate_idx=9, sr_idx=0, padding=0):
    # MPEG1 Layer III: 0xFF 0xFB, bitrate/sr/padding packed in byte 2
    b2 = (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1)
    hdr = bytes([0xFF, 0xFB, b2, 0x00])
    length = (1152 // 8) * (
        [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320][
            bitrate_idx - 1
        ]
        * 1000
    ) // [44100, 48000, 32000][sr_idx] + padding
    return hdr + b"\x00" * (length - 4)


def _id3v2(size=100):
    body = b"\x00" * size
    hdr = b"ID3\x04\x00\x00" + bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
    )
    return hdr + body


class TestMp3Info:
    def test_cbr_frames(self):
        data = _mp3_frame() * 3
        info = mp3_info(data)
        assert info["n_frames"] == 3
        assert info["sample_rate"] == 44100
        assert info["layer"] == 3 and info["mpeg_version"] == "1"
        assert info["bitrate_kbps"] == 128.0 and not info["vbr"]
        assert info["duration_ms"] == pytest.approx(3 * 1152 / 44.1, abs=0.01)
        assert not info["has_id3v2"]

    def test_id3v2_and_v1_skipped(self):
        data = _id3v2(64) + _mp3_frame() * 2 + b"TAG" + b"\x00" * 125
        info = mp3_info(data)
        assert info["n_frames"] == 2
        assert info["has_id3v2"] and info["id3v2_bytes"] == 74

    def test_vbr_mean(self):
        data = _mp3_frame(bitrate_idx=9) + _mp3_frame(bitrate_idx=13)
        info = mp3_info(data)
        assert info["vbr"] and info["bitrate_kbps"] == pytest.approx(192.0)

    def test_resync_through_junk(self):
        data = b"junkjunk" + _mp3_frame() + b"\xff\x00garbage" + _mp3_frame()
        assert mp3_info(data)["n_frames"] == 2

    def test_no_frames_raises(self):
        with pytest.raises(ValueError):
            mp3_info(b"not audio at all")
