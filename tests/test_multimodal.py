"""WAV decode paths of ``functions.audio_codec``: PCM, IMA ADPCM and G.711."""

import pytest


class TestAudio:
    def test_codec_round_trip(self):
        import numpy as np
        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_wav,
            encode_wav,
        )

        sr = 16000
        samples = (np.arange(-100, 100) * 50).astype(np.int16)
        got_sr, got = decode_wav(encode_wav(samples, sr))
        assert got_sr == sr
        assert np.array_equal(got[:, 0], samples)


class TestImaAdpcm:
    """IMA ADPCM (format 0x0011) — the compressed-audio rung of the
    codec ladder.  Lossy: round-trips assert error bounds; exactness is
    pinned by hand-computed nibble decodes."""

    def test_adpcm_roundtrip_tracks_signal(self):
        import numpy as np

        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_wav,
            encode_wav,
            encode_wav_ima_adpcm,
        )

        t = np.arange(5000)
        sig = (6000 * np.sin(2 * np.pi * 220 * t / 16000)).astype(np.int16)
        payload = encode_wav_ima_adpcm(sig, 16000)
        sr, got = decode_wav(payload)
        assert sr == 16000
        assert got.shape == (5000, 1)  # fact chunk trims final-block pad
        err = np.abs(got[:, 0].astype(int) - sig.astype(int))
        # steady-state tracking well under 2% of amplitude on average
        assert err.mean() < 0.02 * 6000
        # genuinely compressed vs 16-bit PCM (4 bits/sample ≈ 3.5-4x)
        assert len(encode_wav(sig, 16000)) / len(payload) > 3

    def test_adpcm_handpinned_block(self):
        import struct

        from buildkite_logs_parquet_spark.functions.audio_codec import (
            _ima_decode_block,
        )

        # predictor 100, index 0 (step 7); nibble 4: +step -> 107,
        # index +2 (step 9); nibble 1: +(9>>3)+(9>>2)=3 -> 110, index 1
        blk = struct.pack("<hBB", 100, 0, 0) + bytes([0x14])
        assert _ima_decode_block(blk, 3).tolist() == [100, 107, 110]
        # sign bit: nibble 0xC = 8|4 -> -step
        blk = struct.pack("<hBB", 100, 0, 0) + bytes([0x0C])
        assert _ima_decode_block(blk, 2).tolist() == [100, 93]

    def test_adpcm_block_boundaries_reset_predictor(self):
        import numpy as np

        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_wav,
            encode_wav_ima_adpcm,
        )

        # a step function straddling many small blocks: the per-block
        # header predictor resyncs exactly at every block start
        sig = np.repeat(
            np.array([-20000, 20000, -15000, 15000], np.int16), 600
        )
        sr, got = decode_wav(encode_wav_ima_adpcm(sig, 8000, block_align=64))
        spb = (64 - 4) * 2 + 1
        starts = np.arange(0, len(sig), spb)
        assert (got[starts, 0] == sig[starts]).all()

    def test_adpcm_stereo_stays_behind_the_seam(self):
        import numpy as np
        import struct

        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_wav,
            encode_wav_ima_adpcm,
        )

        payload = bytearray(
            encode_wav_ima_adpcm(np.zeros(100, np.int16), 8000)
        )
        pos = payload.find(b"fmt ") + 8
        payload[pos + 2 : pos + 4] = struct.pack("<H", 2)  # channels = 2
        with pytest.raises(NotImplementedError, match="mono only"):
            decode_wav(bytes(payload))


class TestG711:
    """G.711 mu-law / A-law WAV decode — parity with CPython's audioop
    (an independent implementation of the same ITU tables)."""

    @staticmethod
    def _riff(tag, ch, rate, body):
        import struct

        fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * ch, ch, 8)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def test_tables_match_audioop(self):
        import warnings

        import numpy as np

        from buildkite_logs_parquet_spark.functions.audio_codec import (
            _ALAW_TABLE,
            _ULAW_TABLE,
        )

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop
        allb = bytes(range(256))
        want_u = np.frombuffer(audioop.ulaw2lin(allb, 2), dtype="<i2")
        want_a = np.frombuffer(audioop.alaw2lin(allb, 2), dtype="<i2")
        np.testing.assert_array_equal(_ULAW_TABLE, want_u)
        np.testing.assert_array_equal(_ALAW_TABLE, want_a)

    def test_decode_wav_mulaw_and_alaw(self):
        import warnings

        import numpy as np

        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_wav,
        )

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop

        pcm = (
            (np.sin(np.linspace(0, 20, 400)) * 20000).astype("<i2").tobytes()
        )
        for tag, enc, dec in (
            (0x0007, audioop.lin2ulaw, audioop.ulaw2lin),
            (0x0006, audioop.lin2alaw, audioop.alaw2lin),
        ):
            body = enc(pcm, 2)
            sr, got = decode_wav(self._riff(tag, 1, 8000, body))
            want = np.frombuffer(dec(body, 2), dtype="<i2")
            assert sr == 8000 and got.shape == (400, 1)
            np.testing.assert_array_equal(got[:, 0], want)

    def test_stereo_interleave(self):
        import warnings

        import numpy as np

        from buildkite_logs_parquet_spark.functions.audio_codec import (
            decode_wav,
        )

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop

        left = (np.arange(100, dtype="<i2") * 50).tobytes()
        body = audioop.lin2ulaw(left, 2)
        inter = bytes(
            b for pair in zip(body, body) for b in pair
        )  # L==R per frame
        _, got = decode_wav(self._riff(0x0007, 2, 8000, inter))
        assert got.shape == (100, 2)
        np.testing.assert_array_equal(got[:, 0], got[:, 1])
