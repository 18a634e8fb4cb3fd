"""Pure-Python WAV codec (bytes + numpy, no external codec library).

``decode_wav`` walks the RIFF/WAVE chunks itself, because the stdlib
``wave`` module reads only PCM, and returns ``(sample_rate, samples)``
with int16 samples shaped ``(n_frames, n_channels)``.  It decodes:

* **PCM** (format tag 0x0001): 16-bit signed and 8-bit unsigned
  (rescaled to int16) — lossless.
* **G.711** A-law (0x0006) and mu-law (0x0007), through 256-entry
  lookup tables.
* **IMA ADPCM** (format tag 0x0011, a.k.a. DVI ADPCM): a real
  COMPRESSED audio format — 4 bits/sample, per-block predictor +
  step-index header, the standard IMA step/index tables.  Mono only
  (stereo ADPCM interleaves 4-byte groups per channel; raises
  ``NotImplementedError``).

Any other format tag raises ``ValueError``.  ``encode_wav`` (16-bit
PCM) and ``encode_wav_ima_adpcm`` are the inverses, so tests can
round-trip; ADPCM is lossy, so round-trips assert reconstruction error
bounds plus exact decode of hand-pinned nibble streams.

``decode_audio`` picks the decoder from the magic bytes (RIFF →
``decode_wav``, ``fLaC`` → ``flac_codec.decode_flac``), and
``mp3_info`` reads MP3 frame headers without decoding any audio.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

#: IMA ADPCM step-size table (89 entries) and index-adjust table — from
#: the IMA Recommended Practices for Enhancing Digital Audio (public).
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _g711_tables() -> tuple["np.ndarray", "np.ndarray"]:
    """256-entry byte→int16 decode tables for G.711 mu-law and A-law
    (ITU-T G.711, the telephony companding pair — 8 kHz speech corpora
    and call-center dumps ship WAV tags 0x0007/0x0006).  Built from the
    classic segment/mantissa formulas (Sun g711.c semantics, public
    domain); parity with CPython's audioop is asserted in tests."""
    ulaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        seg = (a & 0x70) >> 4
        t = (a & 0x0F) << 4
        if seg == 0:
            t += 8
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[b] = t if (a & 0x80) else -t
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _g711_tables()


def _parse_riff_wave(data: bytes) -> tuple[dict, bytes]:
    """RIFF/WAVE chunk walk → (fmt fields, data-chunk bytes)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV stream (bad RIFF/WAVE header)")
    fmt: dict | None = None
    body: bytes | None = None
    pos = 12
    end = min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    while pos + 8 <= end:
        cc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + size]
        if cc == b"fmt " and size >= 16:
            tag, ch, sr, _abps, balign, bits = struct.unpack(
                "<HHIIHH", payload[:16]
            )
            fmt = {
                "tag": tag,
                "channels": ch,
                "rate": sr,
                "block_align": balign,
                "bits": bits,
            }
            if size >= 20:
                (fmt["samples_per_block"],) = struct.unpack(
                    "<H", payload[18:20]
                )
        elif cc == b"fact" and size >= 4:
            if fmt is not None:
                (fmt["n_samples"],) = struct.unpack("<I", payload[:4])
        elif cc == b"data":
            body = payload
        pos += 8 + size + (size & 1)
    if fmt is None or body is None:
        raise ValueError("WAV: missing fmt or data chunk")
    return fmt, body


def _ima_decode_block(block: bytes, n_samples: int) -> np.ndarray:
    """One mono IMA ADPCM block: 4-byte header (int16 predictor, step
    index, reserved) then two 4-bit samples per byte, low nibble first."""
    pred, index, _res = struct.unpack("<hBB", block[:4])
    index = min(max(index, 0), 88)
    out = np.empty(n_samples, np.int16)
    out[0] = pred
    k = 1
    for byte in block[4:]:
        for nib in (byte & 0x0F, byte >> 4):
            if k >= n_samples:
                break
            step = _IMA_STEPS[index]
            diff = step >> 3
            if nib & 4:
                diff += step
            if nib & 2:
                diff += step >> 1
            if nib & 1:
                diff += step >> 2
            pred = pred - diff if nib & 8 else pred + diff
            pred = min(32767, max(-32768, pred))
            index = min(88, max(0, index + _IMA_INDEX[nib & 7]))
            out[k] = pred
            k += 1
    return out[:k]


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a WAV payload to ``(sample_rate, samples)`` with
    ``samples`` shaped ``(n_frames, n_channels)`` as int16.

    PCM (16-bit signed, 8-bit unsigned) and mono IMA ADPCM decode
    natively; anything else raises — the caller's codec seam decides
    whether to quarantine or fail.
    """
    fmt, raw = _parse_riff_wave(data)
    ch = fmt["channels"]
    if ch <= 0:
        raise ValueError("invalid channel count")
    if fmt["tag"] == 0x0001:  # PCM
        sw = fmt["bits"] // 8
        if sw == 2:
            arr = np.frombuffer(raw, dtype="<i2").astype(np.int16)
        elif sw == 1:
            arr = (
                (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128)
                << 8
            ).astype(np.int16)
        else:
            raise ValueError(f"unsupported PCM sample width: {sw} bytes")
        return fmt["rate"], arr.reshape(-1, ch)
    if fmt["tag"] in (0x0006, 0x0007):  # G.711 A-law / mu-law
        lut = _ALAW_TABLE if fmt["tag"] == 0x0006 else _ULAW_TABLE
        arr = lut[np.frombuffer(raw, dtype=np.uint8)]
        return fmt["rate"], arr.reshape(-1, ch)
    if fmt["tag"] == 0x0011:  # IMA ADPCM
        if ch != 1:
            raise NotImplementedError("IMA ADPCM: mono only")
        balign = fmt["block_align"]
        spb = fmt.get("samples_per_block", (balign - 4) * 2 + 1)
        chunks = [
            _ima_decode_block(raw[i : i + balign], spb)
            for i in range(0, len(raw) - 3, balign)
        ]
        samples = np.concatenate(chunks)
        # `fact` chunk carries the true sample count (final-block pad)
        n = fmt.get("n_samples")
        if n is not None:
            samples = samples[:n]
        return fmt["rate"], samples[:, None]
    raise ValueError(f"unsupported WAV format tag 0x{fmt['tag']:04x}")


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode int16 samples (``(n_frames,)`` or ``(n_frames,
    n_channels)``) as 16-bit PCM WAV bytes — the fixture-side inverse of
    ``decode_wav``."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(2)
        w.setframerate(int(sample_rate))
        w.writeframes(arr.astype("<i2").tobytes())
    return buf.getvalue()


def encode_wav_ima_adpcm(
    samples: np.ndarray, sample_rate: int, block_align: int = 256
) -> bytes:
    """Encode mono int16 samples as IMA ADPCM WAV (format tag 0x0011),
    the standard greedy nibble quantizer with the same state update as
    the decoder — so decode(encode(x)) tracks x within ADPCM error."""
    arr = np.asarray(samples, dtype=np.int16).reshape(-1)
    spb = (block_align - 4) * 2 + 1
    pred = 0
    index = 0
    blocks = bytearray()
    n_blocks = 0
    for start in range(0, len(arr), spb):
        chunk = arr[start : start + spb]
        pred = int(chunk[0])
        blocks += struct.pack("<hBB", pred, index, 0)
        nibbles: list[int] = []
        for s in chunk[1:]:
            step = _IMA_STEPS[index]
            delta = int(s) - pred
            nib = 8 if delta < 0 else 0
            if delta < 0:
                delta = -delta
            if delta >= step:
                nib |= 4
                delta -= step
            if delta >= step >> 1:
                nib |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                nib |= 1
            # reconstruct exactly as the decoder will
            diff = step >> 3
            if nib & 4:
                diff += step
            if nib & 2:
                diff += step >> 1
            if nib & 1:
                diff += step >> 2
            pred = pred - diff if nib & 8 else pred + diff
            pred = min(32767, max(-32768, pred))
            index = min(88, max(0, index + _IMA_INDEX[nib & 7]))
            nibbles.append(nib)
        nibbles += [0] * (spb - 1 - len(nibbles))  # pad the final block
        for i in range(0, len(nibbles), 2):
            blocks.append(nibbles[i] | (nibbles[i + 1] << 4))
        n_blocks += 1

    fmt = struct.pack(
        "<HHIIHHHH",
        0x0011,  # wFormatTag
        1,  # channels
        int(sample_rate),
        int(sample_rate) * block_align // spb,  # avg bytes/sec (approx)
        block_align,
        4,  # bits per sample
        2,  # cbSize
        spb,
    )
    out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"fact" + struct.pack("<II", 4, len(arr))
    out += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    if len(blocks) & 1:
        out += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out


def decode_audio(data: bytes) -> tuple[int, np.ndarray]:
    """Format-sniffing audio decode: RIFF/WAVE → ``decode_wav`` (PCM /
    IMA ADPCM), ``fLaC`` → ``flac_codec.decode_flac`` (the archival format speech corpora
    actually ship).  Returns ``(sample_rate, samples int16 (n, ch))``;
    FLAC depths ≠ 16 are rescaled to the int16 grid (feature extraction
    is scale-normalized anyway).  Unknown magics raise ValueError — the
    caller's quarantine seam."""
    raw = bytes(data)
    if raw[:4] == b"fLaC":
        from buildkite_logs_parquet_spark.functions.flac_codec import (
            _read_streaminfo,
            decode_flac,
        )

        bps = _read_streaminfo(raw)[0]["bits_per_sample"]
        sr, arr = decode_flac(raw)
        if bps > 16:
            arr = arr >> (bps - 16)
        elif bps < 16:
            arr = arr << (16 - bps)
        return sr, arr.astype(np.int16)
    if raw[:4] == b"RIFF":
        return decode_wav(raw)
    raise ValueError("unsupported audio container (WAV and FLAC decode natively)")


# ------------------------------------------------------------------ MP3 triage

#: MPEG audio bitrate tables (kbps), index 1..14 — ISO/IEC 11172-3 /
#: 13818-3 public tables.  Keyed by (version_group, layer): version_group
#: 'v1' = MPEG1, 'v2' = MPEG2/2.5 (which share a table).
_MP3_BITRATES = {
    ("v1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("v1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("v1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("v2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("v2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("v2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}


def _id3v2_size(data: bytes) -> int:
    """Byte length of a leading ID3v2 tag (0 if absent) — syncsafe size
    field per the public id3.org spec, +10 header (+10 footer if flagged)."""
    if len(data) < 10 or data[:3] != b"ID3":
        return 0
    flags = data[5]
    size = (
        ((data[6] & 0x7F) << 21)
        | ((data[7] & 0x7F) << 14)
        | ((data[8] & 0x7F) << 7)
        | (data[9] & 0x7F)
    )
    return 10 + size + (10 if flags & 0x10 else 0)


def mp3_info(data: bytes) -> dict:
    """Metadata-only MP3 triage: walk MPEG audio frame headers (no
    decode) and return container stats — the cheap first pass an audio
    crawl runs to estimate duration/bitrate and route clips BEFORE any
    expensive transcode.  Handles a leading ID3v2 tag and a trailing
    ID3v1 block; tolerates junk between frames by resyncing on 0xFFE.

    Returns ``{n_frames, duration_ms, sample_rate, bitrate_kbps (mean),
    vbr, layer, mpeg_version, has_id3v2, id3v2_bytes}``.  Raises
    ``ValueError`` when no valid frame is found (quarantine seam).
    Full Layer-III DECODE stays behind the honest ``strict_decode``
    seam — this parser reads only the public header fields.
    """
    raw = bytes(data)
    pos = _id3v2_size(raw)
    has_id3 = pos > 0
    end = len(raw)
    if end >= 128 and raw[end - 128 : end - 125] == b"TAG":
        end -= 128  # ID3v1 trailer
    n_frames = 0
    samples = 0
    sr_seen = None
    layer_seen = None
    ver_seen = None
    bitrates = []
    while pos + 4 <= end:
        b0, b1, b2, _ = raw[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            pos += 1  # resync
            continue
        ver = (b1 >> 3) & 0x3  # 0=2.5, 2=MPEG2, 3=MPEG1
        layer_code = (b1 >> 1) & 0x3  # 3=Layer I, 2=II, 1=III
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        if ver == 1 or layer_code == 0 or br_idx in (0, 15) or sr_idx == 3:
            pos += 1
            continue
        layer = 4 - layer_code  # 1, 2, 3
        vgroup = "v1" if ver == 3 else "v2"
        bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx - 1] * 1000
        sr = _MP3_RATES[ver][sr_idx]
        if layer == 1:
            frame_len = (12 * bitrate // sr + padding) * 4
            spf = 384
        else:
            spf = 1152 if (layer == 2 or ver == 3) else 576
            frame_len = (spf // 8) * bitrate // sr + padding
        if frame_len < 4:
            pos += 1
            continue
        n_frames += 1
        samples += spf
        bitrates.append(bitrate)
        sr_seen = sr
        layer_seen = layer
        ver_seen = {3: "1", 2: "2", 0: "2.5"}[ver]
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no MPEG audio frames found")
    return {
        "n_frames": n_frames,
        "duration_ms": round(1000.0 * samples / sr_seen, 3),
        "sample_rate": sr_seen,
        "bitrate_kbps": round(sum(bitrates) / len(bitrates) / 1000.0, 3),
        "vbr": len(set(bitrates)) > 1,
        "layer": layer_seen,
        "mpeg_version": ver_seen,
        "has_id3v2": has_id3,
        "id3v2_bytes": _id3v2_size(raw),
    }
