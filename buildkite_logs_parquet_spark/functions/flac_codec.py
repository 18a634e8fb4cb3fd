"""Pure-stdlib FLAC decoder (+ fixture-side encoder) — the archival
audio rung of the codec ladder.

Speech corpora ship FLAC (LibriSpeech and its descendants distribute
``.flac`` exclusively), so a training-data pipeline that ingests audio
crawls needs it decoded on the executor with no external codec
dependency — the same policy as the WAV codec beside this module:
bytes + numpy only, deterministic, quarantine-friendly
(malformed streams raise ``ValueError``; features the format allows
but this subset doesn't cover raise ``NotImplementedError``).

Covered (the entirety of what libFLAC's encoder emits by default):

* STREAMINFO metadata (+ all other metadata blocks skipped by length);
* frame headers: both blocking strategies, all block-size/sample-rate/
  sample-size codes, CRC-8 verified;
* subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32,
  wasted-bits shifts;
* Rice residuals: 4- and 5-bit parameter methods, any partition order,
  escape (verbatim) partitions;
* stereo decorrelation: independent, left/side, right/side, mid/side.

Format per the public FLAC format specification (RFC 9639).  The
encoder half emits a valid subset (verbatim / constant / fixed-order
subframes, optional left/side stereo, Rice partition order 0) so
round-trip tests exercise every decoder path against independently
constructed streams; it is a test fixture, not a production encoder.

Decode is plain-Python bit unpacking — fast enough for the clip-sized
payloads the multimodal stage handles per Arrow batch; at real audio
scale the distribution model (one task per file/clip) is what matters,
not single-clip codec speed.
"""

from __future__ import annotations

import struct

import numpy as np

_BLOCK_SIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_SAMPLE_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc_tables() -> tuple[list[int], list[int]]:
    # 256-entry tables for both frame CRCs (round-12, guide §1.2 step 2:
    # the bitwise loops were ~16% of a clip decode — profile in
    # OPTIMIZATION_r12.md).  Entries are exactly the 8-step bitwise
    # update applied to each byte value, so the per-byte table lookup
    # computes the identical remainder.
    t8, t16 = [], []
    for byte in range(256):
        c = byte
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t8.append(c)
        c = byte << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        t16.append(c)
    return t8, t16


_CRC8_TABLE, _CRC16_TABLE = _crc_tables()


def _crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (frame-header CRC)."""
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 (whole-frame CRC)."""
    crc = 0
    table = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFF00) ^ table[(crc >> 8) ^ b]
    return crc


class _Bits:
    """MSB-first bit reader over bytes."""

    def __init__(self, data: bytes, byte_pos: int = 0):
        self.data = data
        self.pos = byte_pos  # byte index
        self.bit = 0  # bits consumed within data[pos]

    def eof(self) -> bool:
        return self.pos >= len(self.data)

    def read(self, n: int) -> int:
        # one slice + big-int conversion per call (decode hot path)
        nbytes = (self.bit + n + 7) >> 3
        chunk = self.data[self.pos : self.pos + nbytes]
        if len(chunk) < nbytes:
            raise ValueError("FLAC: truncated stream")
        shift = (nbytes << 3) - self.bit - n
        out = (int.from_bytes(chunk, "big") >> shift) & ((1 << n) - 1)
        nb = self.bit + n
        self.pos += nb >> 3
        self.bit = nb & 7
        return out

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        # scan whole bytes for the terminating 1-bit instead of reading
        # bit-by-bit (Rice quotients dominate the residual decode)
        q = 0
        while True:
            if self.pos >= len(self.data):
                raise ValueError("FLAC: truncated stream")
            rest = self.data[self.pos] & ((1 << (8 - self.bit)) - 1)
            if rest == 0:
                q += 8 - self.bit
                self.bit = 0
                self.pos += 1
                continue
            zeros = (8 - self.bit) - rest.bit_length()
            q += zeros
            nb = self.bit + zeros + 1
            self.pos += nb >> 3
            self.bit = nb & 7
            return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1

    def read_rice(self, k: int) -> int:
        q = self.read_unary()
        v = (q << k) | self.read(k) if k else q
        return (v >> 1) ^ -(v & 1)  # unzigzag

    def read_rices(self, k: int, n: int) -> list[int]:
        """``n`` Rice codes in one tight loop (round-12): the per-sample
        ``read_rice`` → ``read_unary`` + ``read`` chain cost three
        method dispatches and repeated attribute loads per residual —
        the decode hot path.  Same bit consumption, same unzigzag,
        byte-for-byte identical values (pytest round-trips)."""
        data = self.data
        pos = self.pos
        bit = self.bit
        size = len(data)
        kmask = (1 << k) - 1
        out = []
        append = out.append
        for _ in range(n):
            q = 0
            while True:
                if pos >= size:
                    raise ValueError("FLAC: truncated stream")
                rest = data[pos] & ((1 << (8 - bit)) - 1)
                if rest == 0:
                    q += 8 - bit
                    bit = 0
                    pos += 1
                    continue
                zeros = (8 - bit) - rest.bit_length()
                q += zeros
                nb = bit + zeros + 1
                pos += nb >> 3
                bit = nb & 7
                break
            if k:
                nbytes = (bit + k + 7) >> 3
                chunk = data[pos : pos + nbytes]
                if len(chunk) < nbytes:
                    raise ValueError("FLAC: truncated stream")
                shift = (nbytes << 3) - bit - k
                v = (q << k) | (
                    (int.from_bytes(chunk, "big") >> shift) & kmask
                )
                nb = bit + k
                pos += nb >> 3
                bit = nb & 7
            else:
                v = q
            append((v >> 1) ^ -(v & 1))  # unzigzag
        self.pos = pos
        self.bit = bit
        return out

    def read_coded_number(self) -> int:
        """The frame header's UTF-8-style coded frame/sample number
        (up to 36 bits over ≤7 bytes)."""
        b0 = self.read(8)
        if b0 < 0x80:
            return b0
        n_follow = 0
        mask = 0x40
        while b0 & mask:
            n_follow += 1
            mask >>= 1
        if n_follow < 1 or n_follow > 6:
            raise ValueError("FLAC: bad coded number lead byte")
        val = b0 & (mask - 1)
        for _ in range(n_follow):
            nb = self.read(8)
            if nb & 0xC0 != 0x80:
                raise ValueError("FLAC: bad coded number continuation")
            val = (val << 6) | (nb & 0x3F)
        return val


def _read_streaminfo(data: bytes) -> tuple[dict, int]:
    """Parse the metadata section; return (streaminfo, frame byte offset)."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    info: dict | None = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC: truncated metadata")
        hdr = data[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        (size,) = struct.unpack(">I", b"\x00" + data[pos + 1 : pos + 4])
        block = data[pos + 4 : pos + 4 + size]
        if btype == 0:  # STREAMINFO
            if size < 34:
                raise ValueError("FLAC: short STREAMINFO")
            bits = _Bits(block)
            bits.read(16)  # min block size
            bits.read(16)  # max block size
            bits.read(24)  # min frame size
            bits.read(24)  # max frame size
            sr = bits.read(20)
            ch = bits.read(3) + 1
            bps = bits.read(5) + 1
            total = bits.read(36)
            info = {
                "sample_rate": sr,
                "channels": ch,
                "bits_per_sample": bps,
                "total_samples": total,
            }
        pos += 4 + size
        if last:
            break
    if info is None:
        raise ValueError("FLAC: missing STREAMINFO")
    return info, pos


def _read_residual(bits: _Bits, block_size: int, order: int) -> list[int]:
    method = bits.read(2)
    if method > 1:
        raise ValueError("FLAC: reserved residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = bits.read(4)
    n_part = 1 << porder
    if block_size % n_part:
        raise ValueError("FLAC: partition count does not divide block size")
    out: list[int] = []
    for p in range(n_part):
        n = (block_size >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC: predictor order exceeds first partition")
        k = bits.read(pbits)
        if k == escape:
            raw_bits = bits.read(5)
            out.extend(
                bits.read_signed(raw_bits) if raw_bits else 0 for _ in range(n)
            )
        else:
            out.extend(bits.read_rices(k, n))
    return out


def _read_subframe(bits: _Bits, block_size: int, bps: int) -> list[int]:
    if bits.read(1):
        raise ValueError("FLAC: bad subframe padding bit")
    stype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.read_unary() + 1
    eff = bps - wasted
    if stype == 0:  # CONSTANT
        v = bits.read_signed(eff)
        samples = [v] * block_size
    elif stype == 1:  # VERBATIM
        samples = [bits.read_signed(eff) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        warm = [bits.read_signed(eff) for _ in range(order)]
        resid = _read_residual(bits, block_size, order)
        samples = list(warm)
        # specialized per-order reconstruction in local variables
        # (round-12): the generic coefficient genexpr was ~20% of a clip
        # decode; each branch is the same integer polynomial spelled out
        append = samples.append
        if order == 0:
            samples.extend(resid)
        elif order == 1:
            a = samples[-1]
            for r in resid:
                a = a + r
                append(a)
        elif order == 2:
            a, b = samples[-1], samples[-2]
            for r in resid:
                v = 2 * a - b + r
                append(v)
                b = a
                a = v
        elif order == 3:
            a, b, c3 = samples[-1], samples[-2], samples[-3]
            for r in resid:
                v = 3 * a - 3 * b + c3 + r
                append(v)
                c3 = b
                b = a
                a = v
        else:
            a, b, c3, d = samples[-1], samples[-2], samples[-3], samples[-4]
            for r in resid:
                v = 4 * a - 6 * b + 4 * c3 - d + r
                append(v)
                d = c3
                c3 = b
                b = a
                a = v
    elif stype >= 32:  # LPC order 1-32
        order = (stype & 0x1F) + 1
        warm = [bits.read_signed(eff) for _ in range(order)]
        prec = bits.read(4)
        if prec == 0xF:
            raise ValueError("FLAC: invalid LPC precision")
        prec += 1
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        resid = _read_residual(bits, block_size, order)
        samples = list(warm)
        for r in resid:
            acc = sum(c * samples[-1 - i] for i, c in enumerate(coefs))
            samples.append((acc >> shift) + r)
    else:
        raise ValueError(f"FLAC: reserved subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a FLAC payload to ``(sample_rate, samples)``, samples
    shaped ``(n_frames, n_channels)`` as int32 (int32 covers every FLAC
    sample size; 16-bit content fits int16 losslessly if the caller
    narrows).  Same contract as ``audio_codec.decode_wav``."""
    info, pos = _read_streaminfo(bytes(data))
    bits = _Bits(bytes(data), pos)
    channels: list[list[int]] = [[] for _ in range(info["channels"])]
    while not bits.eof():
        frame_start = bits.pos
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC: lost frame sync")
        if bits.read(1):
            raise ValueError("FLAC: bad frame reserved bit")
        bits.read(1)  # blocking strategy (number semantics only)
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        chan_code = bits.read(4)
        ss_code = bits.read(3)
        if bits.read(1):
            raise ValueError("FLAC: bad frame header reserved bit")
        bits.read_coded_number()
        if bs_code == 0:
            raise ValueError("FLAC: reserved block size code")
        elif bs_code == 6:
            block_size = bits.read(8) + 1
        elif bs_code == 7:
            block_size = bits.read(16) + 1
        else:
            block_size = _BLOCK_SIZES[bs_code]
        if sr_code == 0:
            pass  # from STREAMINFO
        elif sr_code in _SAMPLE_RATES:
            pass  # table value; STREAMINFO is authoritative here
        elif sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        else:
            raise ValueError("FLAC: invalid sample rate code")
        bps = info["bits_per_sample"] if ss_code == 0 else _SAMPLE_SIZES.get(ss_code)
        if bps is None:
            raise ValueError("FLAC: reserved sample size code")
        # header CRC-8 covers sync..crc-exclusive; reader is byte-aligned here
        bits.align()
        header_bytes = bits.data[frame_start : bits.pos]
        if bits.read(8) != _crc8(header_bytes):
            raise ValueError("FLAC: frame header CRC mismatch")

        if chan_code <= 7:
            n_ch = chan_code + 1
            if n_ch != info["channels"]:
                raise ValueError("FLAC: frame/STREAMINFO channel mismatch")
            subs = [_read_subframe(bits, block_size, bps) for _ in range(n_ch)]
        elif chan_code in (8, 9, 10):
            if info["channels"] != 2:
                raise ValueError("FLAC: stereo decorrelation in non-stereo stream")
            # the side channel carries one extra bit
            if chan_code == 8:  # left/side
                left = _read_subframe(bits, block_size, bps)
                side = _read_subframe(bits, block_size, bps + 1)
                right = [l - s for l, s in zip(left, side)]
                subs = [left, right]
            elif chan_code == 9:  # right/side
                side = _read_subframe(bits, block_size, bps + 1)
                right = _read_subframe(bits, block_size, bps)
                left = [r + s for r, s in zip(right, side)]
                subs = [left, right]
            else:  # mid/side
                mid = _read_subframe(bits, block_size, bps)
                side = _read_subframe(bits, block_size, bps + 1)
                left = [(((m << 1) | (s & 1)) + s) >> 1 for m, s in zip(mid, side)]
                subs = [left, [l - s for l, s in zip(left, side)]]
        else:
            raise ValueError("FLAC: reserved channel assignment")

        bits.align()
        frame_bytes = bits.data[frame_start : bits.pos]
        if bits.read(16) != _crc16(frame_bytes):
            raise ValueError("FLAC: frame CRC mismatch")
        for ch, s in zip(channels, subs):
            ch.extend(s)
        total = info["total_samples"]
        if total and len(channels[0]) >= total:
            break
    total = info["total_samples"]
    arr = np.array(channels, dtype=np.int64).T
    if total:
        arr = arr[:total]
    lo, hi = -(2 ** (info["bits_per_sample"] - 1)), 2 ** (info["bits_per_sample"] - 1) - 1
    if arr.size and (arr.min() < lo or arr.max() > hi):
        raise ValueError("FLAC: decoded sample out of range for declared depth")
    return info["sample_rate"], arr.astype(np.int32)


# ------------------------------------------------------------ encoder
# (fixture side: valid subset so tests round-trip against independently
# constructed streams)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        if n and not 0 <= value < (1 << n):
            raise ValueError("bit overflow")
        self.acc = (self.acc << n) | value
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_signed(self, value: int, n: int) -> None:
        self.write(value & ((1 << n) - 1), n)

    def write_unary(self, q: int) -> None:
        for _ in range(q):
            self.write(0, 1)
        self.write(1, 1)

    def write_rice(self, value: int, k: int) -> None:
        z = (value << 1) if value >= 0 else ((-value) << 1) - 1
        self.write_unary(z >> k)
        if k:
            self.write(z & ((1 << k) - 1), k)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _utf8_number(n: int) -> bytes:
    """Generalized UTF-8-style coded number (RFC 9639 §9.1.5): k-byte
    form carries (7-k) + 6(k-1) payload bits, k ≤ 7 (36 bits)."""
    if n < 0x80:
        return bytes([n])
    for k in range(2, 8):
        if n < (1 << ((7 - k) + 6 * (k - 1))):
            break
    else:
        raise ValueError("coded number exceeds 36 bits")
    conts = [0x80 | ((n >> (6 * i)) & 0x3F) for i in range(k - 2, -1, -1)]
    lead = ((0xFF << (8 - k)) & 0xFF) | (n >> (6 * (k - 1)))
    return bytes([lead]) + bytes(conts)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    bits_per_sample: int = 16,
    block_size: int = 256,
    subframe: str = "verbatim",
    stereo_mode: str = "independent",
    rice_k: int = 4,
    partition_order: int = 0,
    escape_partitions: bool = False,
) -> bytes:
    """Encode int samples (``(n,)`` or ``(n, ch)``) as a valid FLAC
    stream using a fixed strategy: ``subframe`` in {"verbatim",
    "constant-or-verbatim", "fixed1", "fixed2", "lpc2"}, ``stereo_mode``
    in {"independent", "left-side"}; predictor residuals use
    ``2**partition_order`` Rice partitions (must divide the block size),
    or escape-coded raw partitions when ``escape_partitions``.  Lossless
    by construction — the test fixture for every decoder path."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    out = bytearray(b"fLaC")
    si = _BitWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(ch - 1, 3)
    si.write(bits_per_sample - 1, 5)
    si.write(n, 36)
    streaminfo = si.bytes() + bytes(16)  # zero MD5 (unset is legal)
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo

    def write_residual(w: _BitWriter, resid: list[int], order: int, bs: int) -> None:
        po = partition_order
        if bs % (1 << po) or (bs >> po) <= order:
            po = 0  # final short block: fall back to one partition
        w.write(0, 2)  # rice method 0 (4-bit params)
        w.write(po, 4)
        pos = 0
        for p in range(1 << po):
            n_p = (bs >> po) - (order if p == 0 else 0)
            part = resid[pos : pos + n_p]
            pos += n_p
            if escape_partitions:
                w.write(0xF, 4)  # escape
                raw_bits = max(
                    (abs(r).bit_length() + 1 for r in part), default=1
                )
                w.write(raw_bits, 5)
                for r in part:
                    w.write_signed(r, raw_bits)
            else:
                w.write(rice_k, 4)
                for r in part:
                    w.write_rice(r, rice_k)

    def write_subframe(w: _BitWriter, data: np.ndarray, bps: int) -> None:
        vals = [int(v) for v in data]
        w.write(0, 1)
        if subframe == "constant-or-verbatim" and len(set(vals)) == 1:
            w.write(0, 6)
            w.write(0, 1)
            w.write_signed(vals[0], bps)
            return
        if subframe in ("fixed1", "fixed2") and len(vals) > 2:
            order = 1 if subframe == "fixed1" else 2
            w.write(8 + order, 6)
            w.write(0, 1)  # no wasted bits
            for v in vals[:order]:
                w.write_signed(v, bps)
            coefs = _FIXED_COEFS[order]
            resid = [
                vals[i] - sum(c * vals[i - 1 - j] for j, c in enumerate(coefs))
                for i in range(order, len(vals))
            ]
            write_residual(w, resid, order, len(vals))
            return
        if subframe == "lpc2" and len(vals) > 2:
            # order-2 LPC approximating the fixed-2 predictor through a
            # real quantized-coefficient path: coefs [2047, -1024],
            # precision 12, shift 10 → pred = (2047·s1 − 1024·s2) >> 10
            order, prec, shift = 2, 12, 10
            coefs = [2047, -1024]
            w.write(32 + (order - 1), 6)
            w.write(0, 1)
            for v in vals[:order]:
                w.write_signed(v, bps)
            w.write(prec - 1, 4)
            w.write_signed(shift, 5)
            for c in coefs:
                w.write_signed(c, prec)
            resid = [
                vals[i]
                - (
                    sum(c * vals[i - 1 - j] for j, c in enumerate(coefs))
                    >> shift
                )
                for i in range(order, len(vals))
            ]
            write_residual(w, resid, order, len(vals))
            return
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        for v in vals:
            w.write_signed(v, bps)

    for f0 in range(0, n, block_size):
        blk = arr[f0 : f0 + block_size]
        bs = blk.shape[0]
        frame_no = f0 // block_size
        w = _BitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed-blocksize strategy
        w.write(7, 4)  # 16-bit block size value follows
        w.write(0, 4)  # sample rate from STREAMINFO
        use_ls = stereo_mode == "left-side" and ch == 2
        w.write(8 if use_ls else ch - 1, 4)
        w.write(0, 3)  # sample size from STREAMINFO
        w.write(0, 1)
        for b in _utf8_number(frame_no):
            w.write(b, 8)
        w.write(bs - 1, 16)
        w.align()
        hdr = w.bytes()
        w2 = _BitWriter()
        for b in hdr:
            w2.write(b, 8)
        w2.write(_crc8(hdr), 8)
        if use_ls:
            left = blk[:, 0]
            side = blk[:, 0] - blk[:, 1]
            write_subframe(w2, left, bits_per_sample)
            write_subframe(w2, side, bits_per_sample + 1)
        else:
            for c in range(ch):
                write_subframe(w2, blk[:, c], bits_per_sample)
        w2.align()
        frame = w2.bytes()
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)
