"""MP3 Layer-III structure codec (functions/mp3_codec.py): header and
side-info round-trips, CRC protection, bit-reservoir resolution, split
points and Xing.

Fixtures are CONSTRUCTED, not decoded-and-trusted: the module ships the
serializer twin (build_frame_header / write_side_info / BitWriter), so
every parse is checked against the exact field vector that produced the
bytes — including randomized vectors via hypothesis."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from buildkite_logs_parquet_spark.functions.mp3_codec import (
    BitReader,
    BitWriter,
    FrameHeader,
    GranuleInfo,
    SideInfo,
    build_frame_header,
    crc16_mp3,
    parse_frame_header,
    parse_side_info,
    parse_xing,
    walk_frames,
    write_side_info,
)


def _mk_header(**kw) -> FrameHeader:
    return parse_frame_header(build_frame_header(**kw))


def _silence_side_info(hdr: FrameHeader, main_data_begin: int = 0) -> SideInfo:
    si = SideInfo(main_data_begin=main_data_begin)
    si.scfsi = tuple((0, 0, 0, 0) for _ in range(hdr.n_channels))
    si.granules = [
        [GranuleInfo() for _ in range(hdr.n_channels)]
        for _ in range(hdr.n_granules)
    ]
    return si


def _mk_frame(
    *,
    main_data_begin: int = 0,
    part2_3: int = 0,
    protected: bool = False,
    corrupt_crc: bool = False,
    **hdr_kw,
) -> bytes:
    hdr_bytes = build_frame_header(protected=protected, **hdr_kw)
    hdr = parse_frame_header(hdr_bytes)
    si = _silence_side_info(hdr, main_data_begin)
    for row in si.granules:
        for g in row:
            g.part2_3_length = part2_3
    si_bytes = write_side_info(si, hdr)
    body = bytearray(hdr_bytes)
    if protected:
        crc = crc16_mp3(hdr_bytes[2:4] + si_bytes)
        if corrupt_crc:
            crc ^= 1
        body += crc.to_bytes(2, "big")
    body += si_bytes
    pad = hdr.frame_bytes - len(body)
    assert pad >= 0
    body += bytes(pad)
    return bytes(body)


class TestBitIO:
    @given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 2**12 - 1)), max_size=40))
    @settings(max_examples=60, deadline=None)
    def test_writer_reader_roundtrip(self, fields):
        fields = [(max(n, v.bit_length()) or 1, v) for n, v in fields]
        w = BitWriter()
        for n, v in fields:
            w.write(v, n)
        r = BitReader(w.to_bytes())
        assert [r.read(n) for n, _ in fields] == [v for _, v in fields]


class TestHeader:
    def test_mpeg1_stereo_128_44100(self):
        hdr = _mk_header(bitrate_kbps=128, sample_rate=44100, channel_mode=0)
        assert (hdr.version, hdr.layer, hdr.n_channels) == ("1", 3, 2)
        assert hdr.frame_bytes == 144 * 128000 // 44100  # 417
        assert (hdr.samples, hdr.side_info_bytes, hdr.n_granules) == (1152, 32, 2)

    def test_padding_adds_one_byte(self):
        a = _mk_header(bitrate_kbps=128, sample_rate=44100)
        b = _mk_header(bitrate_kbps=128, sample_rate=44100, padding=True)
        assert b.frame_bytes == a.frame_bytes + 1

    def test_lsf_mono_geometry(self):
        hdr = _mk_header(lsf=True, bitrate_kbps=64, sample_rate=22050)
        assert (hdr.version, hdr.samples) == ("2", 576)
        assert (hdr.side_info_bytes, hdr.n_granules) == (9, 1)
        assert hdr.frame_bytes == 72 * 64000 // 22050

    def test_mpeg25(self):
        hdr = _mk_header(lsf=True, version25=True, bitrate_kbps=32, sample_rate=11025)
        assert hdr.version == "2.5"

    def test_rejects_garbage(self):
        for bad in (b"\x00\x00\x00\x00", b"\xff\xe9\x90\x00", b"\xff\xfb\xf0\x00"):
            with pytest.raises(ValueError):
                parse_frame_header(bad)


def _granule_strategy(lsf: bool):
    long_block = st.fixed_dictionaries(
        {
            "part2_3_length": st.integers(0, 4095),
            "big_values": st.integers(0, 511),
            "global_gain": st.integers(0, 255),
            "scalefac_compress": st.integers(0, 511 if lsf else 15),
            "window_switching": st.just(False),
            "table_select": st.tuples(*[st.integers(0, 31)] * 3),
            "region0_count": st.integers(0, 15),
            "region1_count": st.integers(0, 7),
            "preflag": st.booleans(),
            "scalefac_scale": st.booleans(),
            "count1table_select": st.integers(0, 1),
        }
    )
    short_block = st.fixed_dictionaries(
        {
            "part2_3_length": st.integers(0, 4095),
            "big_values": st.integers(0, 511),
            "global_gain": st.integers(0, 255),
            "scalefac_compress": st.integers(0, 511 if lsf else 15),
            "window_switching": st.just(True),
            "block_type": st.integers(1, 3),
            "mixed_block": st.booleans(),
            "table_select": st.tuples(st.integers(0, 31), st.integers(0, 31)),
            "subblock_gain": st.tuples(*[st.integers(0, 7)] * 3),
            "preflag": st.booleans(),
            "scalefac_scale": st.booleans(),
            "count1table_select": st.integers(0, 1),
        }
    )
    return st.one_of(long_block, short_block)


def _si_from_dicts(hdr, mdb, priv, scfsi, gdicts) -> SideInfo:
    si = SideInfo(main_data_begin=mdb, private_bits=priv)
    si.scfsi = tuple(tuple(s) for s in scfsi[: hdr.n_channels])
    si.granules = [
        [GranuleInfo(**gdicts[gr][ch]) for ch in range(hdr.n_channels)]
        for gr in range(hdr.n_granules)
    ]
    return si


class TestSideInfoRoundTrip:
    """parse(write(fields)) == fields for randomized field vectors, in
    all four geometry variants (MPEG-1/LSF × mono/stereo)."""

    @pytest.mark.parametrize(
        "lsf,channel_mode", [(False, 3), (False, 0), (True, 3), (True, 0)]
    )
    def test_roundtrip_randomized(self, lsf, channel_mode):
        hdr = _mk_header(
            lsf=lsf,
            bitrate_kbps=64,
            sample_rate=22050 if lsf else 44100,
            channel_mode=channel_mode,
        )

        @given(
            mdb=st.integers(0, 255 if lsf else 511),
            priv=st.integers(0, 1),
            scfsi=st.lists(
                st.tuples(*[st.integers(0, 1)] * 4), min_size=2, max_size=2
            ),
            gdicts=st.lists(
                st.lists(_granule_strategy(lsf), min_size=2, max_size=2),
                min_size=2,
                max_size=2,
            ),
        )
        @settings(max_examples=40, deadline=None)
        def run(mdb, priv, scfsi, gdicts):
            if lsf:
                scfsi = [(0, 0, 0, 0)] * 2
            si = _si_from_dicts(hdr, mdb, priv, scfsi, gdicts)
            got = parse_side_info(write_side_info(si, hdr), hdr)
            assert got.main_data_begin == si.main_data_begin
            assert got.private_bits == si.private_bits
            assert got.scfsi == si.scfsi
            for gr in range(hdr.n_granules):
                for ch in range(hdr.n_channels):
                    a, b = got.granules[gr][ch], si.granules[gr][ch]
                    for f in (
                        "part2_3_length big_values global_gain "
                        "scalefac_compress window_switching table_select "
                        "preflag scalefac_scale count1table_select"
                    ).split():
                        if lsf and f == "preflag":
                            continue  # not in the LSF bitstream
                        assert getattr(a, f) == getattr(b, f), f
                    if b.window_switching:
                        assert a.block_type == b.block_type
                        assert a.mixed_block == b.mixed_block
                        assert a.subblock_gain == b.subblock_gain
                    else:
                        assert a.region0_count == b.region0_count
                        assert a.region1_count == b.region1_count

        run()

    def test_bit_budget_is_exact(self):
        # the parse asserts internally that it consumed exactly the
        # side-info byte budget (17/32 MPEG-1, 9/17 LSF) — drive all four
        for lsf, mode, expect in [
            (False, 3, 17), (False, 0, 32), (True, 3, 9), (True, 0, 17),
        ]:
            hdr = _mk_header(
                lsf=lsf, bitrate_kbps=64,
                sample_rate=22050 if lsf else 44100, channel_mode=mode,
            )
            si = _silence_side_info(hdr)
            assert len(write_side_info(si, hdr)) == expect
            parse_side_info(write_side_info(si, hdr), hdr)  # no assert trip


class TestCRC:
    def test_crc_known_properties(self):
        # init state: empty message leaves the register at init
        assert crc16_mp3(b"") == 0xFFFF
        # linearity sanity: differs when any protected bit flips
        base = crc16_mp3(b"\x90\x00" + bytes(32))
        flip = crc16_mp3(b"\x90\x01" + bytes(32))
        assert base != flip

    def test_protected_frame_verifies_and_corruption_fails(self):
        ok = _mk_frame(protected=True, bitrate_kbps=128, sample_rate=44100)
        bad = _mk_frame(
            protected=True, corrupt_crc=True, bitrate_kbps=128, sample_rate=44100
        )
        assert walk_frames(ok)[0].crc_ok is True
        assert walk_frames(bad)[0].crc_ok is False

    def test_unprotected_frame_has_null_verdict(self):
        f = walk_frames(_mk_frame(bitrate_kbps=128, sample_rate=44100))[0]
        assert f.crc_ok is None and f.crc_stored is None


class TestReservoirAndSplitPoints:
    def test_stream_walk_offsets_and_resolution(self):
        # frame sizes: 417 bytes at 128kbps/44100 stereo; region size
        # = 417 - 4 - 32 = 381 main-data bytes per frame
        f0 = _mk_frame(main_data_begin=0, part2_3=100, channel_mode=0,
                       bitrate_kbps=128, sample_rate=44100)
        f1 = _mk_frame(main_data_begin=200, part2_3=64, channel_mode=0,
                       bitrate_kbps=128, sample_rate=44100)
        f2 = _mk_frame(main_data_begin=0, part2_3=0, channel_mode=0,
                       bitrate_kbps=128, sample_rate=44100)
        frames = walk_frames(f0 + f1 + f2)
        assert [f.offset for f in frames] == [0, 417, 834]
        region = 417 - 4 - 32
        assert [f.main_data_region_bytes for f in frames] == [region] * 3
        # reservoir: frame1 points 200 bytes back INTO frame0's region
        assert frames[0].logical_start_byte == 0
        assert frames[1].logical_start_byte == region - 200
        assert frames[2].logical_start_byte == 2 * region
        assert [f.resolved for f in frames] == [True, True, True]
        assert [f.is_split_point for f in frames] == [True, False, True]
        assert frames[1].part2_3_bits == 64 * 4  # 2 granules × 2 channels

    def test_cut_mid_reservoir_is_unresolvable(self):
        # a stream that BEGINS with a back-pointing frame cannot be
        # decoded from its first frame — the chunker must skip ahead
        head = _mk_frame(main_data_begin=64, channel_mode=0,
                         bitrate_kbps=128, sample_rate=44100)
        tail = _mk_frame(main_data_begin=0, channel_mode=0,
                         bitrate_kbps=128, sample_rate=44100)
        frames = walk_frames(head + tail)
        assert frames[0].resolved is False
        assert frames[0].logical_start_byte is None
        assert frames[1].resolved is True

    def test_resync_over_junk_and_id3(self):
        frame = _mk_frame(bitrate_kbps=128, sample_rate=44100)
        id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10)
        junk = b"garbage!"
        id3v1 = b"TAG" + bytes(125)
        frames = walk_frames(id3 + junk + frame + frame + id3v1)
        assert len(frames) == 2
        assert frames[0].offset == len(id3) + len(junk)

    def test_no_frames_raises(self):
        with pytest.raises(ValueError):
            walk_frames(b"\x00" * 4096)


class TestXing:
    def test_xing_header_parsed(self):
        hdr_bytes = build_frame_header(bitrate_kbps=128, sample_rate=44100,
                                       channel_mode=0)
        hdr = parse_frame_header(hdr_bytes)
        si = write_side_info(_silence_side_info(hdr), hdr)
        payload = b"Xing" + (0x3).to_bytes(4, "big")
        payload += (321).to_bytes(4, "big") + (123456).to_bytes(4, "big")
        body = hdr_bytes + si + payload
        body += bytes(hdr.frame_bytes - len(body))
        f = walk_frames(body)[0]
        x = parse_xing(body, f)
        assert x == {"tag": "Xing", "n_frames": 321, "n_bytes": 123456,
                     "has_toc": False, "quality": None}

    def test_absent_xing_is_none(self):
        data = _mk_frame(bitrate_kbps=128, sample_rate=44100)
        assert parse_xing(data, walk_frames(data)[0]) is None


class TestResyncGapInvalidatesReservoir:
    def test_frames_after_gap_are_unresolved_until_empty_reservoir(self):
        """A corrupt/skipped frame drops its main-data bytes out of the
        logical stream: back pointers across the gap are untrustworthy,
        so the walker must NOT report resolved=True for them (the
        round-6 review caught it doing exactly that)."""
        f0 = _mk_frame(main_data_begin=0, channel_mode=0,
                       bitrate_kbps=128, sample_rate=44100)
        f1 = bytearray(_mk_frame(main_data_begin=0, channel_mode=0,
                                 bitrate_kbps=128, sample_rate=44100))
        f1[0] = 0x00  # destroy frame 1's sync — the walker skips it
        f2 = _mk_frame(main_data_begin=100, channel_mode=0,
                       bitrate_kbps=128, sample_rate=44100)
        f3 = _mk_frame(main_data_begin=0, channel_mode=0,
                       bitrate_kbps=128, sample_rate=44100)
        frames = walk_frames(f0 + bytes(f1) + f2 + f3)
        assert len(frames) == 3  # f1 skipped
        # f2's 100 reservoir bytes physically live in the DESTROYED
        # frame: must be unresolved, not silently wrong
        assert frames[1].resolved is False
        assert frames[1].logical_start_byte is None
        # the next empty-reservoir frame restarts cleanly
        assert frames[2].resolved is True and frames[2].is_split_point

    def test_contiguous_stream_unaffected_by_gap_logic(self):
        fs = b"".join(
            _mk_frame(main_data_begin=0 if i == 0 else 50, channel_mode=0,
                      bitrate_kbps=128, sample_rate=44100)
            for i in range(3)
        )
        frames = walk_frames(fs)
        assert all(f.resolved for f in frames)

    def test_id3v2_footer_flag_handled(self):
        # the shared audio_codec sizing handles the v2.4 footer (+10);
        # a local re-implementation without it once walked into the tag
        frame = _mk_frame(bitrate_kbps=128, sample_rate=44100)
        id3 = bytearray(b"ID3\x04\x00\x10\x00\x00\x00\x0a")  # footer flag
        id3 += bytes(10 + 10)  # body + footer
        frames = walk_frames(bytes(id3) + frame)
        assert frames[0].offset == len(id3)


def test_bitreader_overread_raises():
    """Over-reading the bit buffer must raise, never zero-fill — a
    truncated SPS/side-info otherwise 'parses' to fabricated values
    (round-6 review finding, fixed at the shared BitReader)."""
    r = BitReader(b"\xff")
    assert r.read(8) == 0xFF
    with pytest.raises(ValueError):
        r.read(1)
