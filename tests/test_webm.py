"""EBML/Matroska walker: vint forms, signed relative timestamps,
keyframe flags, corruption postures."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from precios_nexo_sperant_etl_spark.operators.multimodal import (
    ebml_vint, encode_webm_blocks, parse_webm, read_ebml_vint)


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2 ** 49))
def test_vint_roundtrip(v):
    b = ebml_vint(v)
    out, pos = read_ebml_vint(b, 0)
    assert out == v and pos == len(b)


def test_vint_widths():
    assert len(ebml_vint(126)) == 1          # < 127 fits one byte
    assert len(ebml_vint(127)) == 2          # all-ones reserved
    assert len(ebml_vint(16382)) == 2
    with pytest.raises(ValueError):
        read_ebml_vint(b"\x00\x01", 0)


def test_blocks_and_negative_rel_ts():
    clusters = [(0, [(0, True, b"\x10aa"), (40, False, b"\x20b")]),
                (1000, [(-20, True, b"\x30c")])]
    r = parse_webm(encode_webm_blocks(clusters, duration_ts=1000))
    assert [b["abs_ts"] for b in r["blocks"]] == [0, 40, 980]
    assert [b["key"] for b in r["blocks"]] == [True, False, True]
    assert r["n_clusters"] == 2 and r["track"] == 1


def test_bad_doctype_and_overrun():
    w = bytearray(encode_webm_blocks([(0, [(0, True, b"x")])]))
    i = bytes(w).index(b"webm")
    w[i:i + 4] = b"ogg\x00"
    with pytest.raises(ValueError):
        parse_webm(bytes(w))
    good = encode_webm_blocks([(0, [(0, True, b"x")])])
    with pytest.raises(ValueError):
        parse_webm(good[: len(good) - 2])


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 10 ** 6),
              st.lists(st.tuples(st.integers(-32768, 32767),
                                 st.booleans(),
                                 st.binary(min_size=1, max_size=20)),
                       min_size=1, max_size=5)),
    min_size=1, max_size=4))
def test_property_cluster_roundtrip(clusters):
    r = parse_webm(encode_webm_blocks(clusters))
    want = [(c + rel, k, p[0]) for c, bl in clusters
            for rel, k, p in bl]
    got = [(b["abs_ts"], b["key"], b["first_byte"]) for b in r["blocks"]]
    assert got == want
    assert r["n_clusters"] == len(clusters)


# --- H.264 Annex-B / SPS ----------------------------------------------------

def test_h264_sps_dims_and_census():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_h264_annexb, parse_h264_annexb)
    for (w, h) in [(1920, 1080), (1280, 720), (354, 288), (16, 16),
                   (1918, 1078), (640, 360)]:
        r = parse_h264_annexb(encode_h264_annexb(w, h, n_idr=2,
                                                 n_nonidr=3))
        assert (r["width"], r["height"]) == (w, h)
        assert r["nal_census"][7] == 1 and r["nal_census"][5] == 2
        assert r["nal_census"][1] == 3 and r["profile_idc"] == 66


def test_h264_emulation_prevention_protects_payload_start_codes():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        _ep_escape, _ep_unescape)
    for raw in (b"\x00\x00\x01", b"\x00\x00\x00", b"\x00\x00\x02",
                b"\x00\x00\x03", b"a\x00\x00\x00\x00\x01b",
                b"\x00" * 8):
        esc = _ep_escape(raw)
        assert b"\x00\x00\x01" not in esc
        assert b"\x00\x00\x00" not in esc
        assert _ep_unescape(esc) == raw


def test_h264_missing_sps_raises():
    import pytest
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_h264_annexb, parse_h264_annexb)
    s = bytearray(encode_h264_annexb(64, 64))
    # overwrite the SPS NAL type (first NAL after the 4-byte start code)
    s[4] = (3 << 5) | 9                      # AU delimiter instead
    with pytest.raises(ValueError):
        parse_h264_annexb(bytes(s))
    with pytest.raises(ValueError):
        parse_h264_annexb(b"no start codes here")


def test_h264_slice_headers_parse_bit_exactly():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_h264_annexb, parse_h264_slice_headers)
    rows = parse_h264_slice_headers(
        encode_h264_annexb(640, 360, n_idr=3, n_nonidr=4))
    assert len(rows) == 7
    idr = [r for r in rows if r["nal_type"] == 5]
    non = [r for r in rows if r["nal_type"] == 1]
    assert [r["idr_pic_id"] for r in idr] == [0, 1, 2]
    assert all(r["frame_num"] == 0 and r["slice_type"] == 7 for r in idr)
    assert [r["frame_num"] for r in non] == [1, 2, 3, 4]
    assert all(r["slice_type"] == 5 and r["idr_pic_id"] is None
               for r in non)
    # qp = 26 + (idx % 5) - 2; deblock toggles on odd idx with fixed
    # alpha/beta on the enabled slices
    for grp in (idr, non):
        for i, r in enumerate(grp):
            assert r["slice_qp"] == 26 + (i % 5) - 2
            assert r["deblock_idc"] == i % 2
            want = (0, 0) if i % 2 == 1 else (4, -2)
            assert (r["alpha_offset"], r["beta_offset"]) == want


def test_h264_slice_before_pps_raises():
    import pytest

    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_h264_annexb, parse_h264_slice_headers)
    s = encode_h264_annexb(64, 64)
    # strip SPS+PPS NALs: find the SEI start and keep from there
    sei = s.index(b"\x00\x00\x01\x06")
    with pytest.raises(ValueError, match="slice before SPS/PPS"):
        parse_h264_slice_headers(s[sei:])


def test_h264_se_golomb_roundtrip():
    from precios_nexo_sperant_etl_spark.operators.bitio import (
        MsbReader, MsbWriter)
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        _put_se, _rbsp_trailing, _se)
    vals = [0, 1, -1, 2, -2, 7, -7, 120, -120]
    w = MsbWriter()
    for v in vals:
        _put_se(w, v)
    r = MsbReader(_rbsp_trailing(w))
    assert [_se(r) for _ in vals] == vals


def test_av1_obu_roundtrip_all_profiles():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_av1_obu_stream, parse_av1_obu_stream)
    for prof, (sx, sy) in ((0, (1, 1)), (1, (0, 0)), (2, (1, 0))):
        r = parse_av1_obu_stream(
            encode_av1_obu_stream(prof, 12, 354, 288, [10, 77]))
        assert (r["profile"], r["level"]) == (prof, 12)
        assert (r["max_width"], r["max_height"]) == (354, 288)
        assert (r["subsampling_x"], r["subsampling_y"]) == (sx, sy)
        assert r["obu_census"] == {2: 1, 1: 1, 6: 2}
        assert r["frame_bytes"] == 87


def test_av1_leb128_multibyte_sizes():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_av1_obu_stream, parse_av1_obu_stream)
    # a frame payload over 127 bytes forces a 2-byte leb128 size
    r = parse_av1_obu_stream(
        encode_av1_obu_stream(0, 8, 64, 64, [300]))
    assert r["frame_bytes"] == 300 and r["n_obus"] == 3


def test_av1_corruption_is_named():
    import pytest

    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_av1_obu_stream, parse_av1_obu_stream)
    s = bytearray(encode_av1_obu_stream(0, 8, 64, 64, [10]))
    s[0] |= 0x80                              # forbidden bit
    with pytest.raises(ValueError, match="forbidden"):
        parse_av1_obu_stream(bytes(s))
    with pytest.raises(ValueError, match="no sequence header"):
        parse_av1_obu_stream(b"")


# ---------------------------------------------------------------------------
# H.264 I_PCM slice-data decode (round 10): the lossless subset that a
# from-spec implementation can decode bit-honestly — raw byte-aligned
# 4:2:0 samples behind mb_type 25, §7.3.5. One layer past the r9
# slice-header walk; transform-coded residuals remain the documented
# codec-library boundary.
# ---------------------------------------------------------------------------

def test_h264_ipcm_lossless_roundtrip():
    import random

    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_h264_ipcm, encode_h264_ipcm, parse_h264_annexb,
        parse_h264_slice_headers)
    rng = random.Random(5)
    for w, h in ((16, 16), (48, 32), (64, 64)):
        luma = bytes(rng.randrange(256) for _ in range(w * h))
        cb = bytes(rng.randrange(256) for _ in range(w * h // 4))
        cr = bytes(rng.randrange(256) for _ in range(w * h // 4))
        s = encode_h264_ipcm(luma, cb, cr, w, h)
        d = decode_h264_ipcm(s)
        assert (d["luma"], d["cb"], d["cr"]) == (luma, cb, cr)
        assert d["width"] == w and d["height"] == h
        assert d["n_macroblocks"] == (w // 16) * (h // 16)
        # the stream is conformant Annex-B for the generic probes too
        p = parse_h264_annexb(s)
        assert (p["width"], p["height"]) == (w, h)
        sh = parse_h264_slice_headers(s)
        assert len(sh) == 1 and sh[0]["slice_type"] % 5 == 2


def test_h264_ipcm_zero_planes_survive_emulation_prevention():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_h264_ipcm, encode_h264_ipcm)
    luma, cb, cr = bytes(256), bytes(64), bytes(64)   # all 0x00 runs
    d = decode_h264_ipcm(encode_h264_ipcm(luma, cb, cr, 16, 16))
    assert d["luma"] == luma and d["cb"] == cb and d["cr"] == cr


def test_h264_ipcm_boundaries_are_named():
    import pytest

    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_h264_ipcm, encode_h264_annexb, encode_h264_ipcm)
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_h264_ipcm(bytes(8 * 8), bytes(16), bytes(16), 8, 8)
    with pytest.raises(ValueError, match="luma plane size"):
        encode_h264_ipcm(bytes(10), bytes(64), bytes(64), 16, 16)
    # a transform-coded stream (the stub-payload encoder) names the
    # boundary instead of emitting garbage pixels
    with pytest.raises(ValueError, match="I_PCM"):
        decode_h264_ipcm(encode_h264_annexb(64, 64))
    # truncated samples
    s = bytearray(encode_h264_ipcm(bytes(256), bytes(64), bytes(64), 16, 16))
    with pytest.raises(ValueError):
        decode_h264_ipcm(bytes(s[:len(s) - 200]))
