"""FLAC-subset and zstd-frame codec semantics: exact roundtrips per
subframe/block type, every verified invariant (CRC-8, CRC-16,
STREAMINFO sample-MD5, zstd FCS), and the documented subset
boundaries (UnsupportedFlac / UnsupportedZstd, both ValueError
subclasses so the fuzz contract holds)."""

from __future__ import annotations

import pytest

from precios_nexo_sperant_etl_spark.operators.bitio import crc8, crc16
from precios_nexo_sperant_etl_spark.operators.flaccodec import (
    UnsupportedFlac, decode_flac, encode_flac)
from precios_nexo_sperant_etl_spark.operators.zstdframe import (
    UnsupportedZstd, decode_zstd_frame, encode_zstd_raw)


def _sig(kind: str, did: int = 7) -> list[int]:
    if kind == "constant":
        return [(did * 37) % 4001 - 2000] * 64
    if kind == "linear":
        return [(did * 11 + i * 37) % 3001 - 1500 for i in range(64)]
    if kind == "quad":
        return [(did * 13 + i * i * 5 + i * 29) % 3001 - 1500
                for i in range(64)]
    return [(did * 7 + i * i * i + i * 53) % 3001 - 1500
            for i in range(64)]


class TestFlac:
    def test_constant_roundtrip(self):
        s = _sig("constant")
        d = decode_flac(encode_flac(s, "constant"))
        assert d["samples"] == s
        assert d["subframe_type"] == "constant" and d["order"] == 0
        assert d["crc_ok"] and d["md5_ok"]
        assert d["sample_rate"] == 8000 and d["n_samples"] == 64

    def test_verbatim_roundtrip(self):
        s = _sig("linear")
        d = decode_flac(encode_flac(s, "verbatim"))
        assert d["samples"] == s and d["subframe_type"] == "verbatim"

    @pytest.mark.parametrize("order,rice,kind", [
        (0, 12, "linear"), (1, 11, "linear"), (2, 9, "quad"),
        (3, 11, "quad"), (4, 12, "cubic")])
    def test_fixed_orders_roundtrip(self, order, rice, kind):
        for did in (0, 5, 123, 4999):
            s = _sig(kind, did)
            d = decode_flac(encode_flac(s, "fixed", order=order,
                                        rice=rice))
            assert d["samples"] == s
            assert d["subframe_type"] == "fixed" and d["order"] == order

    def test_negative_samples_roundtrip(self):
        s = [-(i * 17) % 1500 * (-1 if i % 2 else 1) for i in range(64)]
        d = decode_flac(encode_flac(s, "verbatim"))
        assert d["samples"] == s

    def test_frame_crc16_detects_payload_flip(self):
        p = bytearray(encode_flac(_sig("quad"), "fixed", order=2, rice=9))
        p[-10] ^= 0x40
        with pytest.raises(ValueError):
            decode_flac(bytes(p))

    # Stream layout: fLaC(0-3) + metadata header(4-7) + STREAMINFO
    # body(8-41, of which md5 = 26-41) + frame header(42-48, CRC-8 at
    # 48) + subframe(49...).

    def test_header_crc8_detects_header_flip(self):
        p = bytearray(encode_flac(_sig("linear"), "verbatim"))
        p[44] ^= 0x01   # sample-rate/channel code byte
        with pytest.raises(ValueError):
            decode_flac(bytes(p))

    def test_streaminfo_md5_is_verified(self):
        p = bytearray(encode_flac(_sig("linear"), "verbatim"))
        p[26 + 3] ^= 0xFF   # inside the 16-byte MD5 field
        with pytest.raises(ValueError, match="MD5"):
            decode_flac(bytes(p))

    def test_bad_marker_and_truncation(self):
        p = encode_flac(_sig("constant"), "constant")
        with pytest.raises(ValueError, match="marker"):
            decode_flac(b"fLaX" + p[4:])
        with pytest.raises(ValueError):
            decode_flac(p[:30])

    def test_lpc_subframe_is_unsupported_not_corrupt(self):
        p = bytearray(encode_flac(_sig("linear"), "verbatim"))
        # subframe header byte at 49: pad(1) type(6) wasted(1) —
        # setting bit 6 turns type 000001 into the LPC range 1xxxxx
        p[49] |= 0x40
        with pytest.raises((UnsupportedFlac, ValueError)):
            decode_flac(bytes(p))

    def test_crc_vectors(self):
        # CRC-8 poly 0x07 and CRC-16 poly 0x8005 known vectors
        assert crc8(b"123456789") == 0xF4
        assert crc16(b"123456789") == 0xFEE8


class TestZstd:
    def test_mixed_blocks_roundtrip(self):
        data = b"0123456789abcdef" * 9 + b"q" * 200
        d = decode_zstd_frame(encode_zstd_raw(data, 64))
        assert d["content"] == data
        assert d["n_rle"] >= 3 and d["n_raw"] >= 2
        assert d["fcs"] == len(data) and d["single_segment"]

    def test_single_block(self):
        d = decode_zstd_frame(encode_zstd_raw(b"tiny", 64))
        assert d["content"] == b"tiny" and d["n_blocks"] == 1

    def test_all_rle(self):
        d = decode_zstd_frame(encode_zstd_raw(b"a" * 256, 64))
        assert d["n_rle"] == 4 and d["n_raw"] == 0
        assert d["content"] == b"a" * 256

    def test_block_boundary_exact_multiple(self):
        data = b"xy" * 64    # exactly two 64-byte blocks
        d = decode_zstd_frame(encode_zstd_raw(data, 64))
        assert d["n_blocks"] == 2 and d["content"] == data

    def test_bad_magic(self):
        p = encode_zstd_raw(b"data", 64)
        with pytest.raises(ValueError, match="magic"):
            decode_zstd_frame(b"\x00\x00\x00\x00" + p[4:])

    def test_fcs_mismatch_detected(self):
        p = bytearray(encode_zstd_raw(b"payload bytes here", 64))
        p[5] ^= 0x01   # FCS low byte
        with pytest.raises(ValueError, match="content size"):
            decode_zstd_frame(bytes(p))

    def test_compressed_block_decodes_since_r9(self):
        # Raw bytes reinterpreted as a Compressed_Block are CORRUPT
        # (ValueError), not unsupported — the r9 entropy stack decodes
        # real compressed blocks (tests/test_zstd_entropy.py); only
        # dictionary frames remain the UnsupportedZstd boundary.
        p = bytearray(encode_zstd_raw(b"payload bytes here", 64))
        hdr = int.from_bytes(p[9:12], "little")
        p[9:12] = ((hdr & ~0b110) | (2 << 1)).to_bytes(3, "little")
        with pytest.raises(ValueError):
            decode_zstd_frame(bytes(p))
        assert issubclass(UnsupportedZstd, ValueError)

    def test_reserved_block_type_is_corrupt(self):
        p = bytearray(encode_zstd_raw(b"payload bytes here", 64))
        hdr = int.from_bytes(p[9:12], "little")
        p[9:12] = ((hdr & ~0b110) | (3 << 1)).to_bytes(3, "little")
        with pytest.raises(ValueError, match="reserved"):
            decode_zstd_frame(bytes(p))

    def test_truncations(self):
        p = encode_zstd_raw(b"0123456789" * 20, 64)
        for cut in (3, 5, 8, 11, len(p) - 1):
            with pytest.raises(ValueError):
                decode_zstd_frame(p[:cut])


# --- property-based roundtrips (hypothesis, same conventions as
# test_codec_properties) -------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SETTINGS = dict(max_examples=25, deadline=None)


@settings(**_SETTINGS)
@given(st.lists(st.integers(-32768, 32767), min_size=64, max_size=64))
def test_flac_verbatim_roundtrips_any_block(samples):
    d = decode_flac(encode_flac(samples, "verbatim"))
    assert d["samples"] == samples and d["md5_ok"]


@settings(**_SETTINGS)
@given(st.integers(-32768, 32767))
def test_flac_constant_roundtrips_any_value(v):
    d = decode_flac(encode_flac([v] * 64, "constant"))
    assert d["samples"] == [v] * 64


@settings(**_SETTINGS)
@given(st.integers(1, 4), st.integers(0, 2 ** 32 - 1))
def test_flac_fixed_roundtrips_bounded_signals(order, seed):
    # Bounded pseudo-random signal: residuals of order-k predictors over
    # a +-1500 signal always fit the escape-free Rice range at param 14.
    s = [((seed >> (i % 16)) * 31 + i * i * 7 + i * 13) % 3001 - 1500
         for i in range(64)]
    d = decode_flac(encode_flac(s, "fixed", order=order, rice=14))
    assert d["samples"] == s and d["order"] == order


@settings(**_SETTINGS)
@given(st.binary(min_size=1, max_size=600), st.integers(1, 128))
def test_zstd_roundtrips_any_bytes_any_blocksize(data, bs):
    d = decode_zstd_frame(encode_zstd_raw(data, bs))
    assert d["content"] == data
    assert d["fcs"] == len(data)
    assert d["n_blocks"] == (len(data) + bs - 1) // bs


@settings(**_SETTINGS)
@given(st.binary(min_size=0, max_size=64), st.integers(1, 255),
       st.integers(1, 300))
def test_zstd_rle_detection_exact(prefix, byte, run):
    # The block census must equal the chunk rule exactly: a chunk is
    # RLE iff it is one repeated byte.
    data = prefix + bytes([byte]) * run
    d = decode_zstd_frame(encode_zstd_raw(data, 64))
    assert d["content"] == data
    chunks = [data[o:o + 64] for o in range(0, len(data), 64)]
    want_rle = sum(1 for c in chunks if c == bytes([c[0]]) * len(c))
    assert d["n_rle"] == want_rle
    assert d["n_raw"] == len(chunks) - want_rle
    assert d["n_raw"] + d["n_rle"] == d["n_blocks"] == len(chunks)


def test_flac_rejects_out_of_range_samples():
    # ADVICE r8: out-of-int16 input must fail with the module's named
    # ValueError, not an opaque struct.error from the MD5 pass.
    s = _sig("linear")
    for bad in (32768, -32769, 10**6):
        with pytest.raises(ValueError, match="16-bit range"):
            encode_flac([bad] + s[1:], "verbatim")
    # Boundary values are legal.
    decode_flac(encode_flac([32767, -32768] + s[2:], "verbatim"))


def test_zstd_oracle_chunks_bytes_not_chars():
    # ADVICE r8: the zstd_frame_probe oracle must census UTF-8 BYTES
    # (matching Spark's text.encode('utf-8')), not characters. Replay
    # the registered SQL in DuckDB over non-ASCII text and compare to
    # the real encoder/decoder walk.
    import duckdb

    from precios_nexo_sperant_etl_spark.registry import _load_all, _REGISTRY

    _load_all()
    sql = _REGISTRY["zstd_frame_probe"].oracle
    texts = ["caña señal über 0 " * 9,          # 2-byte chars straddle chunks
             "ñ" * 70,                           # 64-byte chunks split a char
             "日本語テキスト" * 13 + "tail"]     # 3-byte chars
    con = duckdb.connect()
    con.sql("CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, ?)" for i in range(len(texts)))
            + ") t(doc_id, text)", params=texts)
    got = {r[0]: r[1:] for r in con.sql(sql).fetchall()}

    import hashlib

    from precios_nexo_sperant_etl_spark.operators.zstdframe import (
        decode_zstd_frame, encode_zstd_raw)
    for i, t in enumerate(texts):
        r = decode_zstd_frame(encode_zstd_raw(t.encode("utf-8") + b"z" * 128, 64))
        want = (r["content_len"], r["n_blocks"], r["n_raw"], r["n_rle"],
                r["frame_bytes"], r["content_len"] == r["fcs"],
                hashlib.md5(r["content"]).hexdigest())
        assert got[i] == want, f"doc {i}: oracle {got[i]} != walk {want}"
