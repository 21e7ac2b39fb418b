"""TIFF 6.0 codec: strip/LZW/predictor roundtrips in both byte orders,
the early-change width boundary, and corruption postures."""

from __future__ import annotations

import random
import time

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from precios_nexo_sperant_etl_spark.operators.multimodal import (
    _tiff_lzw_decode, _tiff_lzw_encode, decode_tiff_gray,
    encode_tiff_gray)


def test_lzw_early_change_boundary():
    # ~253 distinct bytes lands the width bump exactly on the flush
    # code — the phantom-add EOI case that diverges without the
    # early-change mirror in the encoder
    for n in range(245, 262):
        data = bytes([i % 251 for i in range(n)])
        assert _tiff_lzw_decode(_tiff_lzw_encode(data)) == data


def test_lzw_table_reset():
    # enough low-entropy data to drive the dictionary past 4094
    data = bytes([i % 3 for i in range(30000)])
    assert _tiff_lzw_decode(_tiff_lzw_encode(data)) == data


def test_lzw_kwkwk():
    data = b"aaaaaaaaaaaaaaaa"
    assert _tiff_lzw_decode(_tiff_lzw_encode(data)) == data


def test_lzw_linear_time():
    # the bit packers must keep only the pending bits: an accumulator
    # holding the whole stream makes every code write/read O(n), so the
    # roundtrip turns quadratic in the input size
    data = random.Random(3).randbytes(256 * 1024)
    t0 = time.perf_counter()
    assert _tiff_lzw_decode(_tiff_lzw_encode(data)) == data
    assert time.perf_counter() - t0 < 10.0


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=1, max_size=3000))
def test_lzw_property_roundtrip(data):
    assert _tiff_lzw_decode(_tiff_lzw_encode(data)) == data


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2 ** 31 - 1), st.booleans(), st.booleans())
def test_tiff_property_roundtrip(seed, lzw, big):
    rng = np.random.RandomState(seed % 2 ** 31)
    px = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    t = encode_tiff_gray(px, compression=5 if lzw else 1,
                         big_endian=big)
    r = decode_tiff_gray(t)
    assert np.array_equal(r["pixels"], px)
    assert r["n_strips"] == 4
    assert r["byte_order"] == ("big" if big else "little")
    assert r["compression"] == (5 if lzw else 1)


def test_single_strip_inline_offsets():
    px = np.arange(256, dtype=np.uint8).reshape(16, 16)
    r = decode_tiff_gray(encode_tiff_gray(px, rows_per_strip=16))
    assert r["n_strips"] == 1 and np.array_equal(r["pixels"], px)


def test_bad_inputs_raise():
    px = np.zeros((16, 16), dtype=np.uint8)
    t = bytearray(encode_tiff_gray(px))
    with pytest.raises(ValueError):
        decode_tiff_gray(b"XX" + bytes(t[2:]))
    bad = bytearray(t)
    bad[2] = 43                                    # wrong magic
    with pytest.raises(ValueError):
        decode_tiff_gray(bytes(bad))


def test_bmp24_encoder_roundtrip_odd_width():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        bmp_pixels, dhash64, encode_bmp24)
    rng = np.random.RandomState(7)
    for w in (5, 18, 20):                      # strides with/without pad
        px = rng.randint(0, 256, size=(6, w, 3), dtype=np.uint8)
        assert np.array_equal(bmp_pixels(encode_bmp24(px)), px)
    with pytest.raises(ValueError):
        dhash64(np.zeros((8, 8)))              # wants 9 columns


def test_dhash_bit_layout():
    from precios_nexo_sperant_etl_spark.operators.multimodal import dhash64
    box = np.zeros((8, 9), dtype=np.int64)
    box[0, 1] = 5        # bit 0 (y=0, x=0): col1 > col0
    lo, hi = dhash64(box)
    assert (lo, hi) == (1, 0)
    box[:] = 0
    box[4, 3] = 9        # y=4, x=2 -> bit 34 -> hi bit 2
    lo, hi = dhash64(box)
    # x=3 > x=2 sets bit 34; x=4 < x=3 clears bit 35 (already 0)
    assert lo == 0 and hi == 1 << 2
    box[:] = 0
    box[7, 8] = 1        # y=7, x=7 -> bit 63 -> hi bit 31
    lo, hi = dhash64(box)
    assert lo == 0 and hi == 1 << 31


def test_multipage_chain_and_loop_guard():
    import struct
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_tiff_pages, encode_tiff_multipage)
    pages = [np.full((8, 8), v, dtype=np.uint8) for v in (10, 20, 30)]
    t = encode_tiff_multipage(pages, compression=1, rows_per_strip=8)
    ps = decode_tiff_pages(t)
    assert [int(p["pixels"][0, 0]) for p in ps] == [10, 20, 30]
    # loop the last next-pointer back to IFD0 -> must raise, not spin
    bad = bytearray(t)
    (ifd0,) = struct.unpack_from("<I", bad, 4)
    struct.pack_into("<I", bad, len(bad) - 4, ifd0)
    with pytest.raises(ValueError):
        decode_tiff_pages(bytes(bad))


def test_multipage_single_page_equals_gray():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_tiff_gray, encode_tiff_multipage)
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, (16, 16), dtype=np.uint8)
    r = decode_tiff_gray(encode_tiff_multipage([px]))
    assert np.array_equal(r["pixels"], px)
