"""Shared codec primitives: every CRC in ``operators.bitio`` against its
catalogue check value, slice-by-8 against the byte-at-a-time loop, and
the bit readers'/writers' range contracts."""

from __future__ import annotations

import random

import pytest

from precios_nexo_sperant_etl_spark.operators import bitio


@pytest.mark.parametrize("crc, check", [
    (bitio.crc32_bzip2, 0xFC891918),
    (bitio.crc32, 0xCBF43926),
    (bitio.crc32c, 0xE3069283),
    (bitio.crc64_xz, 0x995DC9BBDF1939FA),
    (bitio.crc8, 0xF4),
    (bitio.crc16, 0xFEE8),
], ids=["crc32_bzip2", "crc32", "crc32c", "crc64_xz", "crc8", "crc16"])
def test_crc_check_value(crc, check):
    assert crc(b"123456789") == check


def test_slice8_matches_bytewise_loop():
    crc = bitio.crc32_bzip2
    rng = random.Random(8)
    for n in range(40):
        data = rng.randbytes(n)
        init = rng.getrandbits(32)
        assert crc.update(data, init) == crc._update_bytes(data, init)


@pytest.mark.parametrize("reader, writer", [
    (bitio.MsbReader, bitio.MsbWriter), (bitio.LsbReader, bitio.LsbWriter)])
def test_bit_io_bounds(reader, writer):
    class CodecError(ValueError):
        pass

    w = writer()
    with pytest.raises(ValueError):
        w.write(8, 3)
    with pytest.raises(ValueError):
        w.write(-1, 3)
    w.write(5, 3)
    r = reader(w.finish(), 0, CodecError)
    assert r.read(3) == 5
    assert r.peek(16) == 0                 # zero-padded past the end
    with pytest.raises(CodecError):
        r.read(6)
