"""LZ4 block/frame + xxHash32/64: pure-python properties and interop
pins against the INDEPENDENT lz4-java implementation bundled with Spark
(net.jpountz.lz4 / net.jpountz.xxhash). Both directions are pinned —
our decoder on lz4-java fast/HC/frame output, lz4-java's decoders on
our output — so encoder and decoder cannot share a wrong table."""

import os
import random

import pytest

from precios_nexo_sperant_etl_spark.operators.lz4codec import (
    Lz4Error, lz4_block_compress, lz4_block_decompress,
    lz4_frame_compress, lz4_frame_decompress, xxh32)
from precios_nexo_sperant_etl_spark.operators.zstdentropy import xxh64


def _texty(rng, n):
    return bytes(rng.choice(b"lz4 interop test data \n0123 spark")
                 for _ in range(n))


# --- published reference vectors (xxHash spec repo README) -----------------

def test_xxh32_known_vectors():
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"", seed=1) == 0x0B2CB792


def test_xxh64_known_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999


# --- pure-python properties -------------------------------------------------

def test_block_roundtrip_property():
    rng = random.Random(7)
    for _ in range(150):
        data = _texty(rng, rng.randrange(0, 4000))
        assert lz4_block_decompress(lz4_block_compress(data),
                                    max_size=len(data)) == data


def test_frame_roundtrip_all_options():
    rng = random.Random(8)
    for bchk in (False, True):
        for cchk in (False, True):
            for csize in (False, True):
                data = _texty(rng, rng.randrange(0, 200000))
                f = lz4_frame_compress(data, block_checksum=bchk,
                                       content_checksum=cchk,
                                       content_size=csize)
                assert lz4_frame_decompress(f) == data


def test_frame_incompressible_stored_blocks():
    data = os.urandom(200000)
    f = lz4_frame_compress(data)
    assert len(f) < len(data) + 64      # stored blocks add only headers
    assert lz4_frame_decompress(f) == data


def test_frame_skippable_prefix_and_concat():
    a, b = b"first frame " * 100, b"second frame " * 100
    sk = ((0x184D2A51).to_bytes(4, "little")
          + (6).to_bytes(4, "little") + b"meta\x00\x00")
    blob = sk + lz4_frame_compress(a) + lz4_frame_compress(b)
    assert lz4_frame_decompress(blob) == a + b


def test_frame_corruption_detected():
    f = bytearray(lz4_frame_compress(b"payload " * 1000))
    f[len(f) // 2] ^= 0xFF
    with pytest.raises(Lz4Error):
        lz4_frame_decompress(bytes(f))


def test_frame_dictionary_id_refused():
    f = bytearray(lz4_frame_compress(b"x" * 100))
    # force the DictID flag on and fix the header checksum
    f[4] |= 1
    desc = bytes(f[4:4 + 10])           # FLG+BD+contentsize(8)
    f[14] = (xxh32(desc) >> 8) & 0xFF
    with pytest.raises(Lz4Error, match="Dictionary_ID"):
        lz4_frame_decompress(bytes(f) + (0).to_bytes(4, "little"))


def test_block_zero_offset_rejected():
    with pytest.raises(Lz4Error):
        lz4_block_decompress(b"\x14abcd\x00\x00", max_size=100)


# --- interop pins against lz4-java ------------------------------------------

def test_xxhash_matches_jvm(spark):
    xxf = spark.sparkContext._jvm.net.jpountz.xxhash.XXHashFactory \
        .fastestInstance()
    h32, h64 = xxf.hash32(), xxf.hash64()
    rng = random.Random(11)
    for _ in range(80):
        data = _texty(rng, rng.randrange(0, 5000))
        seed = rng.randrange(0, 2 ** 31)
        assert h32.hash(data, 0, len(data), seed) & 0xFFFFFFFF \
            == xxh32(data, seed)
        assert h64.hash(data, 0, len(data), seed) \
            & 0xFFFFFFFFFFFFFFFF == xxh64(data, seed)


def test_block_decoder_on_lz4java_output(spark):
    fac = spark.sparkContext._jvm.net.jpountz.lz4.LZ4Factory \
        .fastestInstance()
    rng = random.Random(12)
    for comp in (fac.fastCompressor(), fac.highCompressor()):
        for _ in range(40):
            data = _texty(rng, rng.randrange(0, 6000))
            jb = bytes(comp.compress(data))
            assert lz4_block_decompress(jb, max_size=len(data)) == data


def test_lz4java_decodes_our_blocks(spark):
    fac = spark.sparkContext._jvm.net.jpountz.lz4.LZ4Factory \
        .fastestInstance()
    dec = fac.fastDecompressor()
    rng = random.Random(13)
    for _ in range(40):
        data = _texty(rng, rng.randrange(1, 6000))
        ours = lz4_block_compress(data)
        assert bytes(dec.decompress(ours, len(data))) == data


def test_frame_decoder_on_lz4java_frames(spark):
    jvm = spark.sparkContext._jvm
    rng = random.Random(14)
    for _ in range(8):
        data = _texty(rng, rng.randrange(0, 300000))
        baos = jvm.java.io.ByteArrayOutputStream()
        fos = jvm.net.jpountz.lz4.LZ4FrameOutputStream(baos)
        if data:
            fos.write(data, 0, len(data))
        fos.close()
        assert lz4_frame_decompress(bytes(baos.toByteArray())) == data


def test_lz4java_decodes_our_frames(spark):
    jvm = spark.sparkContext._jvm
    rng = random.Random(15)
    for bchk in (False, True):
        for bid in (4, 7):
            data = _texty(rng, rng.randrange(0, 300000))
            ours = lz4_frame_compress(data, block_checksum=bchk,
                                      block_max_id=bid)
            fis = jvm.net.jpountz.lz4.LZ4FrameInputStream(
                jvm.java.io.ByteArrayInputStream(ours))
            assert bytes(fis.readAllBytes()) == data
