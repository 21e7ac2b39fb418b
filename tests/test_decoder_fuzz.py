"""Corruption fuzz across every byte-level decoder: random bit flips,
truncations, and multi-byte garbage must fail CLEANLY (ValueError or
zlib.error), never leak KeyError/IndexError/struct.error, and never
hang — at corpus scale decoders meet wild data and must fail loudly
and uniformly. (Successful decodes of corrupted bytes are fine when
the flip lands outside checked structure.)"""

from __future__ import annotations

import gzip
import lzma
import random
import signal
import zlib

import numpy as np
import pytest

from precios_nexo_sperant_etl_spark.operators import avro_ocf as av
from precios_nexo_sperant_etl_spark.operators import bzip2 as bz
from precios_nexo_sperant_etl_spark.operators import flaccodec as fl
from precios_nexo_sperant_etl_spark.operators import jpegcodec as jc
from precios_nexo_sperant_etl_spark.operators import lz4codec as lz
from precios_nexo_sperant_etl_spark.operators import multimodal as mm
from precios_nexo_sperant_etl_spark.operators import tfrecord as tfr
from precios_nexo_sperant_etl_spark.operators import xzlzma as xz
from precios_nexo_sperant_etl_spark.operators import zstdframe as zs

_Y, _X = np.mgrid[0:16, 0:16]
_GRAY = ((7 + 2 * _X + 3 * _Y) % 256).astype(np.uint8)
_IDX = ((7 + _X + _Y) % 16).astype(np.uint8)
_PAL = np.stack([np.arange(16) * 3 % 256] * 3, -1).astype(np.uint8)
_RGB = np.repeat(_GRAY[:, :, None], 3, axis=2)
_SCHEMA = {"type": "record", "name": "D", "fields": [
    {"name": "a", "type": "long"}, {"name": "t", "type": "string"}]}
_RECS = [{"a": i, "t": f"x{i}"} for i in range(10)]
_JPEGS = [jc.encode_baseline_gray(_GRAY) for _ in range(2)]

FIXTURES = {
    "png": (mm.encode_png(_RGB.tobytes(), 16), mm.decode_png),
    "png_pal": (mm.encode_png_palette(_IDX, _PAL), mm.decode_png),
    "gif": (mm.encode_gif(_IDX, _PAL), mm.decode_gif),
    "bmp": (mm.encode_bmp24(_RGB), mm.bmp_pixels),
    "tiff": (mm.encode_tiff_gray(_GRAY), mm.decode_tiff_gray),
    "tiff_mp": (mm.encode_tiff_multipage([_GRAY, _GRAY]),
                mm.decode_tiff_pages),
    "jpeg": (jc.encode_baseline_gray(_GRAY), jc.decode_baseline),
    "wav_ima": (mm.encode_wav_ima([(0, 0, [7] * 64)]), mm.decode_wav_ima),
    "avi": (mm.encode_avi_mjpeg(_JPEGS, 16, 16), mm.parse_avi),
    "webm": (mm.encode_webm_blocks([(0, [(0, True, b"abc")])]),
             mm.parse_webm),
    "h264": (mm.encode_h264_annexb(64, 64), mm.parse_h264_annexb),
    "h264_slices": (mm.encode_h264_annexb(64, 64, n_idr=2, n_nonidr=3),
                    mm.parse_h264_slice_headers),
    "av1": (mm.encode_av1_obu_stream(0, 8, 640, 360, [40, 9]),
            mm.parse_av1_obu_stream),
    "mp4st": (mm.build_mp4_sample_table([b"ab"] * 4, [(4, 10)], [2, 2]),
              mm.parse_mp4_samples),
    "tfrecord": (tfr.frame_records([tfr.encode_example({"a": [1, 2]})]),
                 tfr.read_records),
    "avro": (av.write_ocf(_SCHEMA, _RECS, bytes(range(16))), av.read_ocf),
    "avro_snappy": (av.write_ocf(_SCHEMA, _RECS, bytes(range(16)),
                                 codec="snappy"), av.read_ocf),
    "snappy": (av.snappy_compress(b"hello world " * 20),
               av.snappy_decompress),
    "lzw": (mm._tiff_lzw_encode(bytes(range(100))), mm._tiff_lzw_decode),
    "gzip": (gzip.compress(b"data" * 50), mm.decode_gzip),
    "bzip2": (bz.encode_bzip2(b"bzip2 block " * 20 + bytes(range(40))),
              bz.decode_bzip2),
    "xz": (lzma.compress(b"xz stream body " * 20, check=lzma.CHECK_CRC64),
           xz.decode_xz),
    "lz4": (lz.lz4_frame_compress(b"lz4 frame body " * 20,
                                  block_checksum=True),
            lz.lz4_frame_decompress),
    "flac": (fl.encode_flac([(i * i * 5 + 29 * i) % 3001 - 1500
                             for i in range(64)], "fixed",
                            order=2, rice=9), fl.decode_flac),
    "zstd": (zs.encode_zstd_raw(b"frame walk " * 12 + b"z" * 130, 64),
             zs.decode_zstd_frame),
    "zstd_stream": (zs.encode_zstd_skippable(b"idx", 7)
                    + zs.encode_zstd_raw(b"frame one " * 6, 32)
                    + zs.encode_zstd_compressed([(b"frame two lits " * 3,
                                                  [(10, 4, 6)])],
                                                checksum=True),
                    zs.decode_zstd_stream),
    "zstd_comp": (zs.encode_zstd_compressed(
        [(b"entropy coded literals, with repeats repeats " * 4 + b"q",
          [(60, 7, 19), (50, 1, 40)]),
         (b"second block reusing the table " * 3, [(10, 2, 8)])],
        checksum=True, seq_mode="auto", lit_mode="treeless"),
        zs.decode_zstd_frame),
    # r10: the dictionary blob parser and a dictionary-referencing
    # frame (decoded WITH the intact dictionary while the frame bytes
    # are corrupted), plus the I_PCM slice-data decoder
    "zstd_dict_blob": (zs.encode_zstd_dictionary(b"dict content " * 8, 9),
                       zs.parse_zstd_dictionary),
    "zstd_dict_frame": (zs.encode_zstd_compressed(
        [(b"doc body bytes " * 6, [(30, 40, 12)])], seq_mode="repeat",
        lit_mode="treeless", checksum=True,
        dictionary=zs.encode_zstd_dictionary(b"dict content " * 8, 9)),
        lambda b: zs.decode_zstd_frame(
            b, dictionary=zs.encode_zstd_dictionary(
                b"dict content " * 8, 9))),
    "h264_ipcm": (mm.encode_h264_ipcm(
        bytes((3 * i) % 256 for i in range(32 * 32)),
        bytes((5 * i) % 256 for i in range(256)),
        bytes((7 * i) % 256 for i in range(256)), 32, 32),
        mm.decode_h264_ipcm),
}


class _Hang(Exception):
    pass


def _alarm(_sig, _frm):
    raise _Hang()


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_corruption_fails_cleanly(name):
    payload, dec = FIXTURES[name]
    # deterministic seeds: str hash is salted per process
    rng = random.Random(zlib.crc32(name.encode()))
    old = signal.signal(signal.SIGALRM, _alarm)
    try:
        for trial in range(360):
            b = bytearray(payload)
            kind = trial % 3
            if kind == 0 and len(b) > 1:
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif kind == 1:
                b = b[:rng.randrange(len(b))]
            else:
                for _ in range(rng.randrange(1, 6)):
                    if b:
                        b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
            signal.setitimer(signal.ITIMER_REAL, 5.0)
            try:
                dec(bytes(b))
            except (ValueError, zlib.error):
                pass          # the clean contract
            except _Hang:
                pytest.fail(f"{name}: decoder hung >5s on corrupt input")
            except Exception as ex:  # noqa: BLE001
                pytest.fail(f"{name}: unclean {type(ex).__name__}: {ex}")
            finally:
                signal.setitimer(signal.ITIMER_REAL, 0)
    finally:
        signal.signal(signal.SIGALRM, old)
