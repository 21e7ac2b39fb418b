"""REAL FLAC-subset codec — stdlib only.

Completes the audio-codec family (PCM WAV, G.711, IMA ADPCM, MP3
frame/side-info walkers) with the lossless compressed format actual
audio corpora ship in. Implemented from the public spec (RFC 9639 /
xiph.org format document), the same from-scratch discipline as
``jpegcodec`` (reference parity note: the reference pipeline treats
media blobs as opaque attachments — `etl/precios.py` passes them
through untouched; a curation engine must decode them):

- MSB-first bit I/O,
- the ``fLaC`` marker + STREAMINFO metadata block (including the real
  MD5 of the unencoded little-endian sample stream, which the decoder
  recomputes and verifies),
- frame header with sync code, blocksize/sample-rate/channel/bps
  codes, UTF-8-style coded frame number, and CRC-8 (poly 0x07),
- subframe types CONSTANT, VERBATIM and FIXED orders 0-4 with the
  spec's fixed linear predictors,
- residual coding method 0: partition order 0, 4-bit Rice parameter,
  zigzag residuals as unary quotient (q zeros then a 1) + r remainder
  bits,
- byte-align padding and the whole-frame CRC-16 (poly 0x8005).

Supported honestly: mono 16-bit streams with one audio frame (the
fixture shape — the frame walk generalizes by iterating). NOT
supported, raising ``UnsupportedFlac`` so callers can fall back to a
probe rather than mislabel the payload corrupt: LPC subframes (method
1 entropy partitions), stereo decorrelation, wasted bits, and
multi-frame streams. Corrupt streams (bad sync, CRC mismatch, MD5
mismatch, escape codes out of subset) raise ``ValueError`` with a
named reason — same unclean-path taxonomy as the other decoders.
"""

from __future__ import annotations

import hashlib
import struct

from .bitio import MsbReader, MsbWriter, crc8, crc16


class UnsupportedFlac(ValueError):
    """Valid FLAC, outside the implemented subset (ValueError subclass
    so the uniform fail-cleanly fuzz contract covers it, same as
    UnsupportedJpeg)."""


def _read_unary(r: MsbReader) -> int:
    q = 0
    while r.read1() == 0:
        q += 1
        if q > 1 << 20:
            raise ValueError("flac: runaway unary code")
    return q


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else (-(v << 1) - 1)


def _unzigzag(z: int) -> int:
    return (z >> 1) if (z & 1) == 0 else -((z + 1) >> 1)


#: Fixed-predictor coefficient rows, order 0..4 (RFC 9639 §9.2.2).
_FIXED_COEF = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))

_BLOCKSIZE = 64
_RATE = 8000


def _samples_md5(samples: list[int]) -> bytes:
    h = hashlib.md5()
    for s in samples:
        h.update(struct.pack("<h", s))
    return h.digest()


def encode_flac(samples: list[int], subframe: str, order: int = 0,
                rice: int = 3) -> bytes:
    """One-frame mono 16-bit FLAC stream for ``samples``
    (len == ``_BLOCKSIZE``). ``subframe`` in {constant, verbatim,
    fixed}; ``fixed`` encodes ``order`` warmups then Rice(``rice``)
    residuals of the spec's fixed predictor."""
    n = len(samples)
    if n != _BLOCKSIZE:
        raise ValueError("fixture frames are exactly one 64-sample block")
    # Validate up front so out-of-range input fails with the module's
    # named-reason taxonomy instead of an opaque struct.error from
    # _samples_md5 (or a silent & 0xFFFF mask downstream) — ADVICE r8.
    for s in samples:
        if not -32768 <= s <= 32767:
            raise ValueError("flac: sample out of 16-bit range")

    out = bytearray(b"fLaC")
    si = MsbWriter()
    si.write(1, 1)              # last metadata block
    si.write(0, 7)              # STREAMINFO
    si.write(34, 24)            # length
    si.write(n, 16)             # min blocksize
    si.write(n, 16)             # max blocksize
    si.write(0, 24)             # min framesize (0 = unknown)
    si.write(0, 24)             # max framesize
    si.write(_RATE, 20)
    si.write(0, 3)              # channels - 1
    si.write(15, 5)             # bps - 1
    si.write(n, 36)             # total samples
    out += si.finish() + _samples_md5(samples)

    fh = MsbWriter()
    fh.write(0b11111111111110, 14)  # sync
    fh.write(0, 1)              # reserved
    fh.write(0, 1)              # fixed-blocksize strategy
    fh.write(0b0110, 4)         # blocksize: 8-bit at end of header
    fh.write(0b0100, 4)         # sample rate: 8 kHz
    fh.write(0b0000, 4)         # channels: mono
    fh.write(0b100, 3)          # sample size: 16 bps
    fh.write(0, 1)              # reserved
    fh.write(0, 8)              # coded frame number 0 (UTF-8 1-byte)
    fh.write(n - 1, 8)          # blocksize - 1
    header = fh.finish()
    frame = bytearray(header)
    frame.append(crc8(header))

    sf = MsbWriter()
    sf.write(0, 1)              # zero pad bit
    if subframe == "constant":
        if any(s != samples[0] for s in samples):
            raise ValueError("constant subframe needs constant samples")
        sf.write(0b000000, 6)
        sf.write(0, 1)          # no wasted bits
        sf.write(samples[0] & 0xFFFF, 16)
    elif subframe == "verbatim":
        sf.write(0b000001, 6)
        sf.write(0, 1)
        for s in samples:
            sf.write(s & 0xFFFF, 16)
    elif subframe == "fixed":
        if not 0 <= order <= 4:
            raise ValueError("fixed order 0..4")
        sf.write(0b001000 | order, 6)
        sf.write(0, 1)
        for s in samples[:order]:
            sf.write(s & 0xFFFF, 16)
        coef = _FIXED_COEF[order]
        sf.write(0, 2)          # residual method 0: 4-bit Rice
        sf.write(0, 4)          # partition order 0
        sf.write(rice, 4)
        for i in range(order, n):
            pred = sum(c * samples[i - 1 - j] for j, c in enumerate(coef))
            z = _zigzag(samples[i] - pred)
            sf.write(1, (z >> rice) + 1)  # unary: q zeros then a one
            if rice:
                sf.write(z & ((1 << rice) - 1), rice)
    else:
        raise ValueError(f"unknown subframe type {subframe!r}")
    frame += sf.finish()
    frame += struct.pack(">H", crc16(bytes(frame)))
    return bytes(out) + bytes(frame)


def decode_flac(payload: bytes) -> dict:
    """Decode a one-frame mono 16-bit subset stream; verifies CRC-8,
    CRC-16, and the STREAMINFO sample-MD5. Returns samples plus the
    verified invariants."""
    if payload[:4] != b"fLaC":
        raise ValueError("flac: bad stream marker")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated metadata header")
        hdr = payload[pos]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        blen = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = payload[pos + 4:pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("flac: truncated metadata block")
        if btype == 0:
            if blen != 34:
                raise ValueError("flac: STREAMINFO must be 34 bytes")
            streaminfo = body
        elif btype == 127:
            raise ValueError("flac: invalid metadata block type")
        pos += 4 + blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("flac: missing STREAMINFO")
    r = MsbReader(streaminfo)
    min_bs, max_bs = r.read(16), r.read(16)
    r.read(24), r.read(24)
    rate = r.read(20)
    channels = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5_expect = streaminfo[18:34]
    if channels != 1 or bps != 16:
        raise UnsupportedFlac("subset is mono 16-bit")
    if total != _BLOCKSIZE or min_bs != _BLOCKSIZE or max_bs != _BLOCKSIZE:
        raise UnsupportedFlac("subset is one 64-sample frame")

    fr = MsbReader(payload, pos * 8)
    if fr.read(14) != 0b11111111111110:
        raise ValueError("flac: bad frame sync")
    fr.read(1)
    fr.read(1)
    bs_code, sr_code = fr.read(4), fr.read(4)
    ch_code, ss_code = fr.read(4), fr.read(3)
    fr.read(1)
    fr.read(8)                   # coded frame number (0 in subset)
    if bs_code != 0b0110:
        raise UnsupportedFlac("subset uses 8-bit blocksize-at-end")
    n = fr.read(8) + 1
    if sr_code != 0b0100 or ch_code != 0 or ss_code != 0b100:
        raise UnsupportedFlac("subset is mono 16-bit 8kHz")
    hdr_end = fr.pos >> 3
    if crc8(payload[pos:hdr_end]) != fr.read(8):
        raise ValueError("flac: frame header CRC-8 mismatch")

    if fr.read(1) != 0:
        raise ValueError("flac: subframe pad bit set")
    stype = fr.read(6)
    if fr.read(1) != 0:
        raise UnsupportedFlac("wasted-bits outside subset")

    def s16(u: int) -> int:
        return u - 0x10000 if u & 0x8000 else u

    if stype == 0b000000:
        v = s16(fr.read(16))
        samples = [v] * n
        kind, order = "constant", 0
    elif stype == 0b000001:
        samples = [s16(fr.read(16)) for _ in range(n)]
        kind, order = "verbatim", 0
    elif 0b001000 <= stype <= 0b001100:
        order = stype & 0x07
        kind = "fixed"
        samples = [s16(fr.read(16)) for _ in range(order)]
        if fr.read(2) != 0:
            raise UnsupportedFlac("residual method 1 outside subset")
        if fr.read(4) != 0:
            raise UnsupportedFlac("partitioned residuals outside subset")
        rice = fr.read(4)
        if rice == 0b1111:
            raise UnsupportedFlac("escaped residuals outside subset")
        coef = _FIXED_COEF[order]
        for _ in range(n - order):
            z = (_read_unary(fr) << rice) | (fr.read(rice) if rice else 0)
            resid = _unzigzag(z)
            pred = sum(c * samples[len(samples) - 1 - j]
                       for j, c in enumerate(coef))
            v = pred + resid
            if not -32768 <= v <= 32767:
                raise ValueError("flac: sample out of 16-bit range")
            samples.append(v)
    else:
        raise UnsupportedFlac(f"subframe type {stype:06b} outside subset")

    fr.align()
    crc_at = fr.pos >> 3
    if crc_at + 2 > len(payload):
        raise ValueError("flac: truncated frame CRC")
    if crc16(payload[pos:crc_at]) != int.from_bytes(
            payload[crc_at:crc_at + 2], "big"):
        raise ValueError("flac: frame CRC-16 mismatch")
    md5_ok = _samples_md5(samples) == md5_expect
    if not md5_ok:
        raise ValueError("flac: STREAMINFO sample-MD5 mismatch")
    return {"samples": samples, "n_samples": n, "sample_rate": rate,
            "subframe_type": kind, "order": order,
            "stream_bytes": crc_at + 2, "crc_ok": True, "md5_ok": True}
