"""Bit-level primitives shared by the from-scratch codecs: MSB-first and
LSB-first bit readers and writers, a table-driven CRC family and the
canonical Huffman code builders.

Bit order picks the reader/writer pair:

- MSB-first (:class:`MsbReader`/:class:`MsbWriter`): the first bit of the
  stream is the top bit of the first byte — bzip2, FLAC, TIFF LZW, MP3
  side info, H.264 RBSPs and AV1 headers.
- LSB-first (:class:`LsbReader`/:class:`LsbWriter`): the first bit is
  bit 0 of the first byte — DEFLATE, GIF LZW and zstd's forward NCount
  streams.

Readers take their codec's error class and raise it on a read past the
end of the data; ``peek`` zero-pads instead, because table decoders
look ahead a fixed width that may overrun the final code. Writers
raise ``ValueError`` for a value wider than its field and keep only the
pending (< 8) bits in their accumulator, so writing stays linear in the
output size.

Bit streams whose framing is part of the format stay with their codec:
JPEG's byte-stuffed scan (T.81 ``0xFF00``, stops at markers), zstd's
reversed streams (sentinel bit), as do zstd's Kraft-tight Huffman
lengths, bzip2's limit/base/perm decode tables and the LZMA range
decoder.
"""

from __future__ import annotations

import heapq

# --- bit readers ------------------------------------------------------------


class _Reader:
    """``pos`` is the bit position; reads past the end raise ``err``."""

    __slots__ = ("data", "pos", "nbits", "err")

    def __init__(self, data: bytes, pos: int = 0,
                 err: type[Exception] = ValueError) -> None:
        self.data = data
        self.pos = pos
        self.nbits = len(data) << 3
        self.err = err

    def skip(self, n: int) -> None:
        self.pos += n
        if self.pos > self.nbits:
            raise self.err("bit read past end of stream")

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class MsbReader(_Reader):
    __slots__ = ()

    def read(self, n: int) -> int:
        # one int.from_bytes over the covering bytes, not a per-bit loop
        p = self.pos
        end = p + n
        if end > self.nbits:
            raise self.err("bit read past end of stream")
        b1 = (end + 7) >> 3
        self.pos = end
        return (int.from_bytes(self.data[p >> 3:b1], "big")
                >> ((b1 << 3) - end)) & ((1 << n) - 1)

    def read1(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise self.err("bit read past end of stream")
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def peek(self, n: int) -> int:
        """Next ``n`` bits without advancing, zero-padded past the end."""
        p = self.pos
        end = p + n
        b1 = (end + 7) >> 3
        chunk = self.data[p >> 3:b1]
        short = b1 - (p >> 3) - len(chunk)
        if short > 0:
            chunk += b"\x00" * short
        return (int.from_bytes(chunk, "big")
                >> ((b1 << 3) - end)) & ((1 << n) - 1)


class LsbReader(_Reader):
    __slots__ = ()

    def read(self, n: int) -> int:
        p = self.pos
        end = p + n
        if end > self.nbits:
            raise self.err("bit read past end of stream")
        self.pos = end
        return (int.from_bytes(self.data[p >> 3:(end + 7) >> 3], "little")
                >> (p & 7)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        """Next ``n`` bits without advancing, zero-padded past the end
        (missing high bytes of a little-endian int are zeros)."""
        p = self.pos
        return (int.from_bytes(self.data[p >> 3:(p + n + 7) >> 3], "little")
                >> (p & 7)) & ((1 << n) - 1)


# --- bit writers ------------------------------------------------------------


class _Writer:
    """``nbits`` counts the pending bits (< 8) held in ``acc``."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def finish(self) -> bytes:
        self.align()
        return bytes(self.out)


class MsbWriter(_Writer):
    __slots__ = ()

    def write(self, v: int, n: int) -> None:
        if v < 0 or v >> n:
            raise ValueError(f"value {v} does not fit {n} bits")
        acc = (self.acc << n) | v
        nb = self.nbits + n
        out = self.out
        while nb >= 8:
            nb -= 8
            out.append((acc >> nb) & 0xFF)
        self.acc = acc & ((1 << nb) - 1)
        self.nbits = nb

    def write_big(self, v: int, n: int) -> None:
        """Same bits as ``write``, with every completed byte emitted in one
        ``int.to_bytes`` — the bulk path for pre-packed sections."""
        if v < 0 or v >> n:
            raise ValueError(f"value {v} does not fit {n} bits")
        total = (self.acc << n) | v
        nb = self.nbits + n
        rem = nb & 7
        if nb >= 8:
            self.out += (total >> rem).to_bytes(nb >> 3, "big")
        self.acc = total & ((1 << rem) - 1)
        self.nbits = rem

    def align(self) -> None:
        """Zero-pad to the next byte boundary."""
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = 0
            self.nbits = 0


class LsbWriter(_Writer):
    __slots__ = ()

    def write(self, v: int, n: int) -> None:
        if v < 0 or v >> n:
            raise ValueError(f"value {v} does not fit {n} bits")
        acc = self.acc | (v << self.nbits)
        nb = self.nbits + n
        out = self.out
        while nb >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
        self.acc = acc
        self.nbits = nb

    def align(self) -> None:
        """Zero-pad to the next byte boundary."""
        if self.nbits:
            self.out.append(self.acc)
            self.acc = 0
            self.nbits = 0


# --- CRC --------------------------------------------------------------------


def reverse_bits(v: int, n: int) -> int:
    """The low ``n`` bits of ``v`` in reverse order."""
    return int(f"{v:0{n}b}"[::-1], 2)


class Crc:
    """Table-driven CRC in the Williams/Rocksoft parameter model:
    ``width`` bits, generator ``poly`` in normal (MSB-first) form,
    ``reflected`` input and output bit order, register ``init`` and
    final ``xorout``. Calling the object returns the CRC of ``data``;
    ``update`` advances a raw register. MSB-first 32-bit CRCs update
    slice-by-8: eight tables, where ``T[k][b]`` advances byte ``b``
    through ``k`` further zero bytes, fold eight input bytes per round."""

    __slots__ = ("width", "reflected", "init", "xorout", "table", "slices")

    def __init__(self, width: int, poly: int, reflected: bool, init: int,
                 xorout: int) -> None:
        self.width = width
        self.reflected = reflected
        self.init = init
        self.xorout = xorout
        mask = (1 << width) - 1
        top = 1 << (width - 1)
        table = []
        for b in range(256):
            c = b << (width - 8)
            for _ in range(8):
                c = ((c << 1) ^ poly if c & top else c << 1) & mask
            table.append(c)
        if reflected:
            # the reflected table is the mirror image of the normal one
            table = [reverse_bits(table[reverse_bits(b, 8)], width)
                     for b in range(256)]
        self.table = table
        self.slices = None
        if width == 32 and not reflected:
            tabs = [table]
            for _ in range(7):
                prev = tabs[-1]
                tabs.append([((prev[b] << 8) & mask) ^ table[prev[b] >> 24]
                             for b in range(256)])
            self.slices = tabs

    def __call__(self, data: bytes) -> int:
        return self.update(data, self.init) ^ self.xorout

    def update(self, data: bytes, crc: int) -> int:
        if self.slices is None:
            return self._update_bytes(data, crc)
        t0, t1, t2, t3, t4, t5, t6, t7 = self.slices
        n8 = len(data) & ~7
        i = 0
        while i < n8:
            hi = crc ^ int.from_bytes(data[i:i + 4], "big")
            lo = int.from_bytes(data[i + 4:i + 8], "big")
            crc = (t7[hi >> 24] ^ t6[(hi >> 16) & 0xFF]
                   ^ t5[(hi >> 8) & 0xFF] ^ t4[hi & 0xFF]
                   ^ t3[lo >> 24] ^ t2[(lo >> 16) & 0xFF]
                   ^ t1[(lo >> 8) & 0xFF] ^ t0[lo & 0xFF])
            i += 8
        return self._update_bytes(data[n8:], crc)

    def _update_bytes(self, data: bytes, crc: int) -> int:
        tbl = self.table
        if self.reflected:
            for b in data:
                crc = (crc >> 8) ^ tbl[(crc ^ b) & 0xFF]
            return crc
        shift = self.width - 8
        mask = (1 << self.width) - 1
        for b in data:
            crc = ((crc << 8) & mask) ^ tbl[((crc >> shift) ^ b) & 0xFF]
        return crc


_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF

#: CRC-32 (zlib, gzip, ZIP, PNG, xz)
crc32 = Crc(32, 0x04C11DB7, True, _M32, _M32)
#: CRC-32C, Castagnoli (TFRecord, iSCSI, ext4)
crc32c = Crc(32, 0x1EDC6F41, True, _M32, _M32)
#: CRC-32/BZIP2: the CRC-32 polynomial fed MSB-first
crc32_bzip2 = Crc(32, 0x04C11DB7, False, _M32, _M32)
#: CRC-64/XZ (ECMA-182 polynomial, reflected)
crc64_xz = Crc(64, 0x42F0E1EBA9EA3693, True, _M64, _M64)
#: CRC-8 poly 0x07, init 0 (FLAC frame header)
crc8 = Crc(8, 0x07, False, 0, 0)
#: CRC-16 poly 0x8005, init 0 (FLAC frame)
crc16 = Crc(16, 0x8005, False, 0, 0)


# --- canonical Huffman ------------------------------------------------------


def huffman_lengths(freqs: list[int], max_len: int) -> list[int]:
    """Heap-Huffman code lengths for ``freqs``; zero-frequency symbols
    get length 0 (no code), a lone live symbol gets 1. If any length
    exceeds ``max_len``, every live symbol is flattened to
    ceil(log2(live)) bits — always a legal prefix code."""
    live = [i for i, f in enumerate(freqs) if f]
    lens = [0] * len(freqs)
    if len(live) == 1:
        lens[live[0]] = 1
    if len(live) < 2:
        return lens
    heap = [(freqs[i], i, (i,)) for i in live]
    heapq.heapify(heap)
    while len(heap) > 1:
        fa, ia, sa = heapq.heappop(heap)
        fb, ib, sb = heapq.heappop(heap)
        for s in sa + sb:
            lens[s] += 1
        heapq.heappush(heap, (fa + fb, min(ia, ib), sa + sb))
    if max(lens) > max_len:
        flat = max(1, (len(live) - 1).bit_length())
        if flat > max_len:
            raise ValueError("huffman: alphabet too large to flatten")
        for i in live:
            lens[i] = flat
    return lens


def canonical_codes(lengths: list[int]) -> list[int]:
    """Canonical codes (RFC 1951 §3.2.2): shorter codes first, symbol
    order within a length; symbols of length 0 get no code."""
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for b in range(1, max_len + 1):
        code = (code + bl_count[b - 1]) << 1
        next_code[b] = code
    out = [0] * len(lengths)
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = next_code[ln]
            next_code[ln] += 1
    return out
