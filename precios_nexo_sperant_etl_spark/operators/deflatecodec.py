"""From-scratch DEFLATE (RFC 1951) with zlib (RFC 1950) and gzip
(RFC 1952) wrappers — completing the from-scratch compression suite
(zstd, bzip2, LZMA/xz, now deflate): stored, static-Huffman and
dynamic-Huffman blocks on both encode and decode, an LZ77 hash-chain
matcher, the 16/17/18 RLE code-length coding, Adler-32 and CRC-32
trailers.

Bit order discipline (the part every port gets wrong once): DEFLATE
packs everything LSB-first EXCEPT Huffman codes, which are packed
starting from the MOST significant bit of the code — so the decoder
accumulates ``code = (code << 1) | next_bit`` while reading an
LSB-first stream, and the encoder writes each code bit-reversed.

Independence: pinned both directions against the stdlib ``zlib`` /
``gzip`` modules in tests (their encoder at levels 0/1/6/9 → this
inflate; this deflate → their decompress), the same external-
implementation discipline as the other codecs. The stdlib zlib stays
on the hot path where it already serves (PNG IDAT, .warc.gz) — this
module is the spec-complete reference implementation plus the
driver-checked roundtrip surface.
"""

from __future__ import annotations

from .bitio import (LsbReader, LsbWriter, canonical_codes, crc32,
                    huffman_lengths, reverse_bits)

_LEN_BASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
             35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258]
_LEN_EXTRA = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
              3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0]
_DIST_BASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97,
              129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073,
              4097, 6145, 8193, 12289, 16385, 24577]
_DIST_EXTRA = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
               7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13]
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2,
              14, 1, 15]


class DeflateError(ValueError):
    pass


def adler32(data: bytes) -> int:
    a, b = 1, 0
    for i in range(0, len(data), 5552):      # largest n before mod needed
        chunk = data[i:i + 5552]
        for byte in chunk:
            a += byte
            b += a
        a %= 65521
        b %= 65521
    return (b << 16) | a


_TBITS = 10  # primary-table width (zlib-style one-shot decode)


def _lsb_codes(lengths: list[int]) -> list[int]:
    """Canonical codes bit-reversed: DEFLATE sends Huffman codes
    MSB-first inside its LSB-first stream."""
    return [reverse_bits(c, ln)
            for c, ln in zip(canonical_codes(lengths), lengths)]


class _Decoder:
    """Canonical decoder: a 2^_TBITS one-shot primary table (entry =
    length << 16 | symbol, indexed by the next _TBITS LSB-first stream
    bits) with the classic count/offset walk as the fallback for the
    rare codes longer than the table width. Same code assignment as
    before — only the lookup mechanics changed."""

    __slots__ = ("max_len", "counts", "symbols", "table")

    def __init__(self, lengths: list[int]) -> None:
        max_len = max(lengths) if lengths else 0
        if max_len == 0:
            self.max_len = 0
            return
        self.max_len = max_len
        counts = [0] * (max_len + 1)
        for ln in lengths:
            if ln:
                counts[ln] += 1
        self.counts = counts
        # counting-sort symbol placement (O(n), not O(n * max_len))
        offs = [0] * (max_len + 2)
        for ln in range(1, max_len + 1):
            offs[ln + 1] = offs[ln] + counts[ln]
        symbols = [0] * offs[max_len + 1]
        place = offs[:]
        for sym, ln in enumerate(lengths):
            if ln:
                symbols[place[ln]] = sym
                place[ln] += 1
        self.symbols = symbols
        # sanity: over-subscribed code
        left = 1
        for ln in range(1, max_len + 1):
            left = (left << 1) - counts[ln]
            if left < 0:
                raise DeflateError("deflate: over-subscribed code")
        # primary table over the canonical codes, bit-reversed because
        # the stream delivers each code MSB first into an LSB-first reader
        table = [0] * (1 << _TBITS)
        for sym, code in enumerate(_lsb_codes(lengths)):
            ln = lengths[sym]
            if 0 < ln <= _TBITS:
                # one strided slice store per symbol (C speed) instead
                # of a Python loop over the 2^(T-ln) copies
                table[code::1 << ln] = \
                    [(ln << 16) | sym] * (1 << (_TBITS - ln))
        self.table = table

    def read(self, br: LsbReader) -> int:
        if self.max_len == 0:
            raise DeflateError("deflate: invalid Huffman code")
        entry = self.table[br.peek(_TBITS)]
        if entry:
            br.skip(entry >> 16)
            return entry & 0xFFFF
        return self._read_slow(br)

    def _read_slow(self, br: LsbReader) -> int:
        code = 0
        first = 0
        index = 0
        for ln in range(1, self.max_len + 1):
            code |= br.read(1)
            count = self.counts[ln]
            if code - first < count:
                return self.symbols[index + (code - first)]
            index += count
            first = (first + count) << 1
            code <<= 1
        raise DeflateError("deflate: invalid Huffman code")


_STATIC_LIT = _Decoder([8] * 144 + [9] * 112 + [7] * 24 + [8] * 8)
_STATIC_DIST = _Decoder([5] * 30)


# --- inflate -----------------------------------------------------------------

def inflate(data: bytes) -> bytes:
    return inflate_stream(data, 0)[0]


def inflate_stream(data: bytes, offset: int = 0) -> tuple[bytes, int]:
    """Inflate one deflate stream starting at byte ``offset`` and
    report the byte position just past its final block — the embedded-
    stream use (git packfiles concatenate zlib members back-to-back
    with no length framing; only the decoder knows where one ends)."""
    br = LsbReader(data, offset << 3, DeflateError)
    out = bytearray()
    while True:
        bfinal = br.read(1)
        btype = br.read(2)
        if btype == 0:                        # stored
            br.align()
            p = br.pos >> 3
            if p + 4 > len(data):
                raise DeflateError("deflate: truncated stored header")
            ln = int.from_bytes(data[p:p + 2], "little")
            nln = int.from_bytes(data[p + 2:p + 4], "little")
            if ln != (~nln & 0xFFFF):
                raise DeflateError("deflate: stored LEN/NLEN mismatch")
            out.extend(data[p + 4:p + 4 + ln])
            br.pos = (p + 4 + ln) << 3
        elif btype in (1, 2):
            if btype == 1:
                lit_dec, dist_dec = _STATIC_LIT, _STATIC_DIST
            else:
                hlit = br.read(5) + 257
                hdist = br.read(5) + 1
                hclen = br.read(4) + 4
                cl_lens = [0] * 19
                for i in range(hclen):
                    cl_lens[_CLC_ORDER[i]] = br.read(3)
                cl_dec = _Decoder(cl_lens)
                lens: list[int] = []
                while len(lens) < hlit + hdist:
                    sym = cl_dec.read(br)
                    if sym < 16:
                        lens.append(sym)
                    elif sym == 16:
                        if not lens:
                            raise DeflateError("deflate: repeat at start")
                        lens.extend([lens[-1]] * (3 + br.read(2)))
                    elif sym == 17:
                        lens.extend([0] * (3 + br.read(3)))
                    else:
                        lens.extend([0] * (11 + br.read(7)))
                if len(lens) != hlit + hdist:
                    raise DeflateError("deflate: code-length overflow")
                lit_dec = _Decoder(lens[:hlit])
                dist_dec = _Decoder(lens[hlit:])
            while True:
                sym = lit_dec.read(br)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym > 285:
                        raise DeflateError("deflate: bad length symbol")
                    li = sym - 257
                    length = _LEN_BASE[li] + br.read(_LEN_EXTRA[li])
                    dsym = dist_dec.read(br)
                    if dsym > 29:
                        raise DeflateError("deflate: bad distance symbol")
                    dist = _DIST_BASE[dsym] + br.read(_DIST_EXTRA[dsym])
                    if dist > len(out):
                        raise DeflateError("deflate: distance too far back")
                    start = len(out) - dist
                    if dist >= length:
                        out += out[start:start + length]
                    else:
                        # overlapping copy: the last `dist` bytes repeat
                        pattern = out[start:]
                        out += (pattern * (length // dist + 1))[:length]
        else:
            raise DeflateError("deflate: reserved block type")
        if bfinal:
            break
    return bytes(out), (br.pos + 7) >> 3


def zlib_decompress_stream(buf: bytes, offset: int = 0) \
        -> tuple[bytes, int]:
    """Decode one zlib member embedded at ``offset``; returns
    (content, position past the Adler-32 trailer)."""
    if offset + 6 > len(buf):
        raise DeflateError("zlib: truncated")
    cmf, flg = buf[offset], buf[offset + 1]
    if cmf & 0x0F != 8:
        raise DeflateError("zlib: not deflate")
    if (cmf * 256 + flg) % 31:
        raise DeflateError("zlib: bad header check")
    if flg & 0x20:
        raise DeflateError("zlib: preset dictionary unsupported")
    content, end = inflate_stream(buf, offset + 2)
    if end + 4 > len(buf):
        raise DeflateError("zlib: truncated Adler-32 trailer")
    if adler32(content) != int.from_bytes(buf[end:end + 4], "big"):
        raise DeflateError("zlib: Adler-32 mismatch")
    return content, end + 4


def zlib_decompress(blob: bytes) -> bytes:
    if len(blob) < 6:
        raise DeflateError("zlib: truncated")
    cmf, flg = blob[0], blob[1]
    if cmf & 0x0F != 8:
        raise DeflateError("zlib: not deflate")
    if (cmf * 256 + flg) % 31:
        raise DeflateError("zlib: bad header check")
    if flg & 0x20:
        raise DeflateError("zlib: preset dictionary unsupported")
    content = inflate(blob[2:-4])
    if adler32(content) != int.from_bytes(blob[-4:], "big"):
        raise DeflateError("zlib: Adler-32 mismatch")
    return content


def gzip_decompress(blob: bytes) -> bytes:
    if blob[:3] != b"\x1f\x8b\x08":
        raise DeflateError("gzip: bad magic/method")
    flg = blob[3]
    pos = 10
    if flg & 0x04:                            # FEXTRA
        xlen = int.from_bytes(blob[pos:pos + 2], "little")
        pos += 2 + xlen
    for bit in (0x08, 0x10):                  # FNAME, FCOMMENT
        if flg & bit:
            pos = blob.index(b"\x00", pos) + 1
    if flg & 0x02:                            # FHCRC
        pos += 2
    content = inflate(blob[pos:-8])
    if crc32(content) != int.from_bytes(blob[-8:-4], "little"):
        raise DeflateError("gzip: CRC-32 mismatch")
    if len(content) & 0xFFFFFFFF != \
            int.from_bytes(blob[-4:], "little"):
        raise DeflateError("gzip: ISIZE mismatch")
    return content


# --- deflate encoder (dynamic Huffman, LZ77 hash chains) ---------------------

def _mk_code_tbl(bases: list[int], top: int) -> bytes:
    """Direct value→code-index table derived from the base arrays (the
    per-token reverse linear scans were the encoder's hottest calls)."""
    tbl = bytearray(top + 1)
    i = 0
    for v in range(bases[0], top + 1):
        while i + 1 < len(bases) and v >= bases[i + 1]:
            i += 1
        tbl[v] = i
    return bytes(tbl)


_LEN_CODE_TBL = None   # built lazily from _LEN_BASE/_DIST_BASE below
_DIST_CODE_TBL = None


def _len_code(length: int) -> int:
    global _LEN_CODE_TBL
    if _LEN_CODE_TBL is None:
        _LEN_CODE_TBL = _mk_code_tbl(_LEN_BASE, 258)
    if not 3 <= length <= 258:
        raise DeflateError("deflate: bad match length")
    return _LEN_CODE_TBL[length]


def _dist_code(dist: int) -> int:
    global _DIST_CODE_TBL
    if _DIST_CODE_TBL is None:
        _DIST_CODE_TBL = _mk_code_tbl(_DIST_BASE, 32768)
    if not 1 <= dist <= 32768:
        raise DeflateError("deflate: bad match distance")
    return _DIST_CODE_TBL[dist]


def _lz77(data: bytes, max_chain: int = 32):
    """Greedy hash-chain matcher: yields (literal_byte, None) or
    (length, dist) tokens."""
    n = len(data)
    head: dict[int, list[int]] = {}
    tokens = []
    i = 0
    while i < n:
        best_len = 0
        best_dist = 0
        if i + 3 <= n:
            key = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
            chain = head.get(key)
            if chain:
                for j in reversed(chain[-max_chain:]):
                    if i - j > 32768:
                        break
                    ln = 0
                    maxl = min(258, n - i)
                    while ln < maxl and data[j + ln] == data[i + ln]:
                        ln += 1
                    if ln > best_len:
                        best_len, best_dist = ln, i - j
                        if ln >= 64:
                            break
        if best_len >= 3:
            tokens.append((best_len, best_dist))
            for k in range(i, min(i + best_len, n - 2)):
                key = data[k] | (data[k + 1] << 8) | (data[k + 2] << 16)
                head.setdefault(key, []).append(k)
            i += best_len
        else:
            tokens.append((data[i], None))
            if i + 3 <= n:
                key = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
                head.setdefault(key, []).append(i)
            i += 1
    return tokens


def _encode_cl_rle(lens: list[int]):
    """RFC 1951 §3.2.7 code-length RLE: yields (symbol, extra, nbits)."""
    out = []
    i = 0
    n = len(lens)
    while i < n:
        v = lens[i]
        j = i + 1
        while j < n and lens[j] == v:
            j += 1
        run = j - i
        if v == 0:
            while run >= 11:
                r = min(run, 138)
                out.append((18, r - 11, 7))
                run -= r
            if run >= 3:
                out.append((17, run - 3, 3))
                run = 0
            out.extend([(0, 0, 0)] * run)
        else:
            out.append((v, 0, 0))
            run -= 1
            while run >= 3:
                r = min(run, 6)
                out.append((16, r - 3, 2))
                run -= r
            out.extend([(v, 0, 0)] * run)
        i = j
    return out


def deflate(data: bytes) -> bytes:
    """One dynamic-Huffman DEFLATE block (plus the stored fallback for
    incompressible data)."""
    tokens = _lz77(data)
    lit_freq = [0] * 286
    dist_freq = [0] * 30
    for a, b in tokens:
        if b is None:
            lit_freq[a] += 1
        else:
            lit_freq[257 + _len_code(a)] += 1
            dist_freq[_dist_code(b)] += 1
    lit_freq[256] += 1
    lit_lens = huffman_lengths(lit_freq, 15)
    dist_lens = huffman_lengths(dist_freq, 15)
    if max(dist_lens) == 0:
        dist_lens[0] = 1                      # at least one dist code
    hlit = 286
    while hlit > 257 and lit_lens[hlit - 1] == 0:
        hlit -= 1
    hdist = 30
    while hdist > 1 and dist_lens[hdist - 1] == 0:
        hdist -= 1
    cl_seq = _encode_cl_rle(lit_lens[:hlit] + dist_lens[:hdist])
    cl_freq = [0] * 19
    for sym, _, _ in cl_seq:
        cl_freq[sym] += 1
    cl_lens = huffman_lengths(cl_freq, 7)
    hclen = 19
    while hclen > 4 and cl_lens[_CLC_ORDER[hclen - 1]] == 0:
        hclen -= 1
    lit_codes = _lsb_codes(lit_lens)
    dist_codes = _lsb_codes(dist_lens)
    cl_codes = _lsb_codes(cl_lens)
    w = LsbWriter()
    w.write(1, 1)                             # BFINAL
    w.write(2, 2)                             # dynamic
    w.write(hlit - 257, 5)
    w.write(hdist - 1, 5)
    w.write(hclen - 4, 4)
    for i in range(hclen):
        w.write(cl_lens[_CLC_ORDER[i]], 3)
    for sym, extra, nbits in cl_seq:
        w.write(cl_codes[sym], cl_lens[sym])
        if nbits:
            w.write(extra, nbits)
    wbits = w.write
    for a, b in tokens:
        if b is None:
            wbits(lit_codes[a], lit_lens[a])
        else:
            lc = _len_code(a)
            wbits(lit_codes[257 + lc], lit_lens[257 + lc])
            if _LEN_EXTRA[lc]:
                wbits(a - _LEN_BASE[lc], _LEN_EXTRA[lc])
            dc = _dist_code(b)
            wbits(dist_codes[dc], dist_lens[dc])
            if _DIST_EXTRA[dc]:
                wbits(b - _DIST_BASE[dc], _DIST_EXTRA[dc])
    wbits(lit_codes[256], lit_lens[256])
    dyn = w.finish()
    # stored fallback: 5-byte overhead per 65535 chunk
    stored_size = 1 + sum(5 + min(65535, max(1, len(data) - i))
                          for i in range(0, max(len(data), 1), 65535))
    if len(dyn) > stored_size:
        w = LsbWriter()
        n = len(data)
        if n == 0:
            w.write(1, 1)
            w.write(0, 2)
            w.align()
            w.out.extend(b"\x00\x00\xff\xff")
            return w.finish()
        for i in range(0, n, 65535):
            chunk = data[i:i + 65535]
            w.write(1 if i + 65535 >= n else 0, 1)
            w.write(0, 2)
            w.align()
            w.out.extend(len(chunk).to_bytes(2, "little"))
            w.out.extend((~len(chunk) & 0xFFFF).to_bytes(2, "little"))
            w.out.extend(chunk)
        return w.finish()
    return dyn


def zlib_compress(data: bytes) -> bytes:
    return (b"\x78\x9c" + deflate(data)
            + adler32(data).to_bytes(4, "big"))


def gzip_compress(data: bytes) -> bytes:
    return (b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff" + deflate(data)
            + crc32(data).to_bytes(4, "little")
            + (len(data) & 0xFFFFFFFF).to_bytes(4, "little"))
