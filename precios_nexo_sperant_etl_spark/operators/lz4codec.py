"""From-scratch LZ4 block + frame codec and xxHash32.

Implements the public LZ4 specifications (lz4_Block_format.md v1.0 and
lz4_Frame_format.md v1.6.3, Yann Collet) plus the xxHash32 spec the
frame format's checksums require (xxHash64 lives in ``zstdentropy``).
No lz4 library is imported anywhere; the interop pins in
``tests/test_lz4.py`` run against the INDEPENDENT ``lz4-java``
implementation bundled with Spark (``net.jpountz.lz4`` /
``net.jpountz.xxhash``) — our decoder decodes lz4-java fast/HC/frame
output and lz4-java decodes ours, both directions, so the encoder and
decoder cannot share a wrong table (the blind spot the r10 interop
campaign closed for zstd).

Reference parity context: the reference ETL
(Actualizar_Precios_de_Nexo.py) ships no compression layer at all — it
reads loose .xlsx files; this module exists for the 100 TB lake side of
the engine, where lz4 is Spark's own shuffle/RDD codec and a common
parquet/kafka page codec.

Block format essentials honored by the encoder:
- minmatch 4; the last 5 bytes are always literals (LASTLITERALS);
- the last match must start at least 12 bytes before block end
  (MFLIMIT) — lz4-java's safe decoder enforces both;
- offsets are 1..65535 (window 64 KiB).

Frame format: magic 0x184D2204, FLG/BD descriptor + xxh32 header
checksum byte, LE32 block sizes with the high bit flagging stored
blocks, optional per-block xxh32, EndMark, optional content xxh32.
Skippable frames (0x184D2A50..5F) are skipped on decode. Frames that
declare a Dictionary_ID are refused (no external dictionary registry
here), mirroring the zstd decoder's contract.
"""

from __future__ import annotations

import struct

_M32 = 0xFFFFFFFF


class Lz4Error(ValueError):
    pass


# ---------------------------------------------------------------------------
# xxHash32 (spec: xxhash_spec.md, Yann Collet)
# ---------------------------------------------------------------------------

_P32_1 = 2654435761
_P32_2 = 2246822519
_P32_3 = 3266489917
_P32_4 = 668265263
_P32_5 = 374761393


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 16:
        a1 = (seed + _P32_1 + _P32_2) & _M32
        a2 = (seed + _P32_2) & _M32
        a3 = seed & _M32
        a4 = (seed - _P32_1) & _M32
        lim = n - 16
        while pos <= lim:
            l1, l2, l3, l4 = struct.unpack_from("<IIII", data, pos)
            a1 = (_rotl32((a1 + l1 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a2 = (_rotl32((a2 + l2 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a3 = (_rotl32((a3 + l3 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a4 = (_rotl32((a4 + l4 * _P32_2) & _M32, 13) * _P32_1) & _M32
            pos += 16
        acc = (_rotl32(a1, 1) + _rotl32(a2, 7)
               + _rotl32(a3, 12) + _rotl32(a4, 18)) & _M32
    else:
        acc = (seed + _P32_5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = (_rotl32((acc + lane * _P32_3) & _M32, 17) * _P32_4) & _M32
        pos += 4
    while pos < n:
        acc = (_rotl32((acc + data[pos] * _P32_5) & _M32, 11) * _P32_1) & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _P32_2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P32_3) & _M32
    acc ^= acc >> 16
    return acc


# ---------------------------------------------------------------------------
# Block format
# ---------------------------------------------------------------------------

_MINMATCH = 4
_LASTLITERALS = 5
_MFLIMIT = 12
_HASH_LOG = 14


def lz4_block_decompress(src: bytes, max_size: int | None = None,
                         prefix: bytes = b"") -> bytes:
    """Decode one raw LZ4 block. ``prefix`` is the already-decoded window
    for block-dependent frames (matches may reach back into it)."""
    out = bytearray(prefix)
    base = len(prefix)
    pos = 0
    n = len(src)
    if n == 0:
        return b""
    while True:
        if pos >= n:
            raise Lz4Error("truncated block: missing token")
        token = src[pos]
        pos += 1
        litlen = token >> 4
        if litlen == 15:
            while True:
                if pos >= n:
                    raise Lz4Error("truncated literal length")
                b = src[pos]
                pos += 1
                litlen += b
                if b != 255:
                    break
        if pos + litlen > n:
            raise Lz4Error("literal run past end of block")
        out += src[pos:pos + litlen]
        pos += litlen
        if pos == n:
            break                       # last sequence: literals only
        if pos + 2 > n:
            raise Lz4Error("truncated match offset")
        offset = src[pos] | (src[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise Lz4Error("zero match offset")
        if offset > len(out):
            raise Lz4Error("match offset beyond window")
        mlen = token & 15
        if mlen == 15:
            while True:
                if pos >= n:
                    raise Lz4Error("truncated match length")
                b = src[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        mlen += _MINMATCH
        start = len(out) - offset
        if offset >= mlen:
            out += out[start:start + mlen]
        else:
            for i in range(mlen):       # overlapping copy
                out.append(out[start + i])
        if max_size is not None and len(out) - base > max_size:
            raise Lz4Error("decoded size exceeds declared maximum")
    result = bytes(out[base:])
    if max_size is not None and len(result) > max_size:
        raise Lz4Error("decoded size exceeds declared maximum")
    return result


def lz4_block_compress(data: bytes) -> bytes:
    """Greedy hash-table encoder (shape of the reference LZ4_compress_fast):
    4-byte multiplicative hash, 64 KiB window, end-of-block rules."""
    n = len(data)
    out = bytearray()
    if n == 0:
        return b"\x00"                  # empty block: token 0, no literals
    table: dict[int, int] = {}
    anchor = 0
    pos = 0
    mflimit = n - _MFLIMIT
    matchlimit = n - _LASTLITERALS

    def _h(p: int) -> int:
        v = (data[p] | (data[p + 1] << 8) | (data[p + 2] << 16)
             | (data[p + 3] << 24))
        return ((v * 2654435761) & _M32) >> (32 - _HASH_LOG)

    def _emit(lit_start: int, lit_end: int, offset: int, mlen: int) -> None:
        litlen = lit_end - lit_start
        ml = mlen - _MINMATCH if mlen else 0
        token_l = 15 if litlen >= 15 else litlen
        token_m = 15 if ml >= 15 else ml
        out.append((token_l << 4) | (token_m if mlen else 0))
        rem = litlen - 15
        while rem >= 0:
            out.append(255 if rem >= 255 else rem)
            rem -= 255
        out.extend(data[lit_start:lit_end])
        if mlen:
            out.append(offset & 0xFF)
            out.append(offset >> 8)
            rem = ml - 15
            while rem >= 0:
                out.append(255 if rem >= 255 else rem)
                rem -= 255

    while pos <= mflimit:
        h = _h(pos)
        cand = table.get(h)
        table[h] = pos
        if (cand is not None and pos - cand <= 0xFFFF
                and data[cand:cand + 4] == data[pos:pos + 4]):
            mlen = 4
            limit = matchlimit - pos
            while (mlen < limit
                   and data[cand + mlen] == data[pos + mlen]):
                mlen += 1
            _emit(anchor, pos, pos - cand, mlen)
            # Index a couple of positions inside the match so runs keep
            # finding near offsets (cheap stand-in for lz4's stepped scan).
            end = pos + mlen
            if pos + 2 <= mflimit:
                table[_h(pos + 2)] = pos + 2
            if end - 2 >= 0 and end - 2 <= mflimit:
                table[_h(end - 2)] = end - 2
            pos = end
            anchor = pos
        else:
            pos += 1
    _emit(anchor, n, 0, 0)              # trailing literals
    return bytes(out)


# ---------------------------------------------------------------------------
# Frame format
# ---------------------------------------------------------------------------

_FRAME_MAGIC = 0x184D2204
_SKIP_MAGIC_LO = 0x184D2A50
_SKIP_MAGIC_HI = 0x184D2A5F
_BD_SIZES = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


def lz4_frame_compress(data: bytes, *, block_max_id: int = 4,
                       block_checksum: bool = False,
                       content_checksum: bool = True,
                       content_size: bool = True,
                       block_independence: bool = True) -> bytes:
    if block_max_id not in _BD_SIZES:
        raise Lz4Error(f"block max size id must be 4..7, got {block_max_id}")
    if not block_independence:
        raise Lz4Error("encoder emits independent blocks only")
    bsize = _BD_SIZES[block_max_id]
    flg = (1 << 6) | (1 << 5)
    if block_checksum:
        flg |= 1 << 4
    if content_size:
        flg |= 1 << 3
    if content_checksum:
        flg |= 1 << 2
    bd = block_max_id << 4
    desc = bytes([flg, bd])
    if content_size:
        desc += struct.pack("<Q", len(data))
    out = bytearray(struct.pack("<I", _FRAME_MAGIC))
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    for off in range(0, len(data), bsize):
        chunk = data[off:off + bsize]
        comp = lz4_block_compress(chunk)
        if len(comp) >= len(chunk):     # incompressible: store raw
            out += struct.pack("<I", len(chunk) | 0x80000000)
            payload = chunk
        else:
            out += struct.pack("<I", len(comp))
            payload = comp
        out += payload
        if block_checksum:
            out += struct.pack("<I", xxh32(payload))
    out += b"\x00\x00\x00\x00"          # EndMark
    if content_checksum:
        out += struct.pack("<I", xxh32(data))
    return bytes(out)


def lz4_frame_decompress(blob: bytes) -> bytes:
    try:
        return _frame_decompress(blob)
    except (IndexError, struct.error) as e:
        # truncation runs a descriptor or size-field read off the end
        raise Lz4Error("truncated frame") from e


def _frame_decompress(blob: bytes) -> bytes:
    out = bytearray()
    pos = 0
    n = len(blob)
    saw_frame = False
    while pos < n:
        if pos + 4 > n:
            raise Lz4Error("truncated magic")
        (magic,) = struct.unpack_from("<I", blob, pos)
        pos += 4
        if _SKIP_MAGIC_LO <= magic <= _SKIP_MAGIC_HI:
            if pos + 4 > n:
                raise Lz4Error("truncated skippable frame size")
            (sz,) = struct.unpack_from("<I", blob, pos)
            pos += 4 + sz
            continue
        if magic != _FRAME_MAGIC:
            raise Lz4Error(f"bad frame magic 0x{magic:08x}")
        saw_frame = True
        desc_start = pos
        flg = blob[pos]
        bd = blob[pos + 1]
        pos += 2
        if (flg >> 6) != 1:
            raise Lz4Error(f"unsupported frame version {flg >> 6}")
        block_indep = bool(flg & (1 << 5))
        has_bchk = bool(flg & (1 << 4))
        has_csize = bool(flg & (1 << 3))
        has_cchk = bool(flg & (1 << 2))
        if flg & 0b10:
            raise Lz4Error("reserved FLG bit set")
        if flg & 1:
            raise Lz4Error("frame declares a Dictionary_ID; no external "
                           "dictionary registry is available here")
        bsid = (bd >> 4) & 0x7
        if bsid not in _BD_SIZES or (bd & 0x8F):
            raise Lz4Error(f"bad BD byte 0x{bd:02x}")
        bmax = _BD_SIZES[bsid]
        declared = None
        if has_csize:
            (declared,) = struct.unpack_from("<Q", blob, pos)
            pos += 8
        hc = blob[pos]
        pos += 1
        want = (xxh32(blob[desc_start:pos - 1]) >> 8) & 0xFF
        if hc != want:
            raise Lz4Error(f"header checksum mismatch: {hc} != {want}")
        frame_start = len(out)
        while True:
            if pos + 4 > n:
                raise Lz4Error("truncated block size")
            (bword,) = struct.unpack_from("<I", blob, pos)
            pos += 4
            if bword == 0:              # EndMark
                break
            stored = bool(bword & 0x80000000)
            bsz = bword & 0x7FFFFFFF
            if bsz > bmax and not stored:
                raise Lz4Error("block larger than declared maximum")
            if pos + bsz > n:
                raise Lz4Error("truncated block data")
            payload = blob[pos:pos + bsz]
            pos += bsz
            if has_bchk:
                (got,) = struct.unpack_from("<I", blob, pos)
                pos += 4
                if xxh32(payload) != got:
                    raise Lz4Error("block checksum mismatch")
            if stored:
                out += payload
            else:
                window = b"" if block_indep else bytes(
                    out[max(frame_start, len(out) - (1 << 16)):])
                out += lz4_block_decompress(payload, max_size=bmax,
                                            prefix=window)
        content = bytes(out[frame_start:])
        if declared is not None and len(content) != declared:
            raise Lz4Error(f"content size mismatch: declared {declared}, "
                           f"decoded {len(content)}")
        if has_cchk:
            if pos + 4 > n:
                raise Lz4Error("truncated content checksum")
            (got,) = struct.unpack_from("<I", blob, pos)
            pos += 4
            if xxh32(content) != got:
                raise Lz4Error("content checksum mismatch")
    if not saw_frame:
        raise Lz4Error("no LZ4 frame found")
    return bytes(out)
