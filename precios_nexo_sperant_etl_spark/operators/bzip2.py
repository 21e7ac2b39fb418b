"""From-scratch bzip2 codec (decoder + subset encoder) — the container
Wikipedia-class corpus dumps ship in (multistream ``.bz2``), built from
the public format (the format has no RFC; the layout is fixed by the
reference implementation and documented in e.g. the bzip2 manual and
the Hadoop/commons-compress ports):

``'BZh' + level`` stream header; per block a 48-bit magic
``0x314159265359``, 32-bit block CRC, the deprecated ``randomised``
bit (always 0 since bzip2 0.9.5 — refused here), a 24-bit BWT origin
pointer, the two-level used-symbol bitmap, 2..6 Huffman groups with
MTF+unary-coded selectors switching every 50 symbols, per-group
delta-coded canonical code lengths, then the RLE2(MTF(BWT(RLE1(data))))
symbol stream; stream footer ``0x177245385090`` + combined CRC. All
bit I/O is MSB-first; the CRC is the CRC-32/BZIP2 variant (poly
0x04C11DB7 fed MSB-first, init/final 0xFFFFFFFF — NOT the reflected
zlib CRC).

Independence: both directions are pinned against the stdlib ``bz2``
module in tests (their encoder → this decoder, this encoder → their
decoder), the same external-implementation discipline as the zstd
stack — shared-table bugs cannot hide in a self-roundtrip.

The encoder is an honest SUBSET: single-stream, 100k level, 2
identical Huffman groups (the legal minimum; selectors all pick group
0), and a sorted-rotations BWT bounded by ``_ENC_MAX_BLOCK`` — right
for record-sized payloads on executors, not for re-compressing whole
dumps (bind the real bzip2 for that tier; reading is the scale path
here).
"""

from __future__ import annotations

from .bitio import (MsbReader, MsbWriter, canonical_codes, crc32_bzip2,
                    huffman_lengths)

_BLOCK_MAGIC = 0x314159265359
_EOS_MAGIC = 0x177245385090
_ENC_MAX_BLOCK = 1 << 15  # sorted-rotations BWT bound (post-RLE1 bytes)


class Bzip2Error(ValueError):
    pass


# --- canonical Huffman (bzip2 style: lengths table -> limit/base/perm) ------

_HTBITS = 12  # one-shot decode table width (codes are 1..20 bits)


def _huff_decode_tables(lengths: list[int]):
    """bzip2's limit/base/perm decoding tables from code lengths, plus
    a zlib-style one-shot primary table: ``table[peek(_HTBITS)]`` =
    ``(code_len << 16) | symbol`` for every code of length ≤ _HTBITS
    (bzip2 bit I/O is MSB-first, so a length-``ln`` code owns one
    CONTIGUOUS slice of the peek space — a single C-speed slice store
    per symbol). Longer codes fall back to the original limit/base/perm
    walk. Same canonical code assignment as before — only the lookup
    mechanics changed (pinned against stdlib bz2 in tests)."""
    min_len = min(lengths)
    max_len = max(lengths)
    perm = []
    for ln in range(min_len, max_len + 1):
        for sym, sl in enumerate(lengths):
            if sl == ln:
                perm.append(sym)
    count = [0] * (max_len + 2)
    for sl in lengths:
        count[sl] += 1
    limit = [0] * (max_len + 2)
    base = [0] * (max_len + 2)
    vec = 0
    total = 0
    for ln in range(min_len, max_len + 1):
        base[ln] = vec - total
        total += count[ln]
        vec += count[ln]
        limit[ln] = vec - 1
        vec <<= 1
    codes = canonical_codes(lengths)
    table = [0] * (1 << _HTBITS)
    for sym in perm:
        ln = lengths[sym]
        if ln > _HTBITS:
            break
        width = 1 << (_HTBITS - ln)
        lo = codes[sym] << (_HTBITS - ln)
        table[lo:lo + width] = [(ln << 16) | sym] * width
    return min_len, max_len, limit, base, perm, table


def _huff_read_symbol(br: MsbReader, tabs) -> int:
    min_len, max_len, limit, base, perm, table = tabs
    entry = table[br.peek(_HTBITS)]
    if entry:
        # peek() zero-pads past end-of-stream, so a truncated stream
        # could advance pos beyond the data and decode phantom symbols
        # until a later CRC/magic gate; skip() fails at the overrun.
        br.skip(entry >> 16)
        return entry & 0xFFFF
    ln = min_len
    v = br.read(min_len)
    while ln <= max_len:
        if v <= limit[ln]:
            return perm[v - base[ln]]
        v = (v << 1) | br.read1()
        ln += 1
    raise Bzip2Error("bzip2: invalid Huffman code")


# --- decoder ----------------------------------------------------------------

def _decode_block(br: MsbReader, block_size100k: int) -> bytes:
    stored_crc = br.read(32)
    if br.read1():
        raise Bzip2Error("bzip2: deprecated randomised blocks unsupported")
    orig_ptr = br.read(24)
    # two-level used-symbol map
    used16 = br.read(16)
    used = []
    for i in range(16):
        if used16 & (0x8000 >> i):
            bits = br.read(16)
            for j in range(16):
                if bits & (0x8000 >> j):
                    used.append(16 * i + j)
        # unused range: no bits
    n_used = len(used)
    if not n_used:
        raise Bzip2Error("bzip2: empty symbol map")
    alpha = n_used + 2                      # RUNA, RUNB, MTFV.., EOB
    n_groups = br.read(3)
    if not 2 <= n_groups <= 6:
        raise Bzip2Error("bzip2: bad group count")
    n_sel = br.read(15)
    sel_mtf = [0] * n_groups
    for i in range(n_groups):
        sel_mtf[i] = i
    selectors = []
    for _ in range(n_sel):
        j = 0
        while br.read1():
            j += 1
            if j >= n_groups:
                raise Bzip2Error("bzip2: selector overflow")
        v = sel_mtf.pop(j)
        sel_mtf.insert(0, v)
        selectors.append(v)
    tables = []
    for _ in range(n_groups):
        ln = br.read(5)
        lens = []
        for _ in range(alpha):
            while br.read1():
                ln += -1 if br.read1() else 1
                if not 1 <= ln <= 20:
                    raise Bzip2Error("bzip2: bad code length")
            lens.append(ln)
        tables.append(_huff_decode_tables(lens))
    eob = alpha - 1
    # RLE2 + MTF decode straight into the BWT column. The per-symbol
    # Huffman decode is INLINED on a local bit cursor (r12): the
    # method-call form (_huff_read_symbol + peek's int.from_bytes
    # slice per symbol) was 55% of block-decode time; here the
    # 12-bit table index comes from one 3-byte window read
    # (p&7 + 12 <= 19 < 24 bits), zero-padded by a one-time 3-byte
    # tail so end-of-stream peeks read 0s exactly like peek() —
    # overrun still raises after the length advance, mirroring
    # _huff_read_symbol. Long codes (>12 bits, rare) fall back to the
    # shared reader with the cursor synced both ways.
    mtf = list(used)
    bwt = bytearray()
    limit = block_size100k * 100000
    run = 0
    run_bit = 0
    g_idx = -1
    g_left = 0
    table = None
    dpad = br.data + b"\x00\x00\x00"
    dbits = br.nbits
    p = br.pos
    n_sel_total = len(selectors)
    while True:
        if g_left == 0:
            g_idx += 1
            if g_idx >= n_sel_total:
                raise Bzip2Error("bzip2: ran out of selectors")
            tabs = tables[selectors[g_idx]]
            table = tabs[5]
            g_left = 50
        g_left -= 1
        bi = p >> 3
        w = ((dpad[bi] << 16) | (dpad[bi + 1] << 8) | dpad[bi + 2])
        entry = table[(w >> (12 - (p & 7))) & 0xFFF]
        if entry:
            p += entry >> 16
            if p > dbits:
                raise Bzip2Error("bzip2: truncated stream inside "
                                 "Huffman symbol")
            sym = entry & 0xFFFF
        else:
            br.pos = p
            sym = _huff_read_symbol(br, tabs)
            p = br.pos
        if sym <= 1:                         # RUNA / RUNB
            run += (sym + 1) << run_bit
            run_bit += 1
            continue
        if run:
            bwt.extend(bytes([mtf[0]]) * run)
            run = 0
            run_bit = 0
        if sym == eob:
            break
        v = mtf.pop(sym - 1)
        mtf.insert(0, v)
        bwt.append(v)
        if len(bwt) > limit:
            raise Bzip2Error("bzip2: block overflows its size class")
    br.pos = p
    if run:
        bwt.extend(bytes([mtf[0]]) * run)
    n = len(bwt)
    if orig_ptr >= n:
        raise Bzip2Error("bzip2: origin pointer out of range")
    # inverse BWT, vectorized: the counting-sort next-link table is
    # exactly the stable argsort of the BWT column (same (byte,
    # occurrence) order), and the sequential cycle walk is replaced by
    # pointer doubling — log2(n) gathers instead of n Python steps.
    # Same output bytes as the scalar walk (pinned against stdlib bz2).
    import numpy as np
    bwt_np = np.frombuffer(bytes(bwt), dtype=np.uint8)
    nxt = np.argsort(bwt_np, kind="stable").astype(np.int64)
    seq = nxt[orig_ptr:orig_ptr + 1]
    jump = nxt  # advances seq.size steps along the cycle
    while seq.size < n:
        k = min(seq.size, n - seq.size)
        seq = np.concatenate([seq, jump[seq[:k]]])
        if seq.size < n:
            jump = jump[jump]
    out = bwt_np[seq]
    # RLE1: 4 equal bytes are followed by an extra-repeat count byte.
    # Fast path: no 4-run anywhere (typical text) -> the block IS the
    # plain data; otherwise the original per-run loop.
    if n < 4 or not (
            (out[:-3] == out[1:-2]) & (out[1:-2] == out[2:-1])
            & (out[2:-1] == out[3:])).any():
        plain = bytearray(out.tobytes())
    else:
        out = bytearray(out.tobytes())
        plain = bytearray()
        i = 0
        while i < n:
            b = out[i]
            j = i + 1
            while j < n and j - i < 4 and out[j] == b:
                j += 1
            if j - i == 4:
                if j >= n:
                    raise Bzip2Error("bzip2: truncated RLE1 run")
                plain.extend(bytes([b]) * (4 + out[j]))
                i = j + 1
            else:
                plain.extend(out[i:j])
                i = j
    if crc32_bzip2(plain) != stored_crc:
        raise Bzip2Error("bzip2: block CRC mismatch")
    return bytes(plain)


def decode_bzip2(blob: bytes) -> dict:
    """Decode a (possibly multistream) .bz2 blob. Returns
    ``{'content', 'n_streams', 'n_blocks'}``. Streams are
    byte-aligned back to back (the Wikipedia multistream layout)."""
    out = bytearray()
    n_streams = 0
    n_blocks = 0
    pos = 0
    while pos < len(blob):
        if blob[pos:pos + 2] != b"BZ":
            raise Bzip2Error("bzip2: bad stream magic")
        if blob[pos + 2:pos + 3] != b"h":
            raise Bzip2Error("bzip2: only the 'h' (Huffman) format exists")
        level = blob[pos + 3] - 0x30 if pos + 3 < len(blob) else 0
        if not 1 <= level <= 9:
            raise Bzip2Error("bzip2: bad block-size level")
        br = MsbReader(blob, (pos + 4) * 8, Bzip2Error)
        combined = 0
        while True:
            magic = br.read(48)
            if magic == _BLOCK_MAGIC:
                blk = _decode_block(br, level)
                out.extend(blk)
                n_blocks += 1
                combined = (((combined << 1) | (combined >> 31))
                            & 0xFFFFFFFF) ^ crc32_bzip2(blk)
            elif magic == _EOS_MAGIC:
                stored = br.read(32)
                if stored != combined:
                    raise Bzip2Error("bzip2: combined CRC mismatch")
                break
            else:
                raise Bzip2Error("bzip2: bad block magic")
        n_streams += 1
        pos = (br.pos + 7) >> 3               # streams are byte-aligned
    if not n_streams:
        raise Bzip2Error("bzip2: empty input")
    return {"content": bytes(out), "n_streams": n_streams,
            "n_blocks": n_blocks}


# --- encoder (subset: one stream, 2 identical groups) ------------------------

def _rle1(data: bytes) -> bytes:
    n = len(data)
    # fast path: no 4-byte run anywhere (typical text) -> RLE1 is the
    # identity; one vectorized scan replaces the per-byte loop
    if n < 4:
        return data
    import numpy as np
    a = np.frombuffer(data, dtype=np.uint8)
    if not ((a[:-3] == a[1:-2]) & (a[1:-2] == a[2:-1])
            & (a[2:-1] == a[3:])).any():
        return data
    out = bytearray()
    i = 0
    while i < n:
        b = data[i]
        j = i
        while j < n and j - i < 255 + 4 and data[j] == b:
            j += 1
        run = j - i
        if run >= 4:
            out.extend(bytes([b]) * 4)
            out.append(run - 4)
        else:
            out.extend(bytes([b]) * run)
        i = j
    return bytes(out)


def _bwt(data: bytes) -> tuple[bytes, int]:
    """Cyclic-rotation BWT via numpy prefix doubling: ranks compare a
    2k-prefix of each rotation per round, so log2(n) stable lexsorts
    replace the O(n² log n) sliced-rotation sort. Tie order among fully
    EQUAL rotations (periodic inputs) is arbitrary — the lexsort
    tie-break key is the previous round's order permutation, not a
    per-rotation original index — but output bytes and the roundtrip
    are unaffected: equal rotations share their last-column byte, and
    any orig_ptr within the group reconstructs the same string (pinned
    against stdlib bz2 both directions in tests/test_bzip2.py)."""
    import numpy as np
    n = len(data)
    if n == 1:
        return data, 0
    if n <= 1024:
        # Record-sized blocks (the multistream carriages encode one
        # document per stream): 5+ numpy lexsort rounds cost more in
        # per-call overhead than one C sort of materialized rotations.
        # Tie order among equal rotations differs from the
        # prefix-doubling path but is output-equivalent (docstring
        # above); measured ~3× at n≈300.
        doubled = data + data
        order_s = sorted(range(n), key=lambda i: doubled[i:i + n])
        last_b = bytes(data[(i - 1) % n] for i in order_s)
        return last_b, order_s.index(0)
    arr = np.frombuffer(data, dtype=np.uint8)
    rank = arr.astype(np.int64)
    order = np.arange(n)
    k = 1
    while k < n:
        second = np.roll(rank, -k)
        order = np.lexsort((order, second, rank))
        r1 = rank[order]
        r2 = second[order]
        changed = np.empty(n, dtype=np.int64)
        changed[0] = 0
        np.cumsum((r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1]),
                  out=changed[1:])
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = changed
        rank = new_rank
        if changed[-1] == n - 1:
            break
        k <<= 1
    last = arr[(order - 1) % n].tobytes()
    return last, int(np.nonzero(order == 0)[0][0])


def encode_bzip2(data: bytes) -> bytes:
    """Encode ``data`` as one bzip2 stream (level 1 container; blocks
    bounded by the sorted-rotations BWT limit). Raises on empty input
    (bzip2 streams always carry at least the EOS; stdlib accepts an
    empty-payload stream but record sinks never need one here)."""
    if not data:
        raise Bzip2Error("bzip2: empty payload")
    w = MsbWriter()
    w.out.extend(b"BZh1")
    combined = 0
    # Split the PLAIN data and RLE1 each block independently — exactly
    # the reference encoder's per-block shape, and it makes splitting
    # trivially safe (an RLE1 unit can never straddle blocks). RLE1
    # worst-case expansion is 5/4 (a bare 4-run gains a count byte),
    # so the plain quota keeps every block under _ENC_MAX_BLOCK.
    plain_quota = _ENC_MAX_BLOCK * 4 // 5
    for off in range(0, len(data), plain_quota):
        plain = data[off:off + plain_quota]
        rblk = _rle1(plain)
        blk_crc = crc32_bzip2(plain)
        combined = (((combined << 1) | (combined >> 31))
                    & 0xFFFFFFFF) ^ blk_crc
        bwt, orig_ptr = _bwt(rblk)
        used = sorted(set(bwt))
        rank = {b: i for i, b in enumerate(used)}
        alpha = len(used) + 2
        eob = alpha - 1
        # MTF + RLE2
        mtf = list(used)
        syms: list[int] = []
        zrun = 0

        def flush_zrun(z: int) -> None:
            while z:
                z -= 1
                syms.append(z & 1)          # RUNA=0 / RUNB=1 bijective
                z >>= 1

        for b in bwt:
            p = mtf.index(b)
            if p == 0:
                zrun += 1
                continue
            flush_zrun(zrun)
            zrun = 0
            mtf.pop(p)
            mtf.insert(0, b)
            syms.append(p + 1)
        flush_zrun(zrun)
        syms.append(eob)
        freqs = [0] * alpha
        for s in syms:
            freqs[s] += 1
        # every symbol needs a code in bzip2, hence the floor of 1
        lens = huffman_lengths([max(f, 1) for f in freqs], 17)
        codes = canonical_codes(lens)
        n_sel = (len(syms) + 49) // 50
        w.write(_BLOCK_MAGIC, 48)
        w.write(blk_crc, 32)
        w.write(0, 1)                       # not randomised
        w.write(orig_ptr, 24)
        used16 = 0
        for b in used:
            used16 |= 0x8000 >> (b >> 4)
        w.write(used16, 16)
        for i16 in range(16):
            if used16 & (0x8000 >> i16):
                bits = 0
                for b in used:
                    if (b >> 4) == i16:
                        bits |= 0x8000 >> (b & 15)
                w.write(bits, 16)
        w.write(2, 3)                       # nGroups = 2 (legal minimum)
        w.write(n_sel, 15)
        for _ in range(n_sel):
            w.write(0, 1)                   # selector MTF 0 -> group 0
        for _ in range(2):                  # two identical tables
            cur = lens[0]
            w.write(cur, 5)
            for ln in lens:
                while cur < ln:
                    w.write(0b10, 2)
                    cur += 1
                while cur > ln:
                    w.write(0b11, 2)
                    cur -= 1
                w.write(0, 1)
        # Symbol stream: pack all codes with numpy and append in one
        # bulk write (r12) — the per-symbol w.write loop was the
        # encoder's single largest cost (one method call + per-byte
        # flush per symbol).
        import numpy as np
        syms_np = np.asarray(syms, dtype=np.int64)
        L = np.asarray(lens, dtype=np.int64)[syms_np]
        C = np.asarray(codes, dtype=np.int64)[syms_np]
        ends = np.cumsum(L)
        total_bits = int(ends[-1])
        pos = np.arange(total_bits, dtype=np.int64)
        sym_id = np.searchsorted(ends, pos, side="right")
        bit_from_end = ends[sym_id] - pos - 1
        bits = ((C[sym_id] >> bit_from_end) & 1).astype(np.uint8)
        packed = np.packbits(bits)          # MSB-first, zero-padded
        pad = len(packed) * 8 - total_bits
        w.write_big(int.from_bytes(packed.tobytes(), "big") >> pad,
                    total_bits)
    w.write(_EOS_MAGIC, 48)
    w.write(combined, 32)
    return w.finish()
