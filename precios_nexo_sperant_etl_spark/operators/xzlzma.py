"""From-scratch .xz / LZMA2 / LZMA decoder — the dump container of the
xz-utils world (HF dataset shards, kernel/source tarballs, many public
corpora), built from the public `xz` file-format spec and the LZMA
specification shipped with the 7-Zip SDK:

- xz container: stream header (magic ``FD 37 7A 58 5A 00``, flags +
  CRC32), blocks (header with VLI sizes + filter chain, LZMA2 data,
  4-alignment padding, per-block check), index, stream footer — all
  structural CRCs verified, and the per-block check verified for
  CRC32, CRC64 (poly 0x42F0E1EBA9EA3693 reflected) and SHA-256.
- LZMA2 chunk layer: dict/state/props reset control bytes,
  uncompressed chunks, 21-bit unpacked sizes.
- LZMA core: 11-bit adaptive binary probabilities under a 32-bit
  range coder, the 12-state literal/match/rep state machine, lc/lp/pb
  literal contexts, matched-literal decoding, choice/low/mid/high
  length trees, position-slot + reverse-bittree + aligned-bits
  distance decoding, rep-distance rotation.

Decode-only by design: the stdlib ``lzma`` module IS the independent
encoder — every test and the registered query drive stdlib-compressed
streams through this decoder (the strongest interop direction), so
there is no self-roundtrip blind spot at all. Multi-stream files
(concatenated xz streams, incl. stream padding) are supported.
"""

from __future__ import annotations

import hashlib
import struct

from .bitio import crc32, crc64_xz


class XzError(ValueError):
    pass


# --- VLI (7 bits per byte, continuation high bit) ----------------------------

def _read_vli(data: bytes, pos: int) -> tuple[int, int]:
    v = 0
    shift = 0
    while True:
        if pos >= len(data) or shift > 63:
            raise XzError("xz: truncated/overlong VLI")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


# --- LZMA core ---------------------------------------------------------------

_K_NUM_STATES = 12
_K_MATCH_MIN_LEN = 2


class _RangeDecoder:
    __slots__ = ("d", "p", "range", "code")

    def __init__(self, data: bytes, pos: int) -> None:
        self.d = data
        if data[pos] != 0:
            raise XzError("lzma: first range-coder byte must be 0")
        self.code = int.from_bytes(data[pos + 1:pos + 5], "big")
        self.p = pos + 5
        self.range = 0xFFFFFFFF

    def _norm(self) -> None:
        if self.range < (1 << 24):
            self.range = (self.range << 8) & 0xFFFFFFFF
            self.code = ((self.code << 8)
                         | (self.d[self.p] if self.p < len(self.d) else 0)) \
                & 0xFFFFFFFF
            self.p += 1

    def bit(self, probs: list[int], i: int) -> int:
        prob = probs[i]
        bound = (self.range >> 11) * prob
        if self.code < bound:
            self.range = bound
            probs[i] = prob + ((2048 - prob) >> 5)
            self._norm()
            return 0
        self.code -= bound
        self.range -= bound
        probs[i] = prob - (prob >> 5)
        self._norm()
        return 1

    def bittree(self, probs: list[int], nbits: int) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) | self.bit(probs, m)
        return m - (1 << nbits)

    def bittree_rev(self, probs: list[int], nbits: int) -> int:
        m = 1
        sym = 0
        for i in range(nbits):
            b = self.bit(probs, m)
            m = (m << 1) | b
            sym |= b << i
        return sym

    def direct(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            self.range >>= 1
            self.code = (self.code - self.range) & 0xFFFFFFFF
            t = 0 - (self.code >> 31)
            self.code = (self.code + (self.range & t)) & 0xFFFFFFFF
            self._norm()
            v = (v << 1) + t + 1
        return v


def _new_probs(n: int) -> list[int]:
    return [1024] * n


class _LenDecoder:
    def __init__(self) -> None:
        self.choice = _new_probs(2)
        self.low = [_new_probs(8) for _ in range(16)]
        self.mid = [_new_probs(8) for _ in range(16)]
        self.high = _new_probs(256)

    def decode(self, rc: _RangeDecoder, pos_state: int) -> int:
        if not rc.bit(self.choice, 0):
            return 2 + rc.bittree(self.low[pos_state], 3)
        if not rc.bit(self.choice, 1):
            return 10 + rc.bittree(self.mid[pos_state], 3)
        return 18 + rc.bittree(self.high, 8)


class _LzmaState:
    """Probability model + machine state; survives across LZMA2 chunks
    until a state-reset control byte."""

    def __init__(self, lc: int, lp: int, pb: int) -> None:
        self.lc, self.lp, self.pb = lc, lp, pb
        self.state = 0
        self.rep0 = self.rep1 = self.rep2 = self.rep3 = 0
        self.lit = _new_probs(0x300 << (lc + lp))
        self.is_match = _new_probs(_K_NUM_STATES << 4)
        self.is_rep = _new_probs(_K_NUM_STATES)
        self.is_rep_g0 = _new_probs(_K_NUM_STATES)
        self.is_rep_g1 = _new_probs(_K_NUM_STATES)
        self.is_rep_g2 = _new_probs(_K_NUM_STATES)
        self.is_rep0_long = _new_probs(_K_NUM_STATES << 4)
        self.pos_slot = [_new_probs(64) for _ in range(4)]
        self.spec_pos = _new_probs(115)
        self.align = _new_probs(16)
        self.len_dec = _LenDecoder()
        self.rep_len_dec = _LenDecoder()


def _bit_t(probs, i, rng, code, rp, data, dlen):
    """Tuple-state twin of ``_RangeDecoder.bit`` for the non-literal
    paths of the chunk decoder (same arithmetic, same normalization)."""
    prob = probs[i]
    bound = (rng >> 11) * prob
    if code < bound:
        rng = bound
        probs[i] = prob + ((2048 - prob) >> 5)
        b = 0
    else:
        code -= bound
        rng -= bound
        probs[i] = prob - (prob >> 5)
        b = 1
    if rng < 0x1000000:
        rng = (rng << 8) & 0xFFFFFFFF
        code = ((code << 8) | (data[rp] if rp < dlen else 0)) & 0xFFFFFFFF
        rp += 1
    return b, rng, code, rp


def _bittree_t(probs, nbits, rng, code, rp, data, dlen):
    m = 1
    for _ in range(nbits):
        b, rng, code, rp = _bit_t(probs, m, rng, code, rp, data, dlen)
        m = (m << 1) | b
    return m - (1 << nbits), rng, code, rp


def _bittree_rev_t(probs, off, nbits, rng, code, rp, data, dlen):
    m = 1
    sym = 0
    for i in range(nbits):
        b, rng, code, rp = _bit_t(probs, off + m - 1, rng, code, rp,
                                  data, dlen)
        m = (m << 1) | b
        sym |= b << i
    return sym, rng, code, rp


def _direct_t(nbits, rng, code, rp, data, dlen):
    v = 0
    for _ in range(nbits):
        rng >>= 1
        code = (code - rng) & 0xFFFFFFFF
        t = 0 - (code >> 31)
        code = (code + (rng & t)) & 0xFFFFFFFF
        if rng < 0x1000000:
            rng = (rng << 8) & 0xFFFFFFFF
            code = ((code << 8)
                    | (data[rp] if rp < dlen else 0)) & 0xFFFFFFFF
            rp += 1
        v = (v << 1) + t + 1
    return v, rng, code, rp


def _len_t(dec, pos_state, rng, code, rp, data, dlen):
    b, rng, code, rp = _bit_t(dec.choice, 0, rng, code, rp, data, dlen)
    if not b:
        v, rng, code, rp = _bittree_t(dec.low[pos_state], 3, rng, code,
                                      rp, data, dlen)
        return 2 + v, rng, code, rp
    b, rng, code, rp = _bit_t(dec.choice, 1, rng, code, rp, data, dlen)
    if not b:
        v, rng, code, rp = _bittree_t(dec.mid[pos_state], 3, rng, code,
                                      rp, data, dlen)
        return 10 + v, rng, code, rp
    v, rng, code, rp = _bittree_t(dec.high, 8, rng, code, rp, data, dlen)
    return 18 + v, rng, code, rp


def _decode_lzma_chunk(data: bytes, pos: int, comp_end: int,
                       st: _LzmaState, out: bytearray,
                       unpacked: int | None,
                       allow_marker: bool = False) -> None:
    """Decode exactly ``unpacked`` bytes into ``out`` (which carries
    the whole dictionary history); ``unpacked=None`` decodes until the
    LZMA end marker (the legacy .lzma unknown-size mode).

    r12 hot-loop form (guide §4.2 applied to the one codec that cannot
    batch: range coding is ADAPTIVE, every bit updates the probability
    it was decoded with, so there is no Huffman-style table to
    precompute). Profiling put 65% of decode time in the per-bit
    ``_RangeDecoder.bit``/``_norm`` METHOD calls (432k calls / 300
    docs), so the literal paths — the bulk of all bits — run fully
    inlined on local ints here, and the rarer match/rep paths go
    through module-level tuple-state helpers (``_bit_t`` family) with
    the same arithmetic. ``_RangeDecoder`` keeps the readable
    reference form and stays bit-for-bit equivalent (lzma interop
    tests pin both). LZ copies use one slice extend when source and
    destination do not overlap."""
    if data[pos] != 0:
        raise XzError("lzma: first range-coder byte must be 0")
    code = int.from_bytes(data[pos + 1:pos + 5], "big")
    rp = pos + 5
    rng = 0xFFFFFFFF
    dlen = len(data)
    n = len(out)
    limit = None if unpacked is None else n + unpacked
    pb_mask = (1 << st.pb) - 1
    lp_mask = (1 << st.lp) - 1
    lc = st.lc
    state = st.state
    rep0, rep1, rep2, rep3 = st.rep0, st.rep1, st.rep2, st.rep3
    lit = st.lit
    is_match = st.is_match
    while limit is None or n < limit:
        if rp > comp_end:
            raise XzError("lzma: truncated stream (no end marker)")
        pos_state = n & pb_mask
        i = (state << 4) + pos_state
        prob = is_match[i]
        bound = (rng >> 11) * prob
        if code < bound:
            # literal — fully inlined bit decodes
            rng = bound
            is_match[i] = prob + ((2048 - prob) >> 5)
            if rng < 0x1000000:
                rng = (rng << 8) & 0xFFFFFFFF
                code = ((code << 8)
                        | (data[rp] if rp < dlen else 0)) & 0xFFFFFFFF
                rp += 1
            prev = out[-1] if n else 0
            probs_off = 0x300 * (((n & lp_mask) << lc)
                                 + (prev >> (8 - lc)))
            if state >= 7:
                match_byte = out[n - rep0 - 1]
                sym = 1
                while sym < 0x100:
                    match_bit = (match_byte >> 7) & 1
                    match_byte = (match_byte << 1) & 0xFF
                    i = probs_off + ((1 + match_bit) << 8) + sym
                    prob = lit[i]
                    bound = (rng >> 11) * prob
                    if code < bound:
                        rng = bound
                        lit[i] = prob + ((2048 - prob) >> 5)
                        b = 0
                    else:
                        code -= bound
                        rng -= bound
                        lit[i] = prob - (prob >> 5)
                        b = 1
                    if rng < 0x1000000:
                        rng = (rng << 8) & 0xFFFFFFFF
                        code = ((code << 8) | (data[rp] if rp < dlen
                                               else 0)) & 0xFFFFFFFF
                        rp += 1
                    sym = (sym << 1) | b
                    if match_bit != b:
                        break
            else:
                sym = 1
            while sym < 0x100:
                i = probs_off + sym
                prob = lit[i]
                bound = (rng >> 11) * prob
                if code < bound:
                    rng = bound
                    lit[i] = prob + ((2048 - prob) >> 5)
                    sym <<= 1
                else:
                    code -= bound
                    rng -= bound
                    lit[i] = prob - (prob >> 5)
                    sym = (sym << 1) | 1
                if rng < 0x1000000:
                    rng = (rng << 8) & 0xFFFFFFFF
                    code = ((code << 8)
                            | (data[rp] if rp < dlen else 0)) & 0xFFFFFFFF
                    rp += 1
            out.append(sym & 0xFF)
            n += 1
            state = (0 if state < 4 else state - 3
                     if state < 10 else state - 6)
            continue
        code -= bound
        rng -= bound
        is_match[i] = prob - (prob >> 5)
        if rng < 0x1000000:
            rng = (rng << 8) & 0xFFFFFFFF
            code = ((code << 8)
                    | (data[rp] if rp < dlen else 0)) & 0xFFFFFFFF
            rp += 1
        # match / rep
        b, rng, code, rp = _bit_t(st.is_rep, state, rng, code, rp,
                                  data, dlen)
        if b:
            if not n and rep0 == 0:
                raise XzError("lzma: rep match with empty history")
            b, rng, code, rp = _bit_t(st.is_rep_g0, state, rng, code,
                                      rp, data, dlen)
            if not b:
                b, rng, code, rp = _bit_t(st.is_rep0_long,
                                          (state << 4) + pos_state,
                                          rng, code, rp, data, dlen)
                if not b:
                    state = 9 if state < 7 else 11
                    out.append(out[n - rep0 - 1])
                    n += 1
                    continue
            else:
                b, rng, code, rp = _bit_t(st.is_rep_g1, state, rng,
                                          code, rp, data, dlen)
                if not b:
                    dist = rep1
                else:
                    b, rng, code, rp = _bit_t(st.is_rep_g2, state, rng,
                                              code, rp, data, dlen)
                    if not b:
                        dist = rep2
                    else:
                        dist = rep3
                        rep3 = rep2
                    rep2 = rep1
                rep1 = rep0
                rep0 = dist
            length, rng, code, rp = _len_t(st.rep_len_dec, pos_state,
                                           rng, code, rp, data, dlen)
            state = 8 if state < 7 else 11
        else:
            rep3, rep2, rep1 = rep2, rep1, rep0
            length, rng, code, rp = _len_t(st.len_dec, pos_state, rng,
                                           code, rp, data, dlen)
            state = 7 if state < 7 else 10
            len_state = min(length - _K_MATCH_MIN_LEN, 3)
            slot, rng, code, rp = _bittree_t(st.pos_slot[len_state], 6,
                                             rng, code, rp, data, dlen)
            if slot < 4:
                dist = slot
            else:
                nd = (slot >> 1) - 1
                dist = (2 | (slot & 1)) << nd
                if slot < 14:
                    v, rng, code, rp = _bittree_rev_t(
                        st.spec_pos, dist - slot - 1, nd, rng, code,
                        rp, data, dlen)
                    dist += v
                else:
                    v, rng, code, rp = _direct_t(nd - 4, rng, code, rp,
                                                 data, dlen)
                    dist += v << 4
                    v, rng, code, rp = _bittree_rev_t(
                        st.align, 0, 4, rng, code, rp, data, dlen)
                    dist += v
            if dist == 0xFFFFFFFF:
                if allow_marker:
                    st.state = state
                    st.rep0, st.rep1, st.rep2, st.rep3 = (rep0, rep1,
                                                          rep2, rep3)
                    return
                raise XzError("lzma: unexpected end marker inside LZMA2")
            rep0 = dist
        if rep0 >= n or rep0 < 0:
            raise XzError("lzma: distance past dictionary start")
        if limit is not None and n + length > limit:
            raise XzError("lzma: match overruns chunk size")
        src = n - rep0 - 1
        if rep0 + 1 >= length:
            out += out[src:src + length]
        else:
            for i in range(length):
                out.append(out[src + i])
        n += length
    if rp > comp_end:
        raise XzError("lzma: range coder read past chunk")
    st.state = state
    st.rep0, st.rep1, st.rep2, st.rep3 = rep0, rep1, rep2, rep3


def _bittree_rev_at(rc: _RangeDecoder, probs: list[int], off: int,
                    nbits: int) -> int:
    m = 1
    sym = 0
    for i in range(nbits):
        b = rc.bit(probs, off + m - 1)
        m = (m << 1) | b
        sym |= b << i
    return sym


def decode_lzma2(data: bytes, out: bytearray | None = None) -> bytes:
    """Decode an LZMA2 chunk sequence (ends at the 0x00 control)."""
    out = bytearray() if out is None else out
    st: _LzmaState | None = None
    props: tuple[int, int, int] | None = None
    pos = 0
    need_dict_reset = True
    need_state_reset = False
    while True:
        if pos >= len(data):
            raise XzError("lzma2: missing end-of-payload control")
        c = data[pos]
        pos += 1
        if c == 0x00:
            break
        if c in (0x01, 0x02):
            if c == 0x01:
                del out[:]
                need_dict_reset = False
            elif need_dict_reset:
                raise XzError("lzma2: first chunk must reset the dict")
            size = int.from_bytes(data[pos:pos + 2], "big") + 1
            pos += 2
            out.extend(data[pos:pos + size])
            pos += size
            # the spec requires the next LZMA chunk to reset its state
            need_state_reset = True
            continue
        if c < 0x80:
            raise XzError(f"lzma2: bad control byte {c:#x}")
        unpacked = (((c & 0x1F) << 16)
                    + int.from_bytes(data[pos:pos + 2], "big") + 1)
        pos += 2
        comp = int.from_bytes(data[pos:pos + 2], "big") + 1
        pos += 2
        reset = (c >> 5) & 3
        if reset == 3:
            del out[:]
            need_dict_reset = False
        if reset >= 2:
            pbyte = data[pos]
            pos += 1
            if pbyte >= 225:
                raise XzError("lzma2: bad props byte")
            props = (pbyte % 9, (pbyte // 9) % 5, pbyte // 45)
            if props[0] + props[1] > 4:
                raise XzError("lzma2: lc+lp > 4 unsupported")
        if reset >= 1:
            if props is None:
                raise XzError("lzma2: state reset before props")
            st = _LzmaState(*props)
            need_state_reset = False
        if st is None or need_state_reset:
            raise XzError("lzma2: chunk needs a state reset first")
        if need_dict_reset:
            raise XzError("lzma2: first chunk must reset the dict")
        _decode_lzma_chunk(data, pos, pos + comp, st, out, unpacked)
        pos += comp
    return bytes(out)


# --- xz container ------------------------------------------------------------

_XZ_MAGIC = b"\xfd7zXZ\x00"
_CHECK_SIZES = {0x00: 0, 0x01: 4, 0x04: 8, 0x0A: 32}
_CHECK_NAMES = {0x00: "none", 0x01: "crc32", 0x04: "crc64",
                0x0A: "sha256"}


def decode_xz(blob: bytes) -> dict:
    """Decode a (possibly multi-stream) .xz blob with full structural
    verification. Returns ``{'content', 'n_streams', 'n_blocks',
    'checks'}`` where checks is the list of per-stream check names."""
    try:
        return _decode_xz(blob)
    except (IndexError, struct.error) as e:
        # truncation runs a header, index or footer read off the end
        raise XzError("xz: truncated stream") from e


def _decode_xz(blob: bytes) -> dict:
    out = bytearray()
    n_streams = 0
    n_blocks = 0
    checks: list[str] = []
    pos = 0
    while pos < len(blob):
        if blob[pos:pos + 4] == b"\x00\x00\x00\x00":
            pos += 4                      # stream padding (4-aligned)
            continue
        if blob[pos:pos + 6] != _XZ_MAGIC:
            raise XzError("xz: bad stream magic")
        flags = blob[pos + 6:pos + 8]
        if flags[0] != 0 or flags[1] not in _CHECK_SIZES:
            raise XzError("xz: unsupported stream flags")
        if struct.unpack("<I", blob[pos + 8:pos + 12])[0] != \
                crc32(flags):
            raise XzError("xz: stream-header CRC mismatch")
        check_id = flags[1]
        checks.append(_CHECK_NAMES[check_id])
        pos += 12
        block_records = []
        while True:
            hdr_start = pos
            first = blob[pos]
            if first == 0x00:            # index indicator
                break
            hdr_size = (first + 1) * 4
            hdr = blob[pos:pos + hdr_size]
            if struct.unpack("<I", hdr[-4:])[0] != crc32(hdr[:-4]):
                raise XzError("xz: block-header CRC mismatch")
            bflags = hdr[1]
            n_filters = (bflags & 3) + 1
            p = 2
            comp_size = None
            uncomp_size = None
            if bflags & 0x40:
                comp_size, p = _read_vli(hdr, p)
            if bflags & 0x80:
                uncomp_size, p = _read_vli(hdr, p)
            filters = []
            for _ in range(n_filters):
                fid, p = _read_vli(hdr, p)
                psz, p = _read_vli(hdr, p)
                filters.append((fid, hdr[p:p + psz]))
                p += psz
            if len(filters) != 1 or filters[0][0] != 0x21:
                raise XzError("xz: only a single LZMA2 filter supported")
            pos += hdr_size
            before = len(out)
            data_start = pos
            # LZMA2 decodes until its end marker; comp_size (when
            # present) cross-checks afterwards
            chunk_out = bytearray(out)
            content = decode_lzma2(
                blob[data_start:
                     data_start + comp_size if comp_size else len(blob)],
                bytearray())
            out.extend(content)
            used = None
            if comp_size is not None:
                used = comp_size
            else:
                # re-walk the chunk headers to find the end
                used = _lzma2_extent(blob, data_start)
            pos = data_start + used
            while pos & 3:               # block padding to 4
                if blob[pos] != 0:
                    raise XzError("xz: nonzero block padding")
                pos += 1
            csz = _CHECK_SIZES[check_id]
            cbytes = blob[pos:pos + csz]
            pos += csz
            if check_id == 0x01:
                if struct.unpack("<I", cbytes)[0] != crc32(content):
                    raise XzError("xz: block CRC32 mismatch")
            elif check_id == 0x04:
                if struct.unpack("<Q", cbytes)[0] != crc64_xz(content):
                    raise XzError("xz: block CRC64 mismatch")
            elif check_id == 0x0A:
                if cbytes != hashlib.sha256(content).digest():
                    raise XzError("xz: block SHA-256 mismatch")
            if uncomp_size is not None and \
                    uncomp_size != len(out) - before:
                raise XzError("xz: uncompressed-size mismatch")
            unpadded = (hdr_size + used + csz)
            block_records.append((unpadded, len(out) - before))
            n_blocks += 1
        # index
        idx_start = pos
        pos += 1
        nrec, pos = _read_vli(blob, pos)
        if nrec != len(block_records):
            raise XzError("xz: index record count mismatch")
        for want in block_records:
            up, pos = _read_vli(blob, pos)
            uc, pos = _read_vli(blob, pos)
            if (up, uc) != want:
                raise XzError("xz: index record mismatch")
        while pos & 3:
            if blob[pos] != 0:
                raise XzError("xz: nonzero index padding")
            pos += 1
        if struct.unpack("<I", blob[pos:pos + 4])[0] != \
                crc32(blob[idx_start:pos]):
            raise XzError("xz: index CRC mismatch")
        pos += 4
        index_size = pos - idx_start
        # footer: CRC32(backward_size+flags), backward, flags, "YZ"
        f_crc, backward = struct.unpack("<II", blob[pos:pos + 8])
        if (backward + 1) * 4 != index_size:
            raise XzError("xz: footer backward-size mismatch")
        if blob[pos + 8:pos + 10] != flags:
            raise XzError("xz: footer flags mismatch")
        if blob[pos + 10:pos + 12] != b"YZ":
            raise XzError("xz: bad footer magic")
        if f_crc != crc32(blob[pos + 4:pos + 10]):
            raise XzError("xz: footer CRC mismatch")
        pos += 12
        n_streams += 1
    if not n_streams:
        raise XzError("xz: empty input")
    return {"content": bytes(out), "n_streams": n_streams,
            "n_blocks": n_blocks, "checks": checks}


def _lzma2_extent(data: bytes, pos: int) -> int:
    """Length of an LZMA2 chunk sequence starting at ``pos`` (walking
    chunk headers only), including the 0x00 terminator."""
    start = pos
    while True:
        c = data[pos]
        pos += 1
        if c == 0x00:
            return pos - start
        if c in (0x01, 0x02):
            pos += 2 + int.from_bytes(data[pos:pos + 2], "big") + 1
        elif c >= 0x80:
            pos += 2
            comp = int.from_bytes(data[pos:pos + 2], "big") + 1
            pos += 2
            if ((c >> 5) & 3) >= 2:
                pos += 1
            pos += comp
        else:
            raise XzError(f"lzma2: bad control byte {c:#x}")


def decode_lzma_alone(blob: bytes) -> bytes:
    """Decode the legacy ``.lzma`` container (LZMA_Alone / stdlib
    FORMAT_ALONE): 1 props byte, 4-byte dict size, 8-byte
    uncompressed size (all-0xFF = unknown → end-marker terminated),
    then a single LZMA stream. Exercises the end-marker path LZMA2
    never takes."""
    if len(blob) < 13:
        raise XzError("lzma_alone: truncated header")
    pbyte = blob[0]
    if pbyte >= 225:
        raise XzError("lzma_alone: bad props byte")
    lc = pbyte % 9
    lp = (pbyte // 9) % 5
    pb = pbyte // 45
    if lc + lp > 4:
        raise XzError("lzma_alone: lc+lp > 4 unsupported")
    size = int.from_bytes(blob[5:13], "little")
    st = _LzmaState(lc, lp, pb)
    out = bytearray()
    unpacked = None if size == 0xFFFFFFFFFFFFFFFF else size
    _decode_lzma_chunk(blob, 13, len(blob), st, out, unpacked,
                       allow_marker=True)
    if unpacked is not None and len(out) != unpacked:
        raise XzError("lzma_alone: size mismatch")
    return bytes(out)
