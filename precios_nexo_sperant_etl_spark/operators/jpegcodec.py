"""REAL baseline JPEG entropy codec — stdlib + numpy only.

This closes the last compressed-image gap in the multimodal seam
(reference parity note: the reference pipeline treats media blobs as
opaque attachments, `etl/precios.py` passes them through untouched; a
training-data curation engine must at least decode them). BMP, WAV and
PNG decode were already real (``operators/multimodal.py``); JPEG was an
honest header probe. This module implements the actual entropy layer of
ITU-T T.81 baseline sequential DCT from the public spec:

- marker-segment walk (SOI / DQT / DHT / SOF0 / DRI / SOS / EOI),
- canonical Huffman table reconstruction from BITS/HUFFVAL (Annex C),
- the entropy-coded segment bit reader with 0xFF00 byte un-stuffing and
  RSTn restart handling (DC predictors reset per restart interval),
- DC differential + AC run-length/EOB/ZRL coefficient decoding (F.2.2),
- dequantization, inverse zigzag, separable float64 IDCT (A.3.3),
  level shift and clamp,
- JFIF YCbCr -> RGB for 3-component scans.

Supported honestly: 8-bit baseline (SOF0/SOF1), grayscale and
3-component interleaved scans at ANY integer sampling-factor
combination — 4:4:4, 4:2:2 (2x1), 4:2:0 (2x2), per T.81 A.2.3 MCU
interleave with per-component block grids and chroma upsampled back
by pixel replication — optional restart intervals, AND progressive
DCT (SOF2, added r8): multi-scan coefficient accumulation with
spectral selection, DC/AC successive approximation (the G.2
refinement procedures incl. correction bits and cross-block EOB
runs). NOT supported — and raising :class:`UnsupportedJpeg` so
callers can fall back to the metadata probe rather than mislabel the
payload corrupt — are 12-bit precision, arithmetic coding, lossless/
hierarchical SOFs, and fractional sampling ratios (Hmax not divisible
by Hi — pathological in practice).

The matching encoder exists so value oracles and property tests can
construct genuine entropy-coded streams without a codec library: it
runs the real forward pipeline (level shift, float64 FDCT, quantize,
zigzag, DC-diff + AC run-length Huffman with the same Annex K tables,
byte stuffing, restart markers). Flat 8x8 blocks survive the float
transform pair bit-exactly (the DC basis is constant: FDCT puts the
whole block into DC = 8*(v-128) with zero ACs, and the IDCT of a
DC-only block is uniform DC/8), which is what makes a hash-strict
DuckDB oracle over decoded pixels possible — see
``jpeg_decode_roundtrip`` in ``queries_scale_part2.py``, which builds
its images with :func:`flat_quad_gray` and reads them back with
:func:`gray_decode_stats` (so does ``jpeg_progressive_roundtrip``).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "UnsupportedJpeg",
    "encode_baseline_gray",
    "encode_baseline_ycbcr",
    "encode_progressive_gray",
    "decode_baseline",
    "flat_quad_gray",
    "gray_decode_stats",
]


class UnsupportedJpeg(ValueError):
    """Valid-looking JPEG using a feature outside the subset
    implemented here (12-bit, arithmetic coding, lossless/hierarchical,
    fractional sampling ratios). Callers fall back to the header probe;
    plain ValueError still means the payload is corrupt."""


# --- Annex K reference tables (public spec constants) -----------------------

#: Zigzag order: ZIGZAG[i] = natural (row*8+col) position of the i-th
#: coefficient in transmission order.
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)

# Annex K.3: typical luminance Huffman tables. BITS[i] = number of codes
# of length i+1; VALS lists the symbol for each code in canonical order.
DC_LUM_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_LUM_VALS = tuple(range(12))

AC_LUM_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_LUM_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA)


def _dct_matrix() -> np.ndarray:
    """8x8 type-II DCT basis with orthonormal scaling: row u of M is
    C(u)/2 * cos((2x+1) u pi / 16). FDCT = M @ B @ M.T, IDCT = M.T @ S @ M
    (A.3.3 expressed as one separable matrix pair)."""
    m = np.zeros((8, 8), dtype=np.float64)
    for u in range(8):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_DCT_M = _dct_matrix()


def _canonical_codes(bits, vals):
    """Annex C code assignment: lengths expand BITS, codes count up from
    0 with a left shift at each length boundary. Returns
    {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _encode_codes(bits, vals):
    """Encoder-side view of the same canonical assignment:
    {symbol: (code, length)}."""
    return {sym: (code, length)
            for (length, code), sym in _canonical_codes(bits, vals).items()}


# --- encoder -----------------------------------------------------------------

class _BitWriter:
    """MSB-first bit accumulator with T.81 byte stuffing (0xFF -> 0xFF00
    inside the entropy-coded segment) and 1-padding on flush (F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def put(self, code: int, length: int) -> None:
        if length == 0:
            return
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            b = (self._acc >> (self._nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self._nbits -= 8
            self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.put((1 << pad) - 1, pad)


def _magnitude_bits(v: int) -> tuple[int, int]:
    """(SSSS category, amplitude bits) for a coefficient value: negative
    values transmit as value-1 in SSSS low bits (F.1.2.1.1, table F.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    ssss = a.bit_length()
    return ssss, (v if v > 0 else v - 1) & ((1 << ssss) - 1)


def _encode_block(wr: _BitWriter, block: np.ndarray, qmat: np.ndarray,
                  dc_codes: dict, ac_codes: dict, pred: int) -> int:
    """FDCT + quantize + zigzag + DC-diff/AC-run-length Huffman encode
    one level-shifted 8x8 block; returns the new DC predictor."""
    coef = _DCT_M @ block @ _DCT_M.T
    q = np.round(coef / qmat).astype(np.int64)
    zz = q.reshape(64)[ZIGZAG]
    # DC: differential, category + amplitude
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    ssss, amp = _magnitude_bits(diff)
    code, length = dc_codes[ssss]
    wr.put(code, length)
    wr.put(amp, ssss)
    # AC: run-length of zeros + category, ZRL for 16 zeros, EOB
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]     # ZRL
            wr.put(zc, zl)
            run -= 16
        ssss, amp = _magnitude_bits(v)
        code, length = ac_codes[(run << 4) | ssss]
        wr.put(code, length)
        wr.put(amp, ssss)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]   # EOB
        wr.put(code, length)
    return pred


def _encode_interleaved(planes: list[np.ndarray],
                        sampling: list[tuple[int, int]],
                        quant: np.ndarray,
                        restart_interval: int) -> bytes:
    """Shared entropy-coding core: interleave the (level-shiftable)
    component planes MCU by MCU (T.81 A.2.3 block order), one DC
    predictor per component, Annex-K luminance tables for everything,
    genuine byte stuffing and restart markers; then wrap in the marker
    segments. Plane ``i`` must already be at its natural (subsampled)
    resolution, dims multiples of 8*sampling[i]."""
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    for p, (hi, vi) in zip(planes, sampling):
        eh, ew = planes[0].shape[0] * vi // vmax, \
            planes[0].shape[1] * hi // hmax
        if p.shape != (eh, ew) or eh % 8 or ew % 8 or eh == 0:
            raise ValueError("plane shape inconsistent with sampling")
    h, w = int(planes[0].shape[0]), int(planes[0].shape[1])
    mcux, mcuy = w // (8 * hmax), h // (8 * vmax)

    dc_codes = _encode_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _encode_codes(AC_LUM_BITS, AC_LUM_VALS)
    qmat = quant[np.argsort(ZIGZAG)].reshape(8, 8)  # natural order

    shifted = [p.astype(np.float64) - 128.0 for p in planes]
    wr = _BitWriter()
    preds = [0] * len(planes)
    rst = 0
    entropy_chunks: list[bytes] = []
    for mcu in range(mcux * mcuy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wr.flush()
            entropy_chunks.append(bytes(wr.out))
            entropy_chunks.append(bytes((0xFF, 0xD0 + rst)))
            rst = (rst + 1) % 8
            wr = _BitWriter()
            preds = [0] * len(planes)
        my, mx = divmod(mcu, mcux)
        for ci, (hi, vi) in enumerate(sampling):
            for byi in range(vi):
                for bxi in range(hi):
                    by = (my * vi + byi) * 8
                    bx = (mx * hi + bxi) * 8
                    block = shifted[ci][by:by + 8, bx:bx + 8]
                    preds[ci] = _encode_block(wr, block, qmat,
                                              dc_codes, ac_codes,
                                              preds[ci])
    wr.flush()
    entropy_chunks.append(bytes(wr.out))

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    ncomp = len(planes)
    dqt = seg(0xDB, b"\x00" + bytes(int(q) for q in quant))
    dht = (seg(0xC4, b"\x00" + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
           + seg(0xC4, b"\x10" + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS)))
    sof_comps = b"".join(
        bytes((cid + 1, (hi << 4) | vi, 0))
        for cid, (hi, vi) in enumerate(sampling))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    dri = (seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    sos_comps = b"".join(bytes((cid + 1, 0x00)) for cid in range(ncomp))
    sos = seg(0xDA, bytes((ncomp,)) + sos_comps + b"\x00\x3f\x00")
    return (b"\xff\xd8" + dqt + dht + sof + dri + sos
            + b"".join(entropy_chunks) + b"\xff\xd9")


def _check_quant(quant: np.ndarray | None) -> np.ndarray:
    if quant is None:
        quant = np.ones(64, dtype=np.int64)
    quant = np.asarray(quant, dtype=np.int64).reshape(64)
    if np.any(quant < 1) or np.any(quant > 255):
        raise ValueError("8-bit quant table entries must be in [1, 255]")
    return quant


def encode_baseline_gray(px: np.ndarray, quant: np.ndarray | None = None,
                         restart_interval: int = 0) -> bytes:
    """Encode an (h, w) uint8 grayscale image, h and w multiples of 8,
    as a genuine baseline-sequential JPEG: real FDCT, real quantization,
    real Huffman entropy coding with the Annex K luminance tables, real
    byte stuffing, optional real restart markers. Raises on non-multiple
    -of-8 shapes (no partial-MCU padding here; the decoder handles
    arbitrary declared dimensions by cropping, which pytest covers with
    padded inputs)."""
    h, w = int(px.shape[0]), int(px.shape[1])
    if h % 8 or w % 8 or h == 0 or w == 0:
        raise ValueError("encode_baseline_gray needs multiple-of-8 dims")
    return _encode_interleaved([px], [(1, 1)], _check_quant(quant),
                               restart_interval)


def encode_baseline_ycbcr(y: np.ndarray, cb: np.ndarray, cr: np.ndarray,
                          sampling: tuple = ((2, 2), (1, 1), (1, 1)),
                          quant: np.ndarray | None = None,
                          restart_interval: int = 0) -> bytes:
    """Encode a 3-component YCbCr image as genuine baseline JPEG with
    chroma subsampling — ``sampling`` gives (Hi, Vi) per component in
    SOF order, default 4:2:0. ``cb``/``cr`` are provided at their
    SUBSAMPLED resolution (the caller owns the downsample filter); the
    luma dims must be multiples of the MCU size (8*Hmax x 8*Vmax)."""
    samp = [tuple(map(int, s)) for s in sampling]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    h, w = int(y.shape[0]), int(y.shape[1])
    if h % (8 * vmax) or w % (8 * hmax) or h == 0 or w == 0:
        raise ValueError("luma dims must be multiples of the MCU size")
    return _encode_interleaved([y, cb, cr], samp, _check_quant(quant),
                               restart_interval)


# --- decoder -----------------------------------------------------------------

class _BitReader:
    """Entropy-coded-segment bit reader: un-stuffs 0xFF00, stops at any
    real marker (leaving it for the caller), MSB-first."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy-coded segment")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2              # stuffed literal 0xFF
            else:
                raise _MarkerReached()     # real marker: caller's problem
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._nbits += 8

    def bit(self) -> int:
        if self._nbits == 0:
            self._fill()
        self._nbits -= 1
        b = (self._acc >> self._nbits) & 1
        # mask consumed bits away: without this the accumulator grows
        # into an arbitrary-precision int spanning the whole stream and
        # every shift turns O(stream) — quadratic decode (caught by
        # tools/scale_stress_media.py's per-block cost curve)
        self._acc &= (1 << self._nbits) - 1
        return b

    def bits(self, n: int) -> int:
        # bulk form (r12): one slice of the accumulator instead of n
        # bit() calls — same MSB-first semantics, same truncation /
        # marker behavior (a _fill mid-way raises before any of the n
        # bits are consumed, where the per-bit form had consumed a
        # prefix; both abort the block identically).
        if n == 0:
            return 0
        while self._nbits < n:
            self._fill()
        self._nbits -= n
        v = (self._acc >> self._nbits) & ((1 << n) - 1)
        self._acc &= (1 << self._nbits) - 1
        return v

    def align(self) -> None:
        """Drop pad bits to the next byte boundary (before RST/EOI)."""
        self._nbits = 0
        self._acc = 0


class _MarkerReached(Exception):
    """Bit reader hit a non-stuffed marker inside the ECS."""


def _extend(amp: int, ssss: int) -> int:
    """EXTEND (F.2.2.1): map SSSS amplitude bits back to the signed
    coefficient value."""
    if ssss == 0:
        return 0
    if amp < (1 << (ssss - 1)):
        return amp - (1 << ssss) + 1
    return amp


def _huff_decode(rd: _BitReader, table: dict) -> int:
    # r12: per-bit state in locals, synced to the reader around fills —
    # the per-bit method call was the decoder's hottest line (same
    # arithmetic, same (length, code) dict probe order).
    acc, nb = rd._acc, rd._nbits
    get = table.get
    code = 0
    for length in range(1, 17):
        if nb == 0:
            rd._acc, rd._nbits = acc, nb
            rd._fill()
            acc, nb = rd._acc, rd._nbits
        nb -= 1
        code = (code << 1) | ((acc >> nb) & 1)
        acc &= (1 << nb) - 1
        sym = get((length, code))
        if sym is not None:
            rd._acc, rd._nbits = acc, nb
            return sym
    rd._acc, rd._nbits = acc, nb
    raise ValueError("invalid Huffman code in entropy segment")


def decode_baseline(payload: bytes) -> dict:
    """Decode a baseline-sequential JPEG (8-bit, 1x1 sampling per
    component) to pixels. Returns ``{"width", "height", "n_components",
    "pixels"}`` where pixels is (h, w) uint8 for grayscale or (h, w, 3)
    uint8 RGB (JFIF YCbCr conversion) for 3-component scans.

    Raises :class:`UnsupportedJpeg` for valid-but-out-of-subset streams
    (progressive, subsampled, 12-bit, arithmetic, 4-component) and
    plain ``ValueError`` for corrupt ones — including bit corruption
    that surfaces as missing table ids or short reads deep in the
    entropy layer (normalized here so wild data fails uniformly).
    """
    try:
        return _decode_baseline_inner(payload)
    except (KeyError, IndexError, OverflowError, struct.error) as ex:
        raise ValueError(f"corrupt JPEG stream: {ex!r}") from ex


def _decode_baseline_inner(payload: bytes) -> dict:
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}   # (class, id) -> decode map
    frame = None           # (h, w, [(comp_id, qtab_id)])
    restart_interval = 0

    while True:
        if pos + 2 > len(payload):
            raise ValueError("ran off the end before SOS/EOI")
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker sync lost at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            # Metadata-only stream (headers but no SOS): a valid JPEG
            # prefix with nothing to entropy-decode. Unsupported rather
            # than corrupt so callers fall back to the header probe.
            raise UnsupportedJpeg("no entropy-coded scan before EOI")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated segment length")
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        if seg_len < 2 or pos + seg_len > len(payload):
            raise ValueError("truncated segment")
        body = payload[pos + 2:pos + seg_len]
        if marker == 0xDB:                      # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    if i + 64 > len(body):
                        raise ValueError("truncated DQT")
                    qtables[tq] = np.frombuffer(
                        body, dtype=np.uint8, count=64, offset=i
                    ).astype(np.int64)
                    i += 64
                elif pq == 1:
                    if i + 128 > len(body):
                        raise ValueError("truncated 16-bit DQT")
                    qtables[tq] = np.frombuffer(
                        body, dtype=">u2", count=64, offset=i
                    ).astype(np.int64)
                    i += 128
                else:
                    raise ValueError("bad DQT precision")
        elif marker == 0xC4:                    # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = tuple(body[i + 1:i + 17])
                n = sum(bits)
                if i + 17 + n > len(body):
                    raise ValueError("truncated DHT")
                vals = tuple(body[i + 17:i + 17 + n])
                htables[(tc, th)] = _canonical_codes(bits, vals)
                i += 17 + n
        elif marker == 0xDD:                    # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if marker == 0xC2:
                # progressive DCT: real multi-scan decode (G.2)
                return _decode_progressive(payload)
            if marker != 0xC0 and marker != 0xC1:
                raise UnsupportedJpeg(
                    f"non-baseline frame (SOF{marker - 0xC0})")
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise UnsupportedJpeg("12-bit precision")
            if ncomp not in (1, 3):
                raise UnsupportedJpeg(f"{ncomp}-component frame")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError("sampling factor out of range")
                comps.append((cid, hi, vi, tq))
            if h == 0 or w == 0:
                raise ValueError("zero-dimension frame")
            frame = (h, w, comps)
        elif marker == 0xDA:                    # SOS: entropy data follows
            pos += seg_len
            break
        pos += seg_len
    if frame is None:
        raise ValueError("SOS before SOF frame header")
    h, w, comps = frame
    sos_body = payload[pos - seg_len + 2:pos]
    ns = sos_body[0]
    if ns != len(comps):
        raise UnsupportedJpeg("multi-scan (progressive-style) stream")
    scan_tables = {}
    for i in range(ns):
        cs, tdta = sos_body[1 + 2 * i], sos_body[2 + 2 * i]
        scan_tables[cs] = (tdta >> 4, tdta & 0x0F)

    if len(comps) == 1:
        # Single-component scan: non-interleaved per T.81 A.2 — the
        # data units raster over the component's own full-resolution
        # block grid and the declared sampling factors are moot (they
        # only matter relative to Hmax/Vmax, which the sole component
        # defines). Normalizing to 1x1 reproduces that layout exactly.
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if any(hmax % c[1] or vmax % c[2] for c in comps):
        raise UnsupportedJpeg("fractional subsampling ratio")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
              for (_, hi, vi, _) in comps]
    rd = _BitReader(payload, pos)
    preds = [0] * len(comps)
    mcu = 0
    total_mcus = mcux * mcuy
    while mcu < total_mcus:
        if restart_interval and mcu and mcu % restart_interval == 0:
            rd.align()
            if (rd.pos + 2 > len(payload)
                    or payload[rd.pos] != 0xFF
                    or not 0xD0 <= payload[rd.pos + 1] <= 0xD7):
                raise ValueError("missing restart marker")
            rd = _BitReader(payload, rd.pos + 2)
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        try:
            for ci, (cid, hi, vi, tq) in enumerate(comps):
                dc_id, ac_id = scan_tables[cid]
                dc_tab = htables.get((0, dc_id))
                ac_tab = htables.get((1, ac_id))
                qt = qtables.get(tq)
                if dc_tab is None or ac_tab is None or qt is None:
                    raise ValueError("scan references undefined table")
                for byi in range(vi):
                    for bxi in range(hi):
                        zz = np.zeros(64, dtype=np.int64)
                        ssss = _huff_decode(rd, dc_tab)
                        preds[ci] += _extend(rd.bits(ssss), ssss)
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(rd, ac_tab)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:             # ZRL
                                    k += 16
                                    continue
                                break                   # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run overflows block")
                            zz[k] = _extend(rd.bits(s), s)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = zz * qt
                        block = _DCT_M.T @ coef.reshape(8, 8) @ _DCT_M
                        by = (my * vi + byi) * 8
                        bx = (mx * hi + bxi) * 8
                        planes[ci][by:by + 8, bx:bx + 8] = block
        except _MarkerReached:
            raise ValueError("entropy segment ended mid-MCU") from None
        mcu += 1

    return _finish_planes(planes, comps, h, w, hmax, vmax)


def _finish_planes(planes, comps, h, w, hmax, vmax) -> dict:
    """Crop each plane to its natural subsampled dims (A.1.1: ceil of
    the frame dims scaled by Hi/Hmax), then upsample back to frame size
    by pixel replication — exact for the flat-chroma streams the value
    oracles construct, and the standard nearest-neighbor choice
    otherwise (JFIF leaves the upsampling filter to the decoder) —
    then level shift, clamp, and JFIF YCbCr→RGB for 3 components."""
    out = []
    for p, (_, hi, vi, _) in zip(planes, comps):
        cw = (w * hi + hmax - 1) // hmax
        ch = (h * vi + vmax - 1) // vmax
        plane = np.clip(np.round(p[:ch, :cw] + 128.0), 0, 255)
        if hi != hmax or vi != vmax:
            plane = np.repeat(np.repeat(plane, vmax // vi, axis=0),
                              hmax // hi, axis=1)[:h, :w]
        out.append(plane)
    if len(out) == 1:
        pixels = out[0].astype(np.uint8)
    else:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        pixels = np.clip(np.round(np.stack([r, g, b], axis=-1)),
                         0, 255).astype(np.uint8)
    return {"width": int(w), "height": int(h),
            "n_components": len(comps),
            "sampling": [(hi, vi) for (_, hi, vi, _) in comps],
            "planes": [o.astype(np.uint8) for o in out],
            "pixels": pixels}


# --- progressive decoder (T.81 G.2) ------------------------------------------

def _decode_progressive(payload: bytes) -> dict:
    """Decode a progressive-DCT JPEG (SOF2) for real: coefficient
    arrays accumulate across scans — DC scans (interleaved, with
    successive approximation: first scan ships pred<<Al, refinement
    scans OR in one bit per block), AC scans (single-component per
    G.1.1.1.1, spectral selection Ss..Se, EOB-run coding across
    blocks, and the G.2 refinement procedure with correction bits for
    nonzero-history coefficients) — then one dequantize + IDCT pass
    assembles pixels exactly like the sequential path. Restart markers
    reset DC predictors AND the EOB run. Raises plain ``ValueError``
    for corrupt streams, :class:`UnsupportedJpeg` only for 12-bit
    precision or fractional sampling ratios."""
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    coefs: list[np.ndarray] | None = None    # per comp: (bh, bw, 64) zigzag
    geom = None                              # (hmax, vmax, mcux, mcuy)

    def parse_tables(marker: int, body: bytes) -> None:
        nonlocal restart_interval
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    qtables[tq] = np.frombuffer(
                        body, dtype=np.uint8, count=64, offset=i
                    ).astype(np.int64)
                    i += 64
                elif pq == 1:
                    qtables[tq] = np.frombuffer(
                        body, dtype=">u2", count=64, offset=i
                    ).astype(np.int64)
                    i += 128
                else:
                    raise ValueError("bad DQT precision")
        elif marker == 0xC4:
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = tuple(body[i + 1:i + 17])
                n = sum(bits)
                vals = tuple(body[i + 17:i + 17 + n])
                htables[(tc, th)] = _canonical_codes(bits, vals)
                i += 17 + n
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", body, 0)[0]

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker sync lost at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:                  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated segment length")
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        if seg_len < 2 or pos + seg_len > len(payload):
            raise ValueError("truncated segment")
        body = payload[pos + 2:pos + seg_len]
        if marker == 0xC2:                  # SOF2
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise UnsupportedJpeg("12-bit precision")
            if ncomp not in (1, 3):
                raise UnsupportedJpeg(f"{ncomp}-component frame")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError("sampling factor out of range")
                comps.append((cid, hi, vi, tq))
            if ncomp == 1:
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if any(hmax % c[1] or vmax % c[2] for c in comps):
                raise UnsupportedJpeg("fractional subsampling ratio")
            if h == 0 or w == 0:
                raise ValueError("zero-dimension frame")
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            frame = (h, w, comps)
            geom = (hmax, vmax, mcux, mcuy)
            coefs = [np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
                     for (_, hi, vi, _) in comps]
        elif marker == 0xDA:                # SOS
            if frame is None:
                raise ValueError("SOS before SOF2 frame header")
            pos = _progressive_scan(payload, pos + seg_len, body,
                                    frame, geom, coefs, htables,
                                    restart_interval)
            continue
        else:
            parse_tables(marker, body)
        pos += seg_len
    if frame is None or coefs is None:
        raise ValueError("no SOF2 frame decoded")
    h, w, comps = frame
    hmax, vmax, mcux, mcuy = geom
    planes = []
    for ci, (_, hi, vi, tq) in enumerate(comps):
        qt = qtables.get(tq)
        if qt is None:
            raise ValueError("frame references undefined quant table")
        bh, bw = coefs[ci].shape[0], coefs[ci].shape[1]
        plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        for by in range(bh):
            for bx in range(bw):
                zz = coefs[ci][by, bx]
                coef = np.zeros(64, dtype=np.float64)
                coef[ZIGZAG] = zz * qt
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _DCT_M.T @ coef.reshape(8, 8) @ _DCT_M
        planes.append(plane)
    return _finish_planes(planes, comps, h, w, hmax, vmax)


def _progressive_scan(payload, pos, sos_body, frame, geom, coefs,
                      htables, restart_interval) -> int:
    """Decode one progressive scan starting at ``pos`` (first entropy
    byte); returns the position just past the scan's entropy data."""
    h, w, comps = frame
    hmax, vmax, mcux, mcuy = geom
    ns = sos_body[0]
    scan_comps = []            # (comp index, dc table id, ac table id)
    for i in range(ns):
        cs, tdta = sos_body[1 + 2 * i], sos_body[2 + 2 * i]
        ci = next((j for j, c in enumerate(comps) if c[0] == cs), None)
        if ci is None:
            raise ValueError("scan references unknown component")
        scan_comps.append((ci, tdta >> 4, tdta & 0x0F))
    ss, se, ahal = sos_body[1 + 2 * ns], sos_body[2 + 2 * ns], \
        sos_body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("DC scan with Se != 0")
    if not is_dc and ns != 1:
        raise ValueError("interleaved AC scan is illegal (G.1.1.1.1)")

    rd = _BitReader(payload, pos)
    preds = [0] * len(comps)
    eobrun = 0

    def restart(unit: int) -> None:
        nonlocal rd, preds, eobrun
        if restart_interval and unit and unit % restart_interval == 0:
            rd.align()
            if (rd.pos + 2 > len(payload) or payload[rd.pos] != 0xFF
                    or not 0xD0 <= payload[rd.pos + 1] <= 0xD7):
                raise ValueError("missing restart marker")
            rd = _BitReader(payload, rd.pos + 2)
            preds = [0] * len(comps)
            eobrun = 0

    try:
        if is_dc and ns > 1:
            # interleaved DC scan over the MCU grid
            for mcu in range(mcux * mcuy):
                restart(mcu)
                my, mx = divmod(mcu, mcux)
                for ci, dc_id, _ac in scan_comps:
                    _, hi, vi, _ = comps[ci]
                    tab = htables.get((0, dc_id))
                    for byi in range(vi):
                        for bxi in range(hi):
                            zz = coefs[ci][my * vi + byi, mx * hi + bxi]
                            preds[ci] = _dc_band(rd, tab, zz, ah, al,
                                                 preds[ci])
        else:
            # non-interleaved: raster over the component's own grid
            ci, dc_id, ac_id = scan_comps[0]
            _, hi, vi, _ = comps[ci]
            cbw = ((w * hi + hmax - 1) // hmax + 7) // 8
            cbh = ((h * vi + vmax - 1) // vmax + 7) // 8
            tab = htables.get((0, dc_id) if is_dc else (1, ac_id))
            for unit in range(cbh * cbw):
                restart(unit)
                by, bx = divmod(unit, cbw)
                zz = coefs[ci][by, bx]
                if is_dc:
                    preds[ci] = _dc_band(rd, tab, zz, ah, al, preds[ci])
                elif ah == 0:
                    eobrun = _ac_first(rd, tab, zz, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine(rd, tab, zz, ss, se, al, eobrun)
    except _MarkerReached:
        raise ValueError("entropy segment ended mid-band") from None
    rd.align()
    return rd.pos


def _dc_band(rd, dc_tab, zz, ah, al, pred):
    """DC band of one block: first scan (Ah=0) decodes a baseline-style
    diff and ships pred<<Al; refinement scans OR one bit into bit Al
    (two's-complement OR matches the encoder's arithmetic shift)."""
    if ah == 0:
        if dc_tab is None:
            raise ValueError("DC scan references undefined table")
        s = _huff_decode(rd, dc_tab)
        pred += _extend(rd.bits(s), s)
        zz[0] = pred << al
    else:
        if rd.bit():
            zz[0] |= (1 << al)
    return pred


def _ac_first(rd, ac_tab, zz, ss, se, al, eobrun):
    """AC band, first scan at this bit position (Ah=0): G.2.2 run/size
    coding with EOBn end-of-band runs spanning blocks."""
    if eobrun > 0:
        return eobrun - 1
    if ac_tab is None:
        raise ValueError("AC scan references undefined table")
    k = ss
    while k <= se:
        rs = _huff_decode(rd, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s:
            k += r
            if k > se:
                raise ValueError("AC run overflows the band")
            zz[k] = _extend(rd.bits(s), s) << al
            k += 1
        elif r == 15:
            k += 16                      # ZRL
        else:
            eobrun = (1 << r) - 1
            if r:
                eobrun += rd.bits(r)
            break
    return eobrun


def _ac_refine(rd, ac_tab, zz, ss, se, al, eobrun):
    """AC band refinement (Ah>0): newly-significant coefficients arrive
    as ±1<<Al; every nonzero-history coefficient crossed on the way —
    and the whole band once in EOB-run state — consumes one correction
    bit (G.2.3)."""
    if ac_tab is None:
        raise ValueError("AC scan references undefined table")
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(rd, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.bits(r)
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                val = p1 if rd.bit() else m1
            while k <= se:
                if zz[k]:
                    if rd.bit() and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k]:
                if rd.bit() and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


# --- progressive encoder ------------------------------------------------------

#: Custom AC Huffman table for progressive scans. Annex K's baseline AC
#: table has no EOBn symbols for n >= 1 (baseline never needs them), so
#: progressive streams ship their own DHT: every symbol the G.2 coder
#: can emit — EOBn (n 0..14), ZRL, and (run 0..15, size 1..11) — at a
#: flat 8-bit code length (192 codes <= 256: a legal, if unoptimized,
#: canonical table; compression is not what the oracle measures).
PROG_AC_VALS = tuple(sorted(
    [n << 4 for n in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 12)]))
PROG_AC_BITS = (0, 0, 0, 0, 0, 0, 0, len(PROG_AC_VALS),
                0, 0, 0, 0, 0, 0, 0, 0)


def encode_progressive_gray(px: np.ndarray,
                            quant: np.ndarray | None = None,
                            ac_successive: bool = False) -> bytes:
    """Encode an (h, w) uint8 grayscale image (dims multiples of 8) as
    a genuine PROGRESSIVE JPEG (SOF2) with a scan script that
    exercises every G.2 decoding procedure:

    1. DC first scan, Al=1 — diffs of (DC >> 1), successive
       approximation's coarse pass;
    2. DC refinement scan, Ah=1/Al=0 — one raw bit per block;
    3. AC scan(s), Ss=1..Se=63 — run/size coding with real EOBn
       end-of-band runs spanning blocks (the custom table above). With
       ``ac_successive``, the AC band ships as TWO scans: a coarse
       first scan at Al=1 (magnitudes arithmetically halved) and a
       G.2.3 refinement scan (Ah=1/Al=0) emitting newly-significant
       ±1 symbols plus correction bits for already-significant
       coefficients — buffered across EOB runs exactly the way the
       decoder consumes them (per-block, after the EOBn code).

    Flat blocks quantize to DC-only, so they roundtrip bit-exactly
    through shift+refine and the AC scan degenerates to one EOB run —
    which is exactly what makes a hash-strict oracle possible, while
    random-content tests drive the general run/size paths."""
    h, w = int(px.shape[0]), int(px.shape[1])
    if h % 8 or w % 8 or h == 0 or w == 0:
        raise ValueError("encode_progressive_gray needs multiple-of-8 dims")
    quant = _check_quant(quant)
    qmat = quant[np.argsort(ZIGZAG)].reshape(8, 8)
    dc_codes = _encode_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _encode_codes(PROG_AC_BITS, PROG_AC_VALS)

    # quantize every block once, in raster order
    shifted = px.astype(np.float64) - 128.0
    blocks = []
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            coef = _DCT_M @ shifted[by:by + 8, bx:bx + 8] @ _DCT_M.T
            blocks.append(np.round(coef / qmat).astype(np.int64)
                          .reshape(64)[ZIGZAG])

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def sos(ss: int, se: int, ah: int, al: int, wr: _BitWriter) -> bytes:
        wr.flush()
        return (seg(0xDA, bytes((1, 1, 0x00, ss, se, (ah << 4) | al)))
                + bytes(wr.out))

    # scan 1: DC first, Al=1 (arithmetic shift matches the decoder's
    # pred<<Al + refinement-OR reconstruction)
    wr = _BitWriter()
    pred = 0
    for zz in blocks:
        v = int(zz[0]) >> 1
        s, amp = _magnitude_bits(v - pred)
        code, length = dc_codes[s]
        wr.put(code, length)
        wr.put(amp, s)
        pred = v
    scan1 = sos(0, 0, 0, 1, wr)

    # scan 2: DC refinement, Ah=1 Al=0 — the held-back low bit
    wr = _BitWriter()
    for zz in blocks:
        wr.put(int(zz[0]) & 1, 1)
    scan2 = sos(0, 0, 1, 0, wr)

    def ac_first_scan(al: int) -> bytes:
        """AC first scan at bit position ``al``: run/size over the
        arithmetically-scaled magnitudes, EOBn runs across blocks."""
        wr = _BitWriter()
        eobrun = 0

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun == 0:
                return
            n = eobrun.bit_length() - 1
            code, length = ac_codes[n << 4]
            wr.put(code, length)
            wr.put(eobrun - (1 << n), n)
            eobrun = 0

        for zz in blocks:
            t = [0] * 64
            for k in range(1, 64):
                v = int(zz[k])
                t[k] = (abs(v) >> al) * (1 if v > 0 else -1)
            last_nz = max((i for i in range(1, 64) if t[i]), default=0)
            if last_nz == 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for k in range(1, last_nz + 1):
                v = t[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    zc, zl = ac_codes[0xF0]
                    wr.put(zc, zl)
                    run -= 16
                s, amp = _magnitude_bits(v)
                code, length = ac_codes[(run << 4) | s]
                wr.put(code, length)
                wr.put(amp, s)
                run = 0
            if last_nz < 63:
                eobrun = 1
        flush_eob()
        return sos(1, 63, 0, al, wr)

    def ac_refine_scan(ah: int, al: int) -> bytes:
        """G.2.3 AC refinement: newly-significant coefficients
        (|v|>>al == 1) arrive as (run-of-zero-history, size 1) + sign;
        already-significant ones contribute correction bits, buffered
        across EOB runs and emitted per block right after the EOBn
        code — the exact order the decoder consumes them."""
        wr = _BitWriter()
        eobrun = 0
        pending: list[int] = []      # correction bits owed after EOBn

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun:
                n = eobrun.bit_length() - 1
                code, length = ac_codes[n << 4]
                wr.put(code, length)
                wr.put(eobrun - (1 << n), n)
                eobrun = 0
            for b in pending:
                wr.put(b, 1)
            pending.clear()

        for zz in blocks:
            run = 0
            held: list[int] = []     # correction bits since last symbol
            emitted_any = False
            # last newly-significant index: ZRLs may only be emitted
            # while one is still ahead (otherwise the tail folds into
            # the EOB run) — and each ZRL flushes exactly the
            # correction bits gathered before its 16-zero window ends,
            # which is the order the decoder's advance loop reads them.
            eob_idx = max((k for k in range(1, 64)
                           if (abs(int(zz[k])) >> al) == 1), default=0)

            def zrl_flushes(r: int, limit_ok: bool) -> int:
                while r > 15 and limit_ok:
                    flush_eob()
                    zc, zl = ac_codes[0xF0]
                    wr.put(zc, zl)
                    for b in held:
                        wr.put(b, 1)
                    held.clear()
                    r -= 16
                return r

            for k in range(1, 64):
                v = int(zz[k])
                av = abs(v) >> al
                if av == 0:
                    run += 1
                    continue
                if av > 1:           # already significant at Ah
                    run = zrl_flushes(run, k <= eob_idx)
                    held.append(av & 1)
                    continue
                # newly significant
                flush_eob()
                run = zrl_flushes(run, True)
                code, length = ac_codes[(run << 4) | 1]
                wr.put(code, length)
                wr.put(1 if v > 0 else 0, 1)
                for b in held:
                    wr.put(b, 1)
                held.clear()
                run = 0
                emitted_any = True
            if run > 0 or held or not emitted_any:
                eobrun += 1
                pending.extend(held)
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        return sos(1, 63, ah, al, wr)

    if ac_successive:
        ac_scans = ac_first_scan(1) + ac_refine_scan(1, 0)
    else:
        ac_scans = ac_first_scan(0)

    dqt = seg(0xDB, b"\x00" + bytes(int(q) for q in quant))
    dht = (seg(0xC4, b"\x00" + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
           + seg(0xC4, b"\x10" + bytes(PROG_AC_BITS)
                 + bytes(PROG_AC_VALS)))
    sof = seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    return (b"\xff\xd8" + dqt + dht + sof
            + scan1 + scan2 + ac_scans + b"\xff\xd9")


# --- roundtrip-query helpers -------------------------------------------------

def flat_quad_gray(base: int) -> np.ndarray:
    """16x16 gray image of four flat 8x8 blocks; block k (row-major)
    holds ``(base + 97 * k) % 256``. Flat blocks survive the DCT pair
    bit-exactly, so the decoded pixel stats follow from ``base`` alone
    and a DuckDB oracle can recompute them arithmetically."""
    px = np.zeros((16, 16), dtype=np.uint8)
    for k in range(4):
        by, bx = divmod(k, 2)
        px[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (base + 97 * k) % 256
    return px


def gray_decode_stats(row: dict) -> dict:
    """Row function for the gray JPEG roundtrips: decode ``payload``
    and report its size and pixel sum/min/max under ``doc_id``."""
    r = decode_baseline(row["payload"])
    px = r["pixels"].astype("int64")
    return {"doc_id": row["doc_id"], "out_w": r["width"],
            "out_h": r["height"], "pix_sum": int(px.sum()),
            "pix_min": int(px.min()), "pix_max": int(px.max())}
