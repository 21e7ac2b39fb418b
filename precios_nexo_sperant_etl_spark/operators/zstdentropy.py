"""Zstandard ENTROPY layer — FSE (tANS) + Huffman, stdlib only
(RFC 8878 §4.1-4.2).

`zstdframe.py` walks the frame grammar; this module supplies the
entropy stack a Compressed_Block needs: the two reversed-bitstream
codecs (FSE for sequences and Huffman weights, Huffman for literals),
the forward-bitstream normalized-count (NCount) table descriptions,
the three predefined sequence distributions, and the sequence-
execution engine (literals copy + window match copy with the 3-slot
repeat-offset history). Everything is implemented from the public RFC
— no libzstd — with both DECODE and ENCODE sides so property tests
can roundtrip arbitrary (literals, sequences) plans bit-exactly.

Layout notes the code below leans on (all RFC 8878):

- Reversed bitstreams (§3.1.1.1 "Bitstreams are read backward"): the
  writer appends fields at increasing little-endian bit positions and
  terminates with a 1-bit sentinel; the reader locates the sentinel
  (highest set bit of the last non-zero byte) and reads fields top-
  down. A field appended LAST is read FIRST, so encoders below build
  the full field list in decoder-read order and append it reversed.
- NCount table descriptions (§4.1.1) are FORWARD little-endian
  bitstreams, byte-aligned at the end, with the variable-width
  count coding and 2-bit zero-repeat flags.
- FSE decode tables (§4.1) use the spec's spread step
  ``(size>>1)+(size>>3)+3``; "less than 1" (-1) symbols take one
  slot from the table top.
- Huffman code lengths are ``maxBits + 1 - weight``; the last weight
  is always implied from the power-of-two remainder (§4.2.1.2), and
  the decode table regions are ordered by weight ascending, symbols
  ascending within a weight.
"""

from __future__ import annotations

from bisect import bisect_right

from .bitio import LsbReader, LsbWriter

# ---------------------------------------------------------------------------
# Bit IO
# ---------------------------------------------------------------------------


class RevBitWriter:
    """Reversed-bitstream writer: append fields in REVERSE decoder-read
    order, then ``finish()`` adds the sentinel bit and byte-pads."""

    def __init__(self) -> None:
        self._val = 0
        self._bits = 0

    def append(self, value: int, nbits: int) -> None:
        if nbits < 0 or value < 0 or value >> nbits:
            raise ValueError("zstd: bit field out of range")
        self._val |= value << self._bits
        self._bits += nbits

    def finish(self) -> bytes:
        val = self._val | (1 << self._bits)      # sentinel
        nbytes = (self._bits + 1 + 7) // 8
        return val.to_bytes(nbytes, "little")


class RevBitReader:
    """Reversed-bitstream reader (zero-fill past the start; tracks
    overflow for the unknown-length FSE weight stream)."""

    def __init__(self, data: bytes) -> None:
        if not data or data[-1] == 0:
            raise ValueError("zstd: reversed bitstream missing sentinel")
        iv = int.from_bytes(data, "little")
        self._iv = iv
        self.pos = iv.bit_length() - 1           # bits below the sentinel

    def read(self, nbits: int) -> int:
        self.pos -= nbits
        if self.pos >= 0:
            return (self._iv >> self.pos) & ((1 << nbits) - 1)
        return (self._iv << -self.pos) & ((1 << nbits) - 1)

    def peek(self, nbits: int) -> int:
        if self.pos >= nbits:
            return (self._iv >> (self.pos - nbits)) & ((1 << nbits) - 1)
        return (self._iv << (nbits - self.pos)) & ((1 << nbits) - 1)

    @property
    def overflowed(self) -> bool:
        return self.pos < 0


# ---------------------------------------------------------------------------
# FSE: NCount description (forward stream)
# ---------------------------------------------------------------------------


def fse_read_ncount(data: bytes, max_acc: int) -> tuple[list[int], int, int]:
    """Parse an FSE table description. Returns (normalized counts,
    accuracy_log, bytes consumed). Counts may include -1 ("less than
    one"); trailing absent symbols are simply not listed."""
    r = LsbReader(data)
    acc = r.read(4) + 5
    if acc > max_acc:
        raise ValueError("zstd: FSE accuracy log over limit")
    table_size = 1 << acc
    remaining = table_size + 1
    threshold = table_size
    nbits = acc + 1
    counts: list[int] = []
    prev0 = False
    while remaining > 1:
        if prev0:
            while True:
                rep = r.read(2)
                counts.extend([0] * rep)
                if rep < 3:
                    break
            prev0 = False
            continue
        mx = (2 * threshold - 1) - remaining
        low = r.peek(nbits - 1)
        if low < mx:
            r.read(nbits - 1)
            count = low
        else:
            count = r.read(nbits)
            if count >= threshold:
                count -= mx
        count -= 1                               # -1 .. remaining-1
        remaining -= -count if count < 0 else count
        counts.append(count)
        prev0 = count == 0
        while remaining < threshold:
            nbits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("zstd: corrupt FSE table description")
    return counts, acc, (r.pos + 7) >> 3


def fse_write_ncount(counts: list[int], acc: int) -> bytes:
    """Inverse of :func:`fse_read_ncount` (same variable-width coding,
    same zero-repeat flags, byte-padded)."""
    table_size = 1 << acc
    if sum(max(c, 1) if c != 0 else 0 for c in counts) != table_size:
        raise ValueError("zstd: normalized counts must fill the table")
    w = LsbWriter()
    w.write(acc - 5, 4)
    remaining = table_size + 1
    threshold = table_size
    nbits = acc + 1
    i = 0
    while remaining > 1:
        c = counts[i]
        i += 1
        mx = (2 * threshold - 1) - remaining
        v = c + 1
        if v < mx:
            w.write(v, nbits - 1)
        else:
            w.write(v + mx if v >= threshold else v, nbits)
        remaining -= -c if c < 0 else c
        while remaining < threshold:
            nbits -= 1
            threshold >>= 1
        if c == 0 and remaining > 1:
            # zero-repeat flags: count zeros following i-1
            run = 0
            while i + run < len(counts) and counts[i + run] == 0:
                run += 1
            # never emit implicit-trailing zeros the reader won't ask for
            i += run
            while True:
                w.write(min(run, 3), 2)
                if run < 3:
                    break
                run -= 3
    return w.finish()


# ---------------------------------------------------------------------------
# FSE decode/encode tables
# ---------------------------------------------------------------------------


def fse_build_dtable(counts: list[int], acc: int) -> list[tuple[int, int, int]]:
    """Spec table expansion: per state -> (symbol, nbBits, newStateBase).
    Decode step: ``state = base + read(nbBits)``."""
    size = 1 << acc
    mask = size - 1
    syms: list[int | None] = [None] * size
    high = size - 1
    nxt: dict[int, int] = {}
    for s, c in enumerate(counts):
        if c == -1:
            syms[high] = s
            high -= 1
            nxt[s] = 1
        elif c > 0:
            nxt[s] = c
        elif c < -1:
            raise ValueError("zstd: invalid normalized count")
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    for s, c in enumerate(counts):
        for _ in range(max(c, 0)):
            syms[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("zstd: FSE spread did not complete")
    out = []
    for st in range(size):
        s = syms[st]
        if s is None:
            raise ValueError("zstd: FSE table has unassigned state")
        n = nxt[s]
        nxt[s] = n + 1
        nb = acc - (n.bit_length() - 1)
        out.append((s, nb, (n << nb) - size))
    return out


class FseEncoder:
    """Inverts a decode table: walks the decoder's state chain backward.
    Per symbol, the (base, base + 2^nb) ranges of its states tile
    [0, tableSize) exactly, so the predecessor state is a bisect."""

    def __init__(self, dtable: list[tuple[int, int, int]], acc: int) -> None:
        self.acc = acc
        self._dtable = dtable
        per: dict[int, list[tuple[int, int, int]]] = {}
        for st, (s, nb, base) in enumerate(dtable):
            per.setdefault(s, []).append((base, nb, st))
        for lst in per.values():
            lst.sort()
        self._per = per

    def states_for(self, sym: int) -> list[tuple[int, int, int]]:
        try:
            return self._per[sym]
        except KeyError:
            raise ValueError(f"zstd: symbol {sym} has no FSE slot") from None

    def pred(self, sym: int, target: int) -> tuple[int, int, int]:
        """State st with symbol `sym` whose update range covers `target`.
        Returns (state, nbBits, bits) with bits = target - base."""
        lst = self.states_for(sym)
        i = bisect_right(lst, (target, 1 << 30, 1 << 30)) - 1
        base, nb, st = lst[i]
        if not base <= target < base + (1 << nb):
            raise ValueError("zstd: FSE state inversion failed")
        return st, nb, target - base

    def chain(self, symbols: list[int]) -> tuple[int, list[tuple[int, int]]]:
        """Decoder-visited states for `symbols`: returns (init_state,
        [(bits, nb) for each update read, in decoder-read order]).
        The decoder reads len(symbols)-1 updates (none after the last)."""
        if not symbols:
            raise ValueError("zstd: empty FSE chain")
        # last symbol: any state will do (decoder never updates out of it)
        base, nb, st = self.states_for(symbols[-1])[0]
        states = [st]
        for sym in reversed(symbols[:-1]):
            st, nb, bits = self.pred(sym, states[-1])
            states.append(st)
        states.reverse()                      # now states[i] emits symbols[i]
        reads = []
        for i in range(len(symbols) - 1):
            _, nb, base = self._dtable[states[i]]
            reads.append((states[i + 1] - base, nb))
        return states[0], reads

    def _entry_of(self, st: int) -> tuple[int, int, int]:
        return self._dtable[st]


# ---------------------------------------------------------------------------
# Huffman: weights, tables, streams
# ---------------------------------------------------------------------------

_HUF_MAX_BITS = 11


def huf_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Optimal prefix-code lengths, limited to 11 bits, Kraft-tight
    (sum 2^-l == 1 exactly — required because zstd derives the table
    size from the weight sum, which must be a power of two)."""
    import heapq
    if len(freqs) < 2:
        raise ValueError("huffman needs >= 2 symbols")
    heap = [(f, i, [s]) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    lengths = {s: 0 for s in freqs}
    i = len(heap)
    while len(heap) > 1:
        fa, _, sa = heapq.heappop(heap)
        fb, _, sb = heapq.heappop(heap)
        for s in sa + sb:
            lengths[s] += 1
        heapq.heappush(heap, (fa + fb, i, sa + sb))
        i += 1
    if max(lengths.values()) > _HUF_MAX_BITS:
        # clamp + Kraft fixup (validity over optimality on pathological
        # distributions; the common path never enters here)
        for s in lengths:
            lengths[s] = min(lengths[s], _HUF_MAX_BITS)
        kraft = sum(1 << (_HUF_MAX_BITS - l) for l in lengths.values())
        order = sorted(lengths, key=lambda s: (lengths[s], s))
        while kraft > (1 << _HUF_MAX_BITS):
            for s in reversed(order):          # longest codes first
                if lengths[s] < _HUF_MAX_BITS:
                    kraft -= 1 << (_HUF_MAX_BITS - lengths[s] - 1)
                    lengths[s] += 1
                    break
            else:
                raise ValueError("huffman: cannot limit lengths")
        for s in order:                        # re-shorten while tight
            while lengths[s] > 1 and \
                    kraft + (1 << (_HUF_MAX_BITS - lengths[s])) \
                    <= (1 << _HUF_MAX_BITS):
                kraft += 1 << (_HUF_MAX_BITS - lengths[s])
                lengths[s] -= 1
    assert sum(1 << (_HUF_MAX_BITS - l)
               for l in lengths.values()) == 1 << _HUF_MAX_BITS
    return lengths


def huf_weights_from_lengths(lengths: dict[int, int]) -> dict[int, int]:
    max_bits = max(lengths.values())
    return {s: max_bits + 1 - l for s, l in lengths.items()}


def _huf_check_weights(weights: dict[int, int]) -> int:
    """Validate a FULL weight map (incl. the implied last symbol);
    returns maxBits. Total 2^(w-1) must be an exact power of two."""
    total = sum(1 << (w - 1) for w in weights.values() if w > 0)
    if total <= 0 or total & (total - 1):
        raise ValueError("zstd: huffman weights not a power of two")
    max_bits = total.bit_length() - 1
    if max_bits > _HUF_MAX_BITS:
        raise ValueError("zstd: huffman table log over 11")
    return max_bits


def huf_build_dtable(weights: dict[int, int]) -> tuple[list[tuple[int, int]], int]:
    """Decode table: 2^maxBits slots of (symbol, nbBits). Regions by
    weight ascending, symbols ascending within a weight (§4.2.1.2)."""
    max_bits = _huf_check_weights(weights)
    rank_count: dict[int, int] = {}
    for w in weights.values():
        if w > 0:
            rank_count[w] = rank_count.get(w, 0) + 1
    rank_start: dict[int, int] = {}
    cur = 0
    for w in range(1, max_bits + 1):
        rank_start[w] = cur
        cur += rank_count.get(w, 0) << (w - 1)
    if cur != (1 << max_bits):
        raise ValueError("zstd: huffman weight regions do not tile")
    table: list[tuple[int, int]] = [(-1, 0)] * (1 << max_bits)
    for s in sorted(weights):
        w = weights[s]
        if w == 0:
            continue
        length = 1 << (w - 1)
        start = rank_start[w]
        nb = max_bits + 1 - w
        for i in range(start, start + length):
            table[i] = (s, nb)
        rank_start[w] += length
    return table, max_bits


def huf_build_ctable(weights: dict[int, int]) -> tuple[dict[int, tuple[int, int]], int]:
    """Encode table: symbol -> (code, nbBits), consistent with the
    decode table's slot layout (code = slotStart >> (w-1))."""
    max_bits = _huf_check_weights(weights)
    rank_start: dict[int, int] = {}
    cur = 0
    rank_count: dict[int, int] = {}
    for w in weights.values():
        if w > 0:
            rank_count[w] = rank_count.get(w, 0) + 1
    for w in range(1, max_bits + 1):
        rank_start[w] = cur
        cur += rank_count.get(w, 0) << (w - 1)
    out: dict[int, tuple[int, int]] = {}
    for s in sorted(weights):
        w = weights[s]
        if w == 0:
            continue
        nb = max_bits + 1 - w
        out[s] = (rank_start[w] >> (w - 1), nb)
        rank_start[w] += 1 << (w - 1)
    return out, max_bits


def huf_encode_stream(data: bytes, ctable: dict[int, tuple[int, int]]) -> bytes:
    w = RevBitWriter()
    for b in reversed(data):                 # decoder reads data[0] first
        code, nb = ctable[b]
        w.append(code, nb)
    return w.finish()


def huf_decode_stream(stream: bytes, dtable: list[tuple[int, int]],
                      max_bits: int, regen: int) -> bytes:
    r = RevBitReader(stream)
    out = bytearray()
    for _ in range(regen):
        sym, nb = dtable[r.peek(max_bits)]
        if sym < 0:
            raise ValueError("zstd: huffman code hits empty slot")
        r.pos -= nb
        out.append(sym)
    if r.pos != 0:
        raise ValueError("zstd: huffman stream not fully consumed")
    return bytes(out)


# --- weights serialization -------------------------------------------------

_WEIGHT_ACC_MAX = 6


def huf_write_weights(weights: dict[int, int]) -> bytes:
    """Serialize Huffman weights (§4.2.1.2): build BOTH the direct
    4-bit representation (when the last present symbol is <= 127) and
    the FSE-compressed one (a sparse byte alphabet means a long run of
    zero weights, which the NCount zero-repeat flags crush — exactly
    why real zstd compresses weights) and emit the shorter. The FSE
    path is self-checked by decoding; on any pathology the direct form
    (or the caller's raw-literals fallback) wins."""
    last = max(s for s, w in weights.items() if w > 0)
    seq = [weights.get(s, 0) for s in range(last)]   # last one implied
    direct = None
    if last <= 127:
        nibbles = bytearray()
        for i in range(0, len(seq), 2):
            hi = seq[i]
            lo = seq[i + 1] if i + 1 < len(seq) else 0
            nibbles.append((hi << 4) | lo)
        direct = bytes([127 + last]) + bytes(nibbles)
    fse = None
    if len(seq) >= 2:
        try:
            blob = _fse_compress_weights(seq)
            if len(blob) <= 127:
                got, n = huf_read_weights(bytes([len(blob)]) + blob)
                if {s: w for s, w in got.items() if w > 0} == \
                        {s: w for s, w in weights.items() if w > 0} \
                        and n == len(blob) + 1:
                    fse = bytes([len(blob)]) + blob
        except ValueError:
            fse = None
    if direct is not None and (fse is None or len(direct) <= len(fse)):
        return direct
    if fse is None:
        raise ValueError("zstd: weight stream too large")
    return fse


def _fse_compress_weights(seq: list[int]) -> bytes:
    """FSE-compress the explicit weight list with the 2-interleaved-
    state scheme. Tail states are chosen so the decoder's overflow
    termination fires exactly after the last real symbol."""
    if len(seq) < 2:
        raise ValueError("zstd: FSE weights need >= 2 symbols")
    hist: dict[int, int] = {}
    for v in seq:
        hist[v] = hist.get(v, 0) + 1
    counts, acc = fse_normalize(hist, max(seq), _WEIGHT_ACC_MAX)
    dtable = fse_build_dtable(counts, acc)
    enc = FseEncoder(dtable, acc)
    m = len(seq)
    # Decoder emission k comes from state (k % 2): chain A emits even
    # indices, chain B odd. Each chain's updates are read after each of
    # its emissions; only the reads up to global emission m-3 carry
    # real bits, so each chain writes updates for its emissions at
    # global index <= m-3. Tail states (emissions m-1, m-2) are free —
    # pick the last-symbol state for each chain with nb >= 1 so the
    # decoder's overflow check fires (every symbol has one: a symbol
    # with count < 2^acc always owns a state with nbBits >= 1).
    chain_a = seq[0::2]
    chain_b = seq[1::2]

    def build(chain: list[int], cut_updates: int) -> tuple[int, list]:
        """cut_updates = number of update reads with real bits."""
        states = [None] * len(chain)
        # tail: prefer an nb>=1 state
        cand = enc.states_for(chain[-1])
        tail = max(cand, key=lambda t: t[1])
        states[-1] = tail[2]
        for i in range(len(chain) - 2, -1, -1):
            st, nb, bits = enc.pred(chain[i], states[i + 1])
            states[i] = st
        reads = []
        for i in range(cut_updates):
            sym, nb, base = enc._entry_of(states[i])
            reads.append((states[i + 1] - base, nb))
        return states[0], reads

    # chain A update after its j-th emission is global emission 2j's
    # read; real iff 2j <= m-3. chain B: 2j+1 <= m-3.
    cuts_a = len([j for j in range(len(chain_a) - 1) if 2 * j <= m - 3])
    cuts_b = len([j for j in range(len(chain_b) - 1) if 2 * j + 1 <= m - 3])
    init_a, reads_a = build(chain_a, cuts_a)
    init_b, reads_b = build(chain_b, cuts_b)
    # decoder read order: initA, initB, then interleaved updates
    fields = [(init_a, acc), (init_b, acc)]
    ia = ib = 0
    for k in range(m):
        if k % 2 == 0 and ia < len(reads_a):
            fields.append(reads_a[ia])
            ia += 1
        elif k % 2 == 1 and ib < len(reads_b):
            fields.append(reads_b[ib])
            ib += 1
    w = RevBitWriter()
    for v, n in reversed(fields):
        w.append(v, n)
    return fse_write_ncount(counts, acc) + w.finish()


def huf_read_weights(data: bytes) -> tuple[dict[int, int], int]:
    """Parse a Huffman tree description. Returns (full weights incl.
    the implied last symbol, bytes consumed)."""
    if not data:
        raise ValueError("zstd: empty huffman description")
    head = data[0]
    if head >= 128:
        n = head - 127                         # number of explicit weights
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ValueError("zstd: truncated huffman weights")
        seq = []
        for i in range(n):
            b = data[1 + i // 2]
            seq.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        consumed = 1 + nbytes
    else:
        blob = data[1:1 + head]
        if len(blob) != head:
            raise ValueError("zstd: truncated huffman weight stream")
        counts, acc, nc = fse_read_ncount(blob, _WEIGHT_ACC_MAX)
        dtable = fse_build_dtable(counts, acc)
        r = RevBitReader(blob[nc:])
        s1 = r.read(acc)
        s2 = r.read(acc)
        seq = []
        states = [s1, s2]
        turn = 0
        while True:
            sym, nb, base = dtable[states[turn]]
            seq.append(sym)
            states[turn] = base + r.read(nb)
            if r.overflowed:
                seq.append(dtable[states[1 - turn]][0])
                break
            turn = 1 - turn
            if len(seq) > 256:
                raise ValueError("zstd: runaway huffman weight stream")
        consumed = 1 + head
    total = sum(1 << (w - 1) for w in seq if w > 0)
    if total == 0:
        raise ValueError("zstd: huffman weights all zero")
    nxt = 1 << total.bit_length()
    if nxt - total == 0:
        raise ValueError("zstd: no room for implied last weight")
    rest = nxt - total
    if rest & (rest - 1):
        raise ValueError("zstd: implied last weight not a power of two")
    last_w = rest.bit_length()                  # log2(rest) + 1
    weights = {s: w for s, w in enumerate(seq)}
    weights[len(seq)] = last_w
    return weights, consumed


def fse_normalize(hist: dict[int, int], max_sym: int,
                  max_acc: int) -> tuple[list[int], int]:
    """Normalize a histogram to 2^acc slots (>=1 slot per present
    symbol; rare symbols get -1). acc is shrunk for tiny alphabets."""
    total = sum(hist.values())
    acc = min(max_acc, max(5, total.bit_length() - 2))
    # acc must also satisfy 2^acc >= number of present symbols
    while (1 << acc) < len(hist) + 1:
        acc += 1
    if acc > max_acc:
        acc = max_acc
        if (1 << acc) < len(hist):
            raise ValueError("zstd: alphabet too large for accuracy log")
    size = 1 << acc
    counts = [0] * (max_sym + 1)
    assigned = 0
    for s, f in hist.items():
        c = f * size // total
        counts[s] = c if c > 0 else -1
        assigned += max(c, 1)
    # fix rounding drift on the most frequent symbol
    big = max(hist, key=lambda s: (hist[s], -s))
    base_big = counts[big] if counts[big] > 0 else 1
    counts[big] = base_big + (size - assigned)
    if counts[big] <= 0:
        raise ValueError("zstd: normalization failed")
    return counts, acc


# ---------------------------------------------------------------------------
# Sequences: predefined distributions, code tables, decode/encode
# ---------------------------------------------------------------------------

#: RFC 8878 §3.1.1.3.2.2 predefined distributions.
LL_DEFAULT = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
              2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
              -1, -1, -1, -1]
LL_DEFAULT_ACC = 6
OF_DEFAULT = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
              1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1]
OF_DEFAULT_ACC = 5
ML_DEFAULT = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
              1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
              1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
              -1, -1, -1, -1, -1]
ML_DEFAULT_ACC = 6

_LL_ACC_MAX, _OF_ACC_MAX, _ML_ACC_MAX = 9, 8, 9

#: Literals-length codes 16..35: (baseline, extra bits). Codes 0-15 are
#: the value itself with 0 extra bits.
_LL_TABLE = [(16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2),
             (32, 3), (40, 3), (48, 4), (64, 6), (128, 7), (256, 8),
             (512, 9), (1024, 10), (2048, 11), (4096, 12), (8192, 13),
             (16384, 14), (32768, 15), (65536, 16)]
#: Match-length codes 32..52. Codes 0-31 are value-3 with 0 extra bits.
_ML_TABLE = [(35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2),
             (51, 3), (59, 3), (67, 4), (83, 4), (99, 5), (131, 7),
             (259, 8), (515, 9), (1027, 10), (2051, 11), (4099, 12),
             (8195, 13), (16387, 14), (32771, 15), (65539, 16)]


def ll_code(v: int) -> tuple[int, int, int]:
    """literals length -> (code, extra_bits, extra_value)."""
    if v < 16:
        return v, 0, 0
    for i in range(len(_LL_TABLE) - 1, -1, -1):
        base, nb = _LL_TABLE[i]
        if v >= base:
            if v - base >> nb:
                raise ValueError("zstd: literals length out of range")
            return 16 + i, nb, v - base
    raise AssertionError


def ll_value(code: int, extra: int) -> int:
    if code < 16:
        return code
    base, nb = _LL_TABLE[code - 16]
    return base + extra


def ll_bits(code: int) -> int:
    return 0 if code < 16 else _LL_TABLE[code - 16][1]


def ml_code(v: int) -> tuple[int, int, int]:
    if v < 3:
        raise ValueError("zstd: match length below 3")
    if v < 35:
        return v - 3, 0, 0
    for i in range(len(_ML_TABLE) - 1, -1, -1):
        base, nb = _ML_TABLE[i]
        if v >= base:
            if v - base >> nb:
                raise ValueError("zstd: match length out of range")
            return 32 + i, nb, v - base
    raise AssertionError


def ml_value(code: int, extra: int) -> int:
    if code < 32:
        return code + 3
    base, nb = _ML_TABLE[code - 32]
    return base + extra


def ml_bits(code: int) -> int:
    return 0 if code < 32 else _ML_TABLE[code - 32][1]


def of_code(offset_value: int) -> tuple[int, int, int]:
    """offset_value -> (code, extra_bits, extra_value);
    code = highbit(offset_value), value = 2^code + extra."""
    if offset_value < 1:
        raise ValueError("zstd: offset value below 1")
    code = offset_value.bit_length() - 1
    return code, code, offset_value - (1 << code)


def of_value(code: int, extra: int) -> int:
    return (1 << code) + extra


def apply_offset_history(offset_value: int, ll: int,
                         reps: list[int]) -> tuple[int, list[int]]:
    """RFC 8878 §3.1.1.5 repeat-offset semantics. Returns
    (actual offset, updated 3-slot history)."""
    if offset_value > 3:
        off = offset_value - 3
        return off, [off, reps[0], reps[1]]
    idx = offset_value
    if ll == 0:
        idx += 1
    if idx == 1:
        return reps[0], list(reps)
    if idx == 2:
        return reps[1], [reps[1], reps[0], reps[2]]
    if idx == 3:
        return reps[2], [reps[2], reps[0], reps[1]]
    off = reps[0] - 1                           # idx == 4 (ll==0, ov==3)
    if off <= 0:
        raise ValueError("zstd: zero repeat offset")
    return off, [off, reps[0], reps[1]]


def offset_value_for(offset: int, ll: int, reps: list[int]) -> int:
    """Encoder twin of apply_offset_history: prefer a repeat code when
    the actual offset matches the history (like real zstd)."""
    if ll != 0:
        for i, r in enumerate(reps):
            if offset == r:
                return i + 1
    else:
        if offset == reps[1]:
            return 1
        if offset == reps[2]:
            return 2
        if offset == reps[0] - 1 and offset > 0:
            return 3
    return offset + 3


class _SeqTables:
    """The three FSE decode tables + accuracy logs, persisted across
    blocks for Repeat_Mode."""

    def __init__(self) -> None:
        self.ll = self.of = self.ml = None      # (dtable, acc) or RLE sym
        self.ll_rle = self.of_rle = self.ml_rle = None


def _read_seq_table(mode: int, data: bytes, pos: int, which: str,
                    state: _SeqTables, default, default_acc: int,
                    acc_max: int, max_sym: int) -> int:
    if mode == 0:                               # Predefined
        setattr(state, which, (fse_build_dtable(default, default_acc),
                               default_acc))
        setattr(state, which + "_rle", None)
    elif mode == 1:                             # RLE: one byte symbol
        if pos >= len(data):
            raise ValueError("zstd: truncated RLE sequence table")
        sym = data[pos]
        if sym > max_sym:
            raise ValueError("zstd: RLE sequence symbol out of range")
        setattr(state, which + "_rle", sym)
        setattr(state, which, None)
        pos += 1
    elif mode == 2:                             # FSE_Compressed
        counts, acc, n = fse_read_ncount(data[pos:], acc_max)
        if len(counts) - 1 > max_sym:
            raise ValueError("zstd: sequence table symbol out of range")
        setattr(state, which, (fse_build_dtable(counts, acc), acc))
        setattr(state, which + "_rle", None)
        pos += n
    else:                                       # Repeat
        if getattr(state, which) is None and \
                getattr(state, which + "_rle") is None:
            raise ValueError("zstd: Repeat_Mode without a previous table")
    return pos


def decode_sequences(data: bytes, state: _SeqTables) -> list[tuple[int, int, int]]:
    """Decode a Sequences_Section (§4.2.2). Returns a list of
    (literals_length, offset_value, match_length) triples — offset
    HISTORY is applied by the caller during execution."""
    if not data:
        raise ValueError("zstd: empty sequences section")
    b0 = data[0]
    if b0 == 0:
        return []
    if b0 < 128:
        nseq, pos = b0, 1
    elif b0 < 255:
        if len(data) < 2:
            raise ValueError("zstd: truncated sequence count")
        nseq, pos = ((b0 - 128) << 8) + data[1], 2
    else:
        if len(data) < 3:
            raise ValueError("zstd: truncated sequence count")
        nseq, pos = int.from_bytes(data[1:3], "little") + 0x7F00, 3
    if pos >= len(data):
        raise ValueError("zstd: truncated sequence modes byte")
    modes = data[pos]
    pos += 1
    if modes & 0x03:
        raise ValueError("zstd: reserved sequence mode bits set")
    ll_m, of_m, ml_m = modes >> 6, (modes >> 4) & 3, (modes >> 2) & 3
    pos = _read_seq_table(ll_m, data, pos, "ll", state, LL_DEFAULT,
                          LL_DEFAULT_ACC, _LL_ACC_MAX, 35)
    pos = _read_seq_table(of_m, data, pos, "of", state, OF_DEFAULT,
                          OF_DEFAULT_ACC, _OF_ACC_MAX, 31)
    pos = _read_seq_table(ml_m, data, pos, "ml", state, ML_DEFAULT,
                          ML_DEFAULT_ACC, _ML_ACC_MAX, 52)
    r = RevBitReader(data[pos:])

    def init(which: str) -> int | None:
        tab = getattr(state, which)
        return r.read(tab[1]) if tab is not None else None

    st_ll, st_of, st_ml = init("ll"), init("of"), init("ml")

    def code_of(which: str, st: int | None) -> int:
        if st is None:
            return getattr(state, which + "_rle")
        return getattr(state, which)[0][st][0]

    out = []
    for i in range(nseq):
        llc = code_of("ll", st_ll)
        ofc = code_of("of", st_of)
        mlc = code_of("ml", st_ml)
        if ofc > 31:
            raise ValueError("zstd: offset code over 31")
        ov = of_value(ofc, r.read(ofc))
        ml = ml_value(mlc, r.read(ml_bits(mlc)))
        ll = ll_value(llc, r.read(ll_bits(llc)))
        out.append((ll, ov, ml))
        if i < nseq - 1:
            if st_ll is not None:
                sym, nb, base = getattr(state, "ll")[0][st_ll]
                st_ll = base + r.read(nb)
            if st_ml is not None:
                sym, nb, base = getattr(state, "ml")[0][st_ml]
                st_ml = base + r.read(nb)
            if st_of is not None:
                sym, nb, base = getattr(state, "of")[0][st_of]
                st_of = base + r.read(nb)
    if r.pos != 0:
        raise ValueError("zstd: sequence bitstream not fully consumed")
    return out


#: (predefined counts, acc, acc ceiling, max symbol) per channel.
_SEQ_CHANNELS = {
    "ll": (LL_DEFAULT, LL_DEFAULT_ACC, _LL_ACC_MAX, 35),
    "of": (OF_DEFAULT, OF_DEFAULT_ACC, _OF_ACC_MAX, 31),
    "ml": (ML_DEFAULT, ML_DEFAULT_ACC, _ML_ACC_MAX, 52),
}


def _plan_channel(which: str, codes: list[int], state: _SeqTables,
                  mode: str) -> tuple[int, bytes]:
    """Pick + install one channel's compression mode. Returns
    (mode bits, table-description bytes) and sets the state's table /
    RLE symbol the way the decoder will."""
    default, default_acc, acc_max, max_sym = _SEQ_CHANNELS[which]
    if mode == "repeat":
        rle = getattr(state, which + "_rle")
        if getattr(state, which) is None and rle is None:
            raise ValueError("zstd: repeat mode without a previous table")
        if rle is not None and any(c != rle for c in codes):
            # a repeated RLE channel emits NO state bits at all, so a
            # code differing from the installed symbol would silently
            # decode to different ll/of/ml values
            raise ValueError("zstd: repeat of an RLE channel with "
                             "non-matching codes")
        return 3, b""
    if mode == "auto" and len(set(codes)) == 1:
        setattr(state, which + "_rle", codes[0])
        setattr(state, which, None)
        return 1, bytes([codes[0]])
    if mode == "auto":
        hist: dict[int, int] = {}
        for c in codes:
            hist[c] = hist.get(c, 0) + 1
        counts, acc = fse_normalize(hist, max(codes), acc_max)
        setattr(state, which, (fse_build_dtable(counts, acc), acc))
        setattr(state, which + "_rle", None)
        return 2, fse_write_ncount(counts, acc)
    # predefined
    setattr(state, which, (fse_build_dtable(default, default_acc),
                           default_acc))
    setattr(state, which + "_rle", None)
    return 0, b""


def encode_sequences(seqs: list[tuple[int, int, int]],
                     state: _SeqTables, mode: str = "predefined") -> bytes:
    """Encode (ll, offset_value, ml) triples, bit-exact inverse of
    :func:`decode_sequences`. ``mode``:

    - ``"predefined"``: Predefined_Mode for all three channels (the
      registered-query shape — stable bytes).
    - ``"auto"``: per channel, RLE_Mode when the code list is constant,
      else FSE_Compressed with a table normalized from the actual code
      histogram (NCount written inline) — exercises decoder modes 1-2.
    - ``"repeat"``: Repeat_Mode for all three (reuses whatever tables
      the previous block installed in ``state``) — decoder mode 3.
    """
    if not seqs:
        return b"\x00"
    if mode not in ("predefined", "auto", "repeat"):
        raise ValueError("zstd: unknown sequence mode")
    nseq = len(seqs)
    if nseq < 128:
        head = bytes([nseq])
    elif nseq < 0x7F00:
        head = bytes([128 + (nseq >> 8), nseq & 0xFF])
    else:
        head = b"\xff" + (nseq - 0x7F00).to_bytes(2, "little")

    triples = []
    for ll, ov, ml in seqs:
        llc, llb, llx = ll_code(ll)
        ofc, ofb, ofx = of_code(ov)
        mlc, mlb, mlx = ml_code(ml)
        triples.append(((llc, llb, llx), (ofc, ofb, ofx), (mlc, mlb, mlx)))

    codes = {"ll": [t[0][0] for t in triples],
             "of": [t[1][0] for t in triples],
             "ml": [t[2][0] for t in triples]}
    if mode == "predefined" and max(codes["of"]) > 28:
        raise ValueError("zstd: offset too large for the predefined "
                         "table (code > 28)")
    descs = {}
    mode_bits = {}
    for which in ("ll", "of", "ml"):
        mode_bits[which], descs[which] = _plan_channel(
            which, codes[which], state, mode)
    head += bytes([(mode_bits["ll"] << 6) | (mode_bits["of"] << 4)
                   | (mode_bits["ml"] << 2)])
    head += descs["ll"] + descs["of"] + descs["ml"]

    inits = []
    reads = {}
    for which in ("ll", "of", "ml"):
        tab = getattr(state, which)
        if tab is None:                         # RLE channel: no states
            reads[which] = None
            continue
        dt, acc = tab
        enc = FseEncoder(dt, acc)
        init, rds = enc.chain(codes[which])
        inits.append((which, init, acc))
        reads[which] = rds
    fields = [(init, acc) for _, init, acc in
              sorted(inits, key=lambda t: ("ll", "of", "ml").index(t[0]))]
    for i, ((llc, llb, llx), (ofc, ofb, ofx), (mlc, mlb, mlx)) \
            in enumerate(triples):
        fields.append((ofx, ofb))
        fields.append((mlx, mlb))
        fields.append((llx, llb))
        if i < nseq - 1:
            for which in ("ll", "ml", "of"):
                if reads[which] is not None:
                    fields.append(reads[which][i])
    w = RevBitWriter()
    for v, n in reversed(fields):
        w.append(v, n)
    return head + w.finish()


def execute_sequences(literals: bytes, seqs: list[tuple[int, int, int]],
                      window: bytearray,
                      reps: list[int]) -> tuple[bytes, list[int]]:
    """§3.1.1.4 sequence execution against `window` (all frame output
    so far — cross-block matches included). Returns (block content,
    updated repeat history); appends to `window` as it goes."""
    start = len(window)
    lit_pos = 0
    for ll, ov, ml in seqs:
        if lit_pos + ll > len(literals):
            raise ValueError("zstd: literals overrun")
        window += literals[lit_pos:lit_pos + ll]
        lit_pos += ll
        off, reps = apply_offset_history(ov, ll, reps)
        if off > len(window):
            raise ValueError("zstd: match offset beyond window")
        if len(window) - start + ml > (1 << 22):
            # corrupt nseq/match_length must fail loudly, not balloon
            # memory before the FCS check (spec block max is 128 KiB;
            # 4 MiB keeps generous headroom for synthetic fixtures)
            raise ValueError("zstd: block output over limit")
        if off >= ml:                           # disjoint: one slice copy
            src = len(window) - off
            window += window[src:src + ml]
        else:                                   # overlap: repeat the period
            pattern = bytes(window[len(window) - off:])
            reps_n, rem = divmod(ml, off)
            window += pattern * reps_n + pattern[:rem]
    window += literals[lit_pos:]
    return bytes(window[start:]), reps


# ---------------------------------------------------------------------------
# XXH64 (public spec, Collet) — zstd's Content_Checksum is the low 32
# bits of XXH64(content, seed=0) (RFC 8878 §3.1.1). Implemented here so
# the frame walk VERIFIES checksums instead of skipping them.
# ---------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _XXP2) & _M64, 31) * _XXP1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        a1 = (seed + _XXP1 + _XXP2) & _M64
        a2 = (seed + _XXP2) & _M64
        a3 = seed & _M64
        a4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            a1 = _xx_round(a1, int.from_bytes(data[i:i + 8], "little"))
            a2 = _xx_round(a2, int.from_bytes(data[i + 8:i + 16], "little"))
            a3 = _xx_round(a3, int.from_bytes(data[i + 16:i + 24], "little"))
            a4 = _xx_round(a4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl64(a1, 1) + _rotl64(a2, 7)
             + _rotl64(a3, 12) + _rotl64(a4, 18)) & _M64
        for acc in (a1, a2, a3, a4):
            h = ((h ^ _xx_round(0, acc)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xx_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _XXP1) & _M64
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _M64
        h = (_rotl64(h, 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h
