"""Zstandard codec — the modern corpus compressor, implemented for real.

zstd (RFC 8878, public) is what today's training corpora actually ship
in: HuggingFace dumps are ``.jsonl.zst``, archived crawls move to
``.tar.zst``, and every lakehouse offers it as a parquet codec. Python's
stdlib has no zstd (pre-3.14), so the engine implements the format
itself — the same posture as the FLAC and GIF tiers:

- **decoder**: frame header → block walk (Raw / RLE / Compressed) →
  literals section (Raw / RLE / Huffman-compressed with a direct weight
  description) → sequences section (FSE-described tables, BACKWARD
  bitstream, the three-state LL/OF/ML machine with repeat-offset
  history) → sequence execution;
- **encoder**: greedy LZ77 matcher (min match 3), Huffman literals when
  they pay, FSE-compressed sequence codes with explicitly-serialized
  normalized counts — every table is DESCRIBED IN THE STREAM, so
  correctness never rests on memorized default-distribution constants;
- **FSE**: normalized-count (de)serialization, the spec's table-spread
  algorithm, encode/decode state machines;
- **Huffman**: canonical weight assignment, direct description, forward
  encode / backward decode.

The decoder covers the FULL RFC 8878 surface real libzstd output uses:
predefined FSE distributions (§3.1.1.3.2.2 normative constants),
Repeat_Mode table reuse, FSE-compressed Huffman weight tables
(two interleaved states, §4.2.1), treeless literals reusing the
previous table, frame-scoped state — repeat-offset history and the
LZ match window both persist ACROSS blocks within a frame, exactly as
libzstd emits them — plus multi-frame concatenation with skippable
frames (§3) and TRAINED DICTIONARIES (§5: entropy-table seeding,
repeat-offset replacement, content-prefixed window, id matching).

Correctness chain: every layer round-trips under pytest (including
hypothesis sweeps over arbitrary bytes), the registered keys hash-prove
document round trips against closed-form oracles, and the decoder obeys
the container discipline (never raises, caps before allocation,
truncation/mutation sweeps). Cross-implementation proof: the sandbox's
real ``zstd`` CLI (v1.5.7) is used BOTH directions in pytest —
CLI-written frames decode here bit-exactly at several levels, and this
encoder's frames decode under the CLI — closing the two-independent-
implementations loop the LZ4 keys established. Fixture frames for the
registered keys come from the in-process libzstd
(:func:`zstd_compress_real_many`), checksum bit set.
"""

from __future__ import annotations

import struct

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"

#: decompressed cap per frame — the container discipline
ZSTD_FRAME_CAP = 64 << 20
_MAX_BLOCK = 128 << 10  # encoder emits 128 KiB blocks


# ---------------------------------------------------------------------------
# bitstreams
# ---------------------------------------------------------------------------


class _BackwardWriter:
    """zstd bitstreams are written forward but READ backward: bits
    accumulate little-endian-first, and the final byte carries a sentinel
    1-bit above the last data bit."""

    def __init__(self) -> None:
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.nbits
        self.nbits += nbits

    def bytes(self) -> bytes:
        # sentinel bit terminates the stream
        self.acc |= 1 << self.nbits
        self.nbits += 1
        nbytes = (self.nbits + 7) // 8
        return self.acc.to_bytes(nbytes, "little")


class _BackwardReader:
    """Reads the writer's stream back: start from the LAST byte, skip
    the sentinel, then consume bits high-to-low exactly as they were
    written low-to-high.

    Windowed (r13): the original kept the WHOLE stream as one
    arbitrary-precision int and every read shifted it — O(stream) per
    read, so O(stream²) per block; profiling a default-written Spark
    ORC file showed 98% of the decode inside these shifts (~2 s for a
    0.5 MB literal stream). The reader now slides an 8-byte window
    over the bytes covering the current bit cursor, refilling as the
    cursor walks down. Reads ≤ 56 bits always fit one window — the
    format's widest single read is a 31-bit offset — and anything
    wider takes the exact big-int path (never emitted by conforming
    streams). Read/peek semantics, including the zero-padded overshoot
    (BIT_DStream_overflow), are bit-identical to the original."""

    __slots__ = ("data", "nbits", "overflowed", "_win", "_lo")

    def __init__(self, data: bytes) -> None:
        if not data or data[-1] == 0:
            raise ValueError("no sentinel")
        self.data = data
        self.nbits = len(data) * 8 - 8 + data[-1].bit_length() - 1
        self.overflowed = False  # a read overdrew the stream (BIT_DStream_overflow)
        self._win = 0
        self._lo = self.nbits + 1  # sentinel: forces the first refill

    def _refill(self) -> None:
        """Window the 8 bytes whose bits cover [byte_lo*8, byte_hi*8)
        ⊇ [nbits-57, nbits) — one refill serves every read ≤ 56 bits
        until the cursor leaves the window."""
        byte_hi = (self.nbits + 7) // 8
        byte_lo = byte_hi - 8 if byte_hi > 8 else 0
        self._win = int.from_bytes(self.data[byte_lo:byte_hi], "little")
        self._lo = byte_lo * 8

    def peek(self, nbits: int) -> int:
        nb = self.nbits
        if nbits > 56:  # exact path for non-conforming widths
            acc = int.from_bytes(self.data, "little")
            if nbits > nb:
                return (acc << (nbits - nb)) & ((1 << nbits) - 1)
            return (acc >> (nb - nbits)) & ((1 << nbits) - 1)
        if nbits > nb:
            # per spec, reads may overshoot at stream end (zero-filled)
            if self._lo > 0:
                self._refill()
            return (self._win << (nbits - nb)) & ((1 << nbits) - 1)
        lo_needed = nb - nbits
        if lo_needed < self._lo:
            self._refill()
        return (self._win >> (lo_needed - self._lo)) & ((1 << nbits) - 1)

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        val = self.peek(nbits)
        if nbits > self.nbits:
            self.nbits = 0
            self.overflowed = True
        else:
            self.nbits -= nbits
        return val


# ---------------------------------------------------------------------------
# FSE (tANS): normalized counts <-> stream, table spread, state machines
# ---------------------------------------------------------------------------


def _fse_spread(norm: list[int], log: int) -> list[int]:
    """The spec's symbol-spread: low-probability (-1) symbols take the
    table's top slots; the rest walk ``(pos + 5/8·size + 3) mod size``
    skipping the reserved top slots."""
    size = 1 << log
    table = [0] * size
    high = size - 1
    for sym, n in enumerate(norm):
        if n == -1:
            table[high] = sym
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for sym, n in enumerate(norm):
        if n <= 0:
            continue
        for _ in range(n):
            table[pos] = sym
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    return table


class _FseDecodeTable:
    def __init__(self, norm: list[int], log: int) -> None:
        size = 1 << log
        spread = _fse_spread(norm, log)
        self.log = log
        self.symbol = spread
        self.nbits = [0] * size
        self.base = [0] * size
        counts: dict[int, int] = {}
        for pos in range(size):
            sym = spread[pos]
            counts[sym] = counts.get(sym, 0) + 1
        seen: dict[int, int] = {}
        for pos in range(size):
            sym = spread[pos]
            total = counts[sym]
            k = seen.get(sym, 0)
            seen[sym] = k + 1
            # the k-th occurrence (in spread order) maps to state
            # total' = total + k where total rounded up to power of two
            x = total + k
            nb = log - (x.bit_length() - 1)
            self.nbits[pos] = nb
            self.base[pos] = (x << nb) - size


class _FseEncodeTable:
    """Encoding tables built to MIRROR the decode table exactly: for
    each symbol, its decode states (in spread order) are the encoder's
    next-state targets, keyed by the same ``total + k`` indexing the
    decoder uses — symmetry by construction."""

    def __init__(self, norm: list[int], log: int) -> None:
        size = 1 << log
        spread = _fse_spread(norm, log)
        self.log = log
        counts: dict[int, int] = {}
        for sym in spread:
            counts[sym] = counts.get(sym, 0) + 1
        # next_states[sym][x - count] = table position whose decode
        # emits sym with cumulative index x
        self.next_state: dict[int, list[int]] = {
            sym: [0] * c for sym, c in counts.items()
        }
        seen: dict[int, int] = {}
        for pos in range(size):
            sym = spread[pos]
            k = seen.get(sym, 0)
            seen[sym] = k + 1
            self.next_state[sym][k] = pos
        self.count = counts

    def encode(self, state: int, sym: int, bw: _BackwardWriter) -> int:
        """Transition: given the state the DECODER will move to next
        (``state``) and the symbol it must emit before that, pick the
        cell ``x`` in [count, 2·count) with ``(x << nb) - size ≤ state <
        ((x+1) << nb) - size``, write the low ``nb`` bits, and return the
        cell's table position as the new (earlier) decoder state.
        Encoding therefore runs over the symbol sequence in REVERSE, so
        the backward-reading decoder sees it forward."""
        count = self.count[sym]
        v = state + (1 << self.log)
        nb = (v // count).bit_length() - 1
        x = v >> nb
        while x >= 2 * count:  # boundary adjust (integer log2 rounding)
            nb += 1
            x = v >> nb
        while x < count:
            nb -= 1
            x = v >> nb
        bw.write(v & ((1 << nb) - 1), nb)
        return self.next_state[sym][x - count]

    def init_state(self, sym: int) -> int:
        """Initial state for the LAST symbol (first decoded): any state
        that decodes to ``sym``; pick its first spread cell."""
        return self.next_state[sym][0]


class _FseDecoder:
    def __init__(self, table: _FseDecodeTable, br: _BackwardReader) -> None:
        self.t = table
        self.state = br.read(table.log)

    def peek(self) -> int:
        return self.t.symbol[self.state]

    def update(self, br: _BackwardReader) -> None:
        nb = self.t.nbits[self.state]
        self.state = self.t.base[self.state] + br.read(nb)


def fse_write_ncount(norm: list[int], log: int) -> bytes:
    """Serialize normalized counts (RFC 8878 §4.1.1 / the reference
    FSE_writeNCount algorithm): 4-bit accuracy-log field, then counts in
    an adaptively-shrinking field width — a value below ``max`` (the
    count of codes that fit the short form) uses one bit fewer; zero
    counts are followed by 2-bit zero-run repeats. Little-endian forward
    bitstream, byte-aligned at the end."""
    acc = 0
    bit_count = 0
    out = bytearray()

    def emit(val: int, nb: int) -> None:
        nonlocal acc, bit_count
        acc |= (val & ((1 << nb) - 1)) << bit_count
        bit_count += nb
        while bit_count >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bit_count -= 8

    emit(log - 5, 4)
    remaining = (1 << log) + 1
    threshold = 1 << log
    nb_bits = log + 1
    i = 0
    while remaining > 1 and i < len(norm):
        n = norm[i]
        maxv = (2 * threshold - 1) - remaining
        remaining -= -n if n < 0 else n
        val = n + 1  # -1 → 0, the "less than one" code
        if val >= threshold:
            val += maxv
        emit(val, nb_bits - 1 if val < maxv else nb_bits)
        i += 1
        if n == 0:
            # zero-run repeats, 3 per 2-bit field (24 per 0xFFFF chunk)
            start = i
            while i < len(norm) and norm[i] == 0:
                i += 1
            run = i - start
            while run >= 24:
                emit(0xFFFF, 16)
                run -= 24
            while run >= 3:
                emit(3, 2)
                run -= 3
            emit(run, 2)
        while remaining < threshold:
            nb_bits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("ncount total != table size")
    if bit_count:
        out.append(acc & 0xFF)
    return bytes(out)


def fse_read_ncount(data: bytes, pos_bits: int, max_symbol: int,
                    max_log: int = 12):
    """Deserialize normalized counts (the FSE_readNCount twin); returns
    ``(norm, log, bit_pos)`` with ``pos_bits`` a BIT offset into
    ``data``. ``max_log`` enforces the per-stream accuracy-log ceiling
    (LL 9, OF 8, ML 9, Huffman weights 6 per RFC 8878). Raises
    ValueError on malformed input."""

    def peek(nb: int) -> int:
        byte0 = pos_bits // 8
        if byte0 >= len(data):
            raise ValueError("ncount eof")
        window = int.from_bytes(data[byte0 : byte0 + 9], "little")
        return (window >> (pos_bits & 7)) & ((1 << nb) - 1)

    def skip(nb: int) -> None:
        nonlocal pos_bits
        pos_bits += nb
        if (pos_bits - 1) // 8 >= len(data):
            raise ValueError("ncount eof")

    log = peek(4) + 5
    skip(4)
    if log > min(max_log, 12):
        raise ValueError("accuracy log")
    remaining = (1 << log) + 1
    threshold = 1 << log
    nb_bits = log + 1
    norm: list[int] = []
    previous0 = False
    while remaining > 1 and len(norm) <= max_symbol:
        if previous0:
            # zero-run repeats
            while peek(16) == 0xFFFF:
                skip(16)
                norm.extend([0] * 24)
            while peek(2) == 3:
                skip(2)
                norm.extend([0] * 3)
            rep = peek(2)
            skip(2)
            norm.extend([0] * rep)
            previous0 = False
            if len(norm) > max_symbol + 1:
                raise ValueError("too many symbols")
            continue
        maxv = (2 * threshold - 1) - remaining
        val = peek(nb_bits - 1)
        if val < maxv:
            skip(nb_bits - 1)
        else:
            val = peek(nb_bits)
            skip(nb_bits)
            if val >= threshold:
                val -= maxv
        n = val - 1
        norm.append(n)
        remaining -= -n if n < 0 else n
        previous0 = n == 0
        while remaining < threshold:
            nb_bits -= 1
            threshold >>= 1
    if remaining != 1 or len(norm) > max_symbol + 1:
        raise ValueError("ncount total")
    return norm, log, pos_bits


# ---------------------------------------------------------------------------
# Huffman (literals): canonical weights, direct description
# ---------------------------------------------------------------------------


def _peek(br: _BackwardReader, nbits: int) -> int:
    return br.peek(nbits)


def _consume(br: _BackwardReader, nbits: int) -> None:
    br.nbits = max(0, br.nbits - nbits)


def huf_build_weights(freqs: dict[int, int], max_bits: int = 11):
    """Assign zstd Huffman WEIGHTS (weight w ⇒ code length
    ``max+1-w``) from symbol frequencies via a real Huffman merge.
    A COMPLETE (Kraft-tight) prefix code automatically satisfies the
    format's power-of-two weight-sum requirement, since
    ``Σ 2^(maxlen-len) = 2^maxlen · Σ 2^-len = 2^maxlen``. If the
    unconstrained code exceeds ``max_bits`` (pathological skew), fall
    back to the flat complete code (``2^L - n`` symbols one bit
    shorter), which is always valid. Deterministic (index tie-breaks).
    Returns ``{symbol: weight}``."""
    import heapq

    syms = sorted(freqs)
    if len(syms) < 2:
        raise ValueError("need >= 2 distinct symbols")
    heap = [(freqs[s], i, [s]) for i, s in enumerate(syms)]
    heapq.heapify(heap)
    nxt = len(syms)
    lengths = {s: 0 for s in syms}
    while len(heap) > 1:
        fa, _, la = heapq.heappop(heap)
        fb, _, lb = heapq.heappop(heap)
        for s in la + lb:
            lengths[s] += 1
        heapq.heappush(heap, (fa + fb, nxt, la + lb))
        nxt += 1
    maxlen = max(lengths.values())
    if maxlen > max_bits:
        # flat complete code fallback
        import math

        n = len(syms)
        L = max(1, math.ceil(math.log2(n)))
        short = (1 << L) - n  # symbols that get length L-1
        ordered = sorted(syms, key=lambda s: -freqs[s])
        lengths = {}
        for i, s in enumerate(ordered):
            lengths[s] = (L - 1) if i < short and L > 1 else L
        maxlen = max(lengths.values())
    return {s: maxlen + 1 - ln for s, ln in lengths.items()}


class _HufTable:
    """Canonical table from weights: symbols sorted by (weight, symbol)
    fill the 2^max_bits decode window from slot 0 upward, each taking
    ``2^(w-1) << …`` slots; the same layout yields the encoder's codes."""

    def __init__(self, weights: dict[int, int]) -> None:
        ks = sum(1 << (w - 1) for w in weights.values())
        if ks & (ks - 1):
            raise ValueError("Kraft sum not a power of two")
        self.max_bits = ks.bit_length() - 1
        size = 1 << self.max_bits
        self.dec_sym = [0] * size
        self.dec_bits = [0] * size
        self.codes: dict[int, tuple[int, int]] = {}
        slot = 0
        for sym in sorted(weights, key=lambda s: (weights[s], s)):
            w = weights[sym]
            nbits = self.max_bits + 1 - w
            span = 1 << (w - 1)
            code = slot >> (self.max_bits - nbits)
            self.codes[sym] = (code, nbits)
            for i in range(span):
                self.dec_sym[slot + i] = sym
                self.dec_bits[slot + i] = nbits
            slot += span
        if slot != size:
            raise ValueError("canonical fill mismatch")


def huf_weights_bytes(weights: dict[int, int]) -> bytes:
    """Direct weight description (header ≥ 128): ``127 + n`` then n
    4-bit weights for symbols ``0..n-1`` — the LAST present symbol's
    weight is implied by the Kraft completion and not transmitted."""
    last = max(weights)
    n = last  # weights for symbols 0..last-1
    if n < 1 or n > 127:
        raise ValueError("direct description needs 1..127 listed weights")
    nibbles = []
    for sym in range(n):
        nibbles.append(weights.get(sym, 0))
    out = bytearray([127 + n])
    for i in range(0, len(nibbles), 2):
        hi = nibbles[i]
        lo = nibbles[i + 1] if i + 1 < len(nibbles) else 0
        out.append((hi << 4) | lo)
    return bytes(out)


def _huf_weights_fse(payload: bytes) -> list[int]:
    """Decode an FSE-compressed Huffman weight stream (RFC 8878 §4.2.1,
    the HUF_readStats twin): an FSE table description with accuracy log
    ≤ 6, then a backward bitstream decoded by TWO interleaved states
    that alternate symbols; when a state update overdraws the stream
    (zero-padded, the BIT_DStream_overflow condition) one final symbol
    is flushed from the OTHER state and decoding stops — exactly the
    reference FSE_decompress tail loop."""
    norm, log, bitpos = fse_read_ncount(payload, 0, 15, max_log=6)
    table = _FseDecodeTable(norm, log)
    stream = payload[(bitpos + 7) // 8 :]
    br = _BackwardReader(stream)  # raises on empty / no sentinel
    even = _FseDecoder(table, br)
    odd = _FseDecoder(table, br)
    ws: list[int] = []
    while True:
        if len(ws) > 253:
            raise ValueError("weight stream too long")
        ws.append(even.peek())
        even.update(br)
        if br.overflowed:
            ws.append(odd.peek())
            break
        ws.append(odd.peek())
        odd.update(br)
        if br.overflowed:
            ws.append(even.peek())
            break
    return ws


def huf_read_weights(data: bytes):
    """Parse a weight description; returns ``({symbol: weight},
    n_consumed_bytes)``. Both RFC forms: direct (header ≥ 128, 4-bit
    nibbles) and FSE-compressed (header < 128 = compressed byte count,
    two interleaved states) — the latter is what libzstd emits for any
    sizeable literal alphabet."""
    if not data:
        raise ValueError("empty weights")
    hdr = data[0]
    if hdr >= 128:
        n = hdr - 127
        nbytes = 1 + (n + 1) // 2
        if len(data) < nbytes:
            raise ValueError("weights eof")
        weights: dict[int, int] = {}
        for sym in range(n):
            b = data[1 + sym // 2]
            w = (b >> 4) if sym % 2 == 0 else (b & 0xF)
            if w:
                weights[sym] = w
        implied_sym = n  # the spec: exactly n weights listed, symbol n implied
        consumed = nbytes
    else:
        if hdr < 1 or len(data) < 1 + hdr:
            raise ValueError("weights eof")
        ws = _huf_weights_fse(data[1 : 1 + hdr])
        weights = {sym: w for sym, w in enumerate(ws) if w}
        if not weights or max(weights.values()) > 12:
            raise ValueError("bad fse weights")
        implied_sym = len(ws)
        consumed = 1 + hdr
    # complete the implied last weight
    ks = sum(1 << (w - 1) for w in weights.values())
    target = 1 << ks.bit_length()
    lastw = (target - ks).bit_length()
    if (1 << (lastw - 1)) != target - ks:
        raise ValueError("non-completable weights")
    weights[implied_sym] = lastw
    return weights, consumed


def huf_encode_1stream(data: bytes, table: _HufTable) -> bytes:
    """One backward Huffman stream: symbols written in REVERSE so the
    backward-reading decoder emits them forward (the reference
    HUF_compress1X loop shape)."""
    bw = _BackwardWriter()
    for b in reversed(data):
        code, nbits = table.codes[b]
        bw.write(code, nbits)
    return bw.bytes()


def huf_decode_1stream(stream: bytes, table: _HufTable, n_out: int):
    """Decode ``n_out`` symbols from one backward stream, or None.
    This is the literal path's per-symbol loop — locals bound outside
    the loop, consume inlined (r13)."""
    try:
        br = _BackwardReader(stream)
    except ValueError:
        return None
    out = bytearray()
    mb = table.max_bits
    dec_sym = table.dec_sym
    dec_bits = table.dec_bits
    peek = br.peek
    append = out.append
    for _ in range(n_out):
        idx = peek(mb)
        append(dec_sym[idx])
        nb = br.nbits - dec_bits[idx]
        br.nbits = nb if nb > 0 else 0
    return bytes(out)


# ---------------------------------------------------------------------------
# sequence code tables (RFC 8878 §3.1.1.3.2.1.1) — shared by both sides
# ---------------------------------------------------------------------------

_LL_BASES = list(range(16)) + [
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536,
]
_LL_BITS = [0] * 16 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]
_ML_BASES = list(range(3, 35)) + [
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539,
]
_ML_BITS = [0] * 32 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]


def _code_for(value: int, bases: list[int]) -> int:
    """Largest code whose base ≤ value (the tables are ascending)."""
    import bisect

    return bisect.bisect_right(bases, value) - 1


# Predefined FSE distributions (RFC 8878 §3.1.1.3.2.2, normative) —
# what libzstd's Predefined_Mode means. -1 is the "less than one"
# probability (one top slot, full-log state reset).
_LL_PREDEF_NORM = [
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1,
]  # accuracy log 6
_OF_PREDEF_NORM = [
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1,
]  # accuracy log 5
_ML_PREDEF_NORM = [
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
    -1, -1, -1, -1, -1,
]  # accuracy log 6

_predef_cache: tuple | None = None


def _predef_tables():
    """The three predefined decode tables, built once per interpreter.
    Slot-count invariants are asserted at build time (Σn + #(-1) = 2^log)
    so a transcription error fails loudly, not silently."""
    global _predef_cache
    if _predef_cache is None:
        for norm, log in (
            (_LL_PREDEF_NORM, 6), (_OF_PREDEF_NORM, 5), (_ML_PREDEF_NORM, 6),
        ):
            used = sum(n if n > 0 else 1 for n in norm if n != 0)
            if used != 1 << log:
                raise AssertionError("predefined distribution mis-transcribed")
        _predef_cache = (
            _FseDecodeTable(_LL_PREDEF_NORM, 6),
            _FseDecodeTable(_OF_PREDEF_NORM, 5),
            _FseDecodeTable(_ML_PREDEF_NORM, 6),
        )
    return _predef_cache


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _lz_sequences(data: bytes):
    """Greedy LZ77 parse (min match 3, window = whole block): returns
    (sequences, literals) where each sequence is (lit_len, offset,
    match_len) over a shared literal buffer — zstd's representation."""
    n = len(data)
    seqs: list[tuple[int, int, int]] = []
    lits = bytearray()
    table: dict[int, int] = {}
    anchor = 0
    pos = 0
    while pos + 3 <= n:
        key = int.from_bytes(data[pos : pos + 3], "little")
        h = (key * 2654435761) & 0xFFFFFF
        cand = table.get(h)
        table[h] = pos
        if (
            cand is not None
            and data[cand : cand + 3] == data[pos : pos + 3]
        ):
            mlen = 3
            while pos + mlen < n and data[cand + mlen] == data[pos + mlen]:
                mlen += 1
            seqs.append((pos - anchor, pos - cand, mlen))
            lits += data[anchor:pos]
            pos += mlen
            anchor = pos
        else:
            pos += 1
    lits += data[anchor:]
    return seqs, bytes(lits)


def _literals_section(lits: bytes) -> bytes:
    """Literals section: Huffman-compressed when it pays — single
    stream (SF 00) for small buffers, the 4-stream layouts (SF 01/10/11
    with the 6-byte jump table) for larger ones — raw otherwise (all
    layouts per §3.1.1.3.1)."""
    from collections import Counter

    n = len(lits)
    if n >= 32 and len(set(lits)) >= 2:
        try:
            weights = huf_build_weights(dict(Counter(lits)))
        except ValueError:
            weights = None
        if weights is not None and max(weights) < 128:
            table = _HufTable(weights)
            desc = huf_weights_bytes(weights)
            if n < 256:
                stream = huf_encode_1stream(lits, table)
                comp = len(desc) + len(stream)
                if comp < n and n < (1 << 10) and comp < (1 << 10):
                    hdr24 = 2 | (0 << 2) | (n << 4) | (comp << 14)
                    return hdr24.to_bytes(3, "little") + desc + stream
            else:
                per = (n + 3) // 4
                parts = [lits[i * per : (i + 1) * per] for i in range(3)]
                parts.append(lits[3 * per :])
                streams = [huf_encode_1stream(p, table) for p in parts]
                jump = b"".join(
                    len(st).to_bytes(2, "little") for st in streams[:3]
                )
                body = desc + jump + b"".join(streams)
                comp = len(body)
                if comp < n:
                    if n < (1 << 10) and comp < (1 << 10):
                        hdr = 2 | (1 << 2) | (n << 4) | (comp << 14)
                        return hdr.to_bytes(3, "little") + body
                    if n < (1 << 14) and comp < (1 << 14):
                        hdr = 2 | (2 << 2) | (n << 4) | (comp << 18)
                        return hdr.to_bytes(4, "little") + body
                    if n < (1 << 18) and comp < (1 << 18):
                        hdr = 2 | (3 << 2) | (n << 4) | (comp << 22)
                        return hdr.to_bytes(5, "little") + body
    # raw literals
    if n < 32:
        return bytes([(n << 3) | 0]) + lits  # size_format 00, 5-bit
    if n < (1 << 12):
        hdr16 = 0 | (1 << 2) | (n << 4)
        return hdr16.to_bytes(2, "little") + lits  # SF 01, 12-bit
    hdr24 = 0 | (3 << 2) | (n << 4)
    return hdr24.to_bytes(3, "little") + lits  # SF 11, 20-bit


def _norm_counts(hist: dict[int, int], max_sym: int, log: int) -> list[int]:
    """Normalize a histogram to sum to ``1 << log`` with every present
    symbol ≥ 1 (zstd's requirement for FSE-described tables)."""
    size = 1 << log
    total = sum(hist.values())
    norm = [0] * (max_sym + 1)
    acc = 0
    present = sorted(hist)
    for sym in present:
        share = max(1, round(hist[sym] * size / total))
        norm[sym] = share
        acc += share
    # repair to exact total, never dropping a symbol below 1
    while acc > size:
        sym = max(present, key=lambda s: norm[s])
        if norm[sym] <= 1:
            break
        norm[sym] -= 1
        acc -= 1
    while acc < size:
        sym = max(present, key=lambda s: hist[s])
        norm[sym] += 1
        acc += 1
    if sum(norm) != size:
        raise ValueError("normalization failed")
    return norm


def _sequences_section(seqs: list[tuple[int, int, int]]) -> bytes:
    """Sequences section: FSE-compressed mode for all three code
    streams, tables described in-stream, one interleaved backward
    bitstream (§3.1.1.3.2). Repeat-offset code 1 is used when an
    offset repeats with lit_len > 0 — so the decoder's history path is
    exercised by ordinary round trips."""
    out = bytearray()
    n = len(seqs)
    if n < 128:
        out.append(n)
    elif n < 0x7F00:
        out.append((n >> 8) + 128)
        out.append(n & 0xFF)
    else:
        out += bytes([255, n & 0xFF, (n >> 8) & 0xFF])
    if n == 0:
        return bytes(out)

    ll_codes, of_codes, ml_codes = [], [], []
    of_values = []
    rep1 = None
    for ll, off, ml in seqs:
        if rep1 is not None and off == rep1 and ll > 0:
            val = 1  # repeat-offset code
        else:
            val = off + 3
        rep1 = off
        of_values.append(val)
        ll_codes.append(_code_for(ll, _LL_BASES))
        of_codes.append(val.bit_length() - 1)
        ml_codes.append(_code_for(ml, _ML_BASES))

    from collections import Counter

    streams = []
    for codes, max_sym, max_log in (
        (ll_codes, 35, 9),
        (of_codes, 31, 8),
        (ml_codes, 52, 9),
    ):
        hist = dict(Counter(codes))
        log = min(max_log, max(5, (len(hist) - 1).bit_length() + 2))
        norm = _norm_counts(hist, max(hist), log)
        streams.append((codes, norm, log))

    out.append((2 << 6) | (2 << 4) | (2 << 2))  # all FSE_Compressed
    for _codes, norm, log in streams:
        out += fse_write_ncount(norm, log)

    ll_t = _FseEncodeTable(streams[0][1], streams[0][2])
    of_t = _FseEncodeTable(streams[1][1], streams[1][2])
    ml_t = _FseEncodeTable(streams[2][1], streams[2][2])

    bw = _BackwardWriter()
    # the decoder reads BACKWARD: init states LL,OF,ML then per sequence
    # (OF bits, ML bits, LL bits) then state updates LL,ML,OF. The
    # encoder writes the exact mirror, processing sequences in reverse.
    last = n - 1
    ll_state = ll_t.init_state(ll_codes[last])
    of_state = of_t.init_state(of_codes[last])
    ml_state = ml_t.init_state(ml_codes[last])
    for i in range(last, -1, -1):
        ll, off, ml = seqs[i]
        if i != last:
            # mirror of decoder's update order LL,ML,OF (writes reversed)
            of_state = of_t.encode(of_state, of_codes[i], bw)
            ml_state = ml_t.encode(ml_state, ml_codes[i], bw)
            ll_state = ll_t.encode(ll_state, ll_codes[i], bw)
        llc, ofc, mlc = ll_codes[i], of_codes[i], ml_codes[i]
        # mirror of read order OF,ML,LL extras
        bw.write(ll - _LL_BASES[llc], _LL_BITS[llc])
        bw.write(ml - _ML_BASES[mlc], _ML_BITS[mlc])
        bw.write(of_values[i] - (1 << ofc), ofc)
    bw.write(ml_state, ml_t.log)
    bw.write(of_state, of_t.log)
    bw.write(ll_state, ll_t.log)
    return bytes(out) + bw.bytes()


def zstd_compress(data: bytes) -> bytes:
    """A COMPLETE zstd frame: magic, single-segment header with content
    size, 128 KiB blocks — compressed blocks with Huffman literals and
    FSE sequences when the parse finds matches, raw blocks otherwise."""
    out = bytearray(ZSTD_MAGIC)
    out.append(0xE4)  # FHD: FCS_flag=3, single-segment, content checksum
    out += struct.pack("<Q", len(data))
    if not data:
        out += (1 | (0 << 1) | (0 << 3)).to_bytes(3, "little")  # empty raw last
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
        return bytes(out)
    blocks = [
        data[i : i + _MAX_BLOCK] for i in range(0, len(data), _MAX_BLOCK)
    ]
    for bi, blk in enumerate(blocks):
        last = 1 if bi == len(blocks) - 1 else 0
        seqs, lits = _lz_sequences(blk)
        body = None
        if seqs:
            try:
                body = _literals_section(lits) + _sequences_section(seqs)
            except ValueError:
                body = None
        if body is None or len(body) >= len(blk):
            out += (last | (0 << 1) | (len(blk) << 3)).to_bytes(3, "little")
            out += blk
        else:
            out += (last | (2 << 1) | (len(body) << 3)).to_bytes(3, "little")
            out += body
    out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _FrameCtx:
    """Per-frame decode state RFC 8878 scopes ACROSS blocks: the last
    Huffman table (treeless literals reuse it), the last LL/OF/ML FSE
    tables (Repeat_Mode reuses them), and the repeat-offset history
    (initialized 1/4/8 once per frame, NOT per block). ``stats``
    records which entropy forms the frame exercised — the hook pytest
    uses to pin predefined/RLE/FSE/repeat coverage on CLI fixtures."""

    __slots__ = ("huf", "ll", "of", "ml", "reps", "stats")

    def __init__(self) -> None:
        self.huf: _HufTable | None = None
        self.ll = self.of = self.ml = None
        self.reps = [1, 4, 8]
        self.stats: set[str] = set()


def zstd_decompress(raw: bytes, cap: int = ZSTD_FRAME_CAP):
    """Decode one zstd frame. Returns the payload bytes or None for
    anything malformed (bad magic, reserved block types, lying sizes,
    bomb declarations, broken entropy streams, nonzero dictionary IDs
    — frames naming a dictionary ID are refused by THIS entry point;
    use :func:`zstd_decompress_dict` to decode them). Never raises."""
    try:
        got = _zstd_inner(raw, cap, _FrameCtx())
        return None if got is None else got[0]
    except Exception:
        return None


def zstd_frame_stats(raw: bytes, cap: int = ZSTD_FRAME_CAP):
    """Decode and report: ``(payload_or_None, stats)`` where stats names
    the entropy forms the frame used (``seq:predef``, ``seq:rle``,
    ``seq:fse``, ``seq:repeat``, ``weights:direct``, ``weights:fse``,
    ``lit:treeless``). Test/diagnostic hook; same never-raise contract."""
    ctx = _FrameCtx()
    try:
        got = _zstd_inner(raw, cap, ctx)
        return (None if got is None else got[0]), ctx.stats
    except Exception:
        return None, ctx.stats


ZSTD_SKIPPABLE_MIN = 0x184D2A50
ZSTD_SKIPPABLE_MAX = 0x184D2A5F


def zstd_decompress_concat(raw: bytes, cap: int = ZSTD_FRAME_CAP):
    """Decode a CONCATENATION of zstd frames — the multi-frame layout
    real tools produce: pzstd writes one frame per chunk, ``cat a.zst
    b.zst`` is a valid stream per RFC 8878 §3, and the seekable format
    appends a skippable index frame. Data frames decode and append;
    skippable frames (magic 0x184D2A50..5F + little-endian u32 size)
    are skipped. The input must be consumed exactly — trailing garbage
    refuses the whole stream (unlike the single-frame entry point,
    which by contract reads ONE frame). Returns the joined payload or
    None; never raises."""
    try:
        out = bytearray()
        pos = 0
        n = len(raw)
        if n == 0:
            return None
        while pos < n:
            if pos + 4 > n:
                return None
            magic = int.from_bytes(raw[pos : pos + 4], "little")
            if ZSTD_SKIPPABLE_MIN <= magic <= ZSTD_SKIPPABLE_MAX:
                if pos + 8 > n:
                    return None
                (sz,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
                pos += 8 + sz
                if pos > n:
                    return None
                continue
            got = _zstd_inner(raw, cap - len(out), _FrameCtx(), pos)
            if got is None:
                return None
            payload, pos = got
            out += payload
        return bytes(out)
    except Exception:
        return None


def _zstd_inner(raw: bytes, cap: int, ctx: _FrameCtx, start: int = 0,
                prefix: bytes = b"", dict_id: int = 0):
    """One frame at byte ``start`` → (payload, end_pos) or None.
    ``prefix`` seeds the match window (dictionary content — sequence
    offsets legally reach into it) and is excluded from the payload;
    ``dict_id`` is the attached dictionary's id — a frame naming a
    DIFFERENT id (or naming one when no dictionary is attached) is
    refused rather than misdecoded."""
    if len(raw) < start + 9 or raw[start : start + 4] != ZSTD_MAGIC:
        return None
    fhd = raw[start + 4]
    pos = start + 5
    single_segment = (fhd >> 5) & 1
    fcs_flag = fhd >> 6
    if fhd & 0x08:  # reserved bit must be zero
        return None
    if not single_segment:
        pos += 1  # window descriptor
    did_flag = fhd & 3
    did_len = (0, 1, 2, 4)[did_flag]
    if did_len:
        frame_did = int.from_bytes(raw[pos : pos + did_len], "little")
        if frame_did and frame_did != dict_id:
            return None  # names a dictionary we don't have — refuse
        pos += did_len
    fcs_len = (0, 2, 4, 8)[fcs_flag]
    if fcs_flag == 0 and single_segment:
        fcs_len = 1
    content_size = None
    if fcs_len:
        content_size = int.from_bytes(raw[pos : pos + fcs_len], "little")
        if fcs_len == 2:
            content_size += 256
        pos += fcs_len
        if content_size > cap:
            return None  # declared bomb

    # the output buffer is FRAME-scoped: sequence offsets legally reach
    # back into previous blocks' output (libzstd does this routinely),
    # and into the dictionary-content prefix when one is attached
    out = bytearray(prefix)
    base = len(prefix)
    cap = cap + base
    while True:
        if pos + 3 > len(raw):
            return None
        hdr = int.from_bytes(raw[pos : pos + 3], "little")
        pos += 3
        last = hdr & 1
        btype = (hdr >> 1) & 3
        bsize = hdr >> 3
        if btype == 0:  # raw
            if pos + bsize > len(raw) or len(out) + bsize > cap:
                return None
            out += raw[pos : pos + bsize]
            pos += bsize
        elif btype == 1:  # RLE: bsize = REGENERATED size, 1 byte follows
            if pos >= len(raw) or len(out) + bsize > cap:
                return None
            out += raw[pos : pos + 1] * bsize
            pos += 1
        elif btype == 2:  # compressed
            if pos + bsize > len(raw):
                return None
            if not _decode_block(raw[pos : pos + bsize], out, ctx, cap):
                return None
            pos += bsize
        else:
            return None  # reserved
        if last:
            break
    if (fhd >> 2) & 1:  # content checksum: low 32 bits of XXH64(content)
        if pos + 4 > len(raw):
            return None
        (want,) = struct.unpack("<I", raw[pos : pos + 4])
        if (xxh64(bytes(out[base:])) & 0xFFFFFFFF) != want:
            return None  # corrupt payload the entropy layers missed
        pos += 4
    if content_size is not None and len(out) - base != content_size:
        return None
    return bytes(out[base:]), pos


def _decode_block(block: bytes, out: bytearray, ctx: _FrameCtx,
                  cap: int) -> bool:
    lits, pos = _decode_literals(block, ctx, cap - len(out))
    if lits is None:
        return False
    return _decode_sequences(block[pos:], lits, out, ctx, cap)


def _decode_literals(block: bytes, ctx: _FrameCtx, cap: int):
    if not block:
        return None, 0
    b0 = block[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if sf in (0, 2):
            regen = b0 >> 3
            hdr_len = 1
        elif sf == 1:
            if len(block) < 2:
                return None, 0
            regen = (b0 >> 4) | (block[1] << 4)
            hdr_len = 2
        else:
            if len(block) < 3:
                return None, 0
            regen = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            hdr_len = 3
        if regen > cap:
            return None, 0
        if ltype == 0:
            if len(block) < hdr_len + regen:
                return None, 0
            return block[hdr_len : hdr_len + regen], hdr_len + regen
        if len(block) < hdr_len + 1:
            return None, 0
        return block[hdr_len : hdr_len + 1] * regen, hdr_len + 1
    # compressed (ltype 2) / treeless (ltype 3) share the size formats
    if sf == 0:
        if len(block) < 3:
            return None, 0
        hdr = int.from_bytes(block[:3], "little")
        regen = (hdr >> 4) & 0x3FF
        comp = (hdr >> 14) & 0x3FF
        hdr_len = 3
        streams = 1
    elif sf == 1:
        if len(block) < 3:
            return None, 0
        hdr = int.from_bytes(block[:3], "little")
        regen = (hdr >> 4) & 0x3FF
        comp = (hdr >> 14) & 0x3FF
        hdr_len = 3
        streams = 4
    elif sf == 2:
        if len(block) < 4:
            return None, 0
        hdr = int.from_bytes(block[:4], "little")
        regen = (hdr >> 4) & 0x3FFF
        comp = (hdr >> 18) & 0x3FFF
        hdr_len = 4
        streams = 4
    else:
        if len(block) < 5:
            return None, 0
        hdr = int.from_bytes(block[:5], "little")
        regen = (hdr >> 4) & 0x3FFFF
        comp = (hdr >> 22) & 0x3FFFF
        hdr_len = 5
        streams = 4
    if regen > cap or len(block) < hdr_len + comp:
        return None, 0
    payload = block[hdr_len : hdr_len + comp]
    if ltype == 2:
        weights, consumed = huf_read_weights(payload)
        table = _HufTable(weights)
        ctx.huf = table
        ctx.stats.add("weights:fse" if payload[0] < 128 else "weights:direct")
        body = payload[consumed:]
    else:  # treeless: reuse the frame's previous Huffman table
        table = ctx.huf
        if table is None:
            return None, 0
        ctx.stats.add("lit:treeless")
        body = payload
    if streams == 1:
        lits = huf_decode_1stream(body, table, regen)
        if lits is None:
            return None, 0
        return lits, hdr_len + comp
    # 4 streams: 6-byte jump table, sizes of streams 1-3
    if len(body) < 6:
        return None, 0
    s1 = int.from_bytes(body[0:2], "little")
    s2 = int.from_bytes(body[2:4], "little")
    s3 = int.from_bytes(body[4:6], "little")
    rest = body[6:]
    if s1 + s2 + s3 > len(rest):
        return None, 0
    parts = [
        rest[:s1],
        rest[s1 : s1 + s2],
        rest[s1 + s2 : s1 + s2 + s3],
        rest[s1 + s2 + s3 :],
    ]
    per = (regen + 3) // 4
    outs = []
    for i, part in enumerate(parts):
        want = per if i < 3 else regen - 3 * per
        dec = huf_decode_1stream(part, table, want)
        if dec is None:
            return None, 0
        outs.append(dec)
    return b"".join(outs), hdr_len + comp


def _decode_sequences(data: bytes, lits: bytes, out: bytearray,
                      ctx: _FrameCtx, cap: int) -> bool:
    if not data:
        return False
    b0 = data[0]
    pos = 1
    if b0 < 128:
        n = b0
    elif b0 < 255:
        if len(data) < 2:
            return False
        n = ((b0 - 128) << 8) + data[1]
        pos = 2
    else:
        if len(data) < 3:
            return False
        n = data[1] + (data[2] << 8) + 0x7F00
        pos = 3
    if n == 0:
        if len(out) + len(lits) > cap:
            return False
        out += lits
        return True
    if n > (1 << 20):
        return False  # sequence-count bomb

    if pos >= len(data):
        return False
    modes = data[pos]
    pos += 1
    if modes & 3:
        return False  # reserved bits must be zero
    ll_mode = (modes >> 6) & 3
    of_mode = (modes >> 4) & 3
    ml_mode = (modes >> 2) & 3

    tables = []
    for slot, (mode, max_sym, max_log) in zip(
        ("ll", "of", "ml"),
        ((ll_mode, 35, 9), (of_mode, 31, 8), (ml_mode, 52, 9)),
    ):
        if mode == 0:  # Predefined_Mode: the RFC's normative tables
            t = _predef_tables()[("ll", "of", "ml").index(slot)]
            ctx.stats.add("seq:predef")
        elif mode == 1:  # RLE: one byte symbol, log-0 table
            if pos >= len(data):
                return False
            sym = data[pos]
            pos += 1
            if sym > max_sym:
                return False
            t = _FseDecodeTable([0] * sym + [1], 0)
            ctx.stats.add("seq:rle")
        elif mode == 2:  # FSE_Compressed: table described in-stream
            norm, log, bitpos = fse_read_ncount(data[pos:], 0, max_sym,
                                                max_log)
            pos += (bitpos + 7) // 8
            t = _FseDecodeTable(norm, log)
            ctx.stats.add("seq:fse")
        else:  # Repeat_Mode: reuse this frame's previous table
            t = getattr(ctx, slot)
            if t is None:
                return False  # first use with no prior table (or dict)
            ctx.stats.add("seq:repeat")
        setattr(ctx, slot, t)
        tables.append(t)
    ll_t, of_t, ml_t = tables

    br = _BackwardReader(data[pos:])
    ll_d = _FseDecoder(ll_t, br)
    of_d = _FseDecoder(of_t, br)
    ml_d = _FseDecoder(ml_t, br)

    lit_pos = 0
    reps = ctx.reps  # frame-scoped history, mutated in place below
    for i in range(n):
        ofc = of_d.peek()
        mlc = ml_d.peek()
        llc = ll_d.peek()
        if ofc > 31 or mlc > 52 or llc > 35:
            return False
        of_val = (1 << ofc) + br.read(ofc)
        ml = _ML_BASES[mlc] + br.read(_ML_BITS[mlc])
        ll = _LL_BASES[llc] + br.read(_LL_BITS[llc])
        # repeat-offset resolution
        if of_val > 3:
            offset = of_val - 3
            reps = [offset, reps[0], reps[1]]
        else:
            idx = of_val - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = reps[0]
            elif idx == 1:
                offset = reps[1]
                reps = [offset, reps[0], reps[2]]
            elif idx == 2:
                offset = reps[2]
                reps = [offset, reps[0], reps[1]]
            else:  # of_val == 3 and ll == 0
                offset = reps[0] - 1
                if offset == 0:
                    return False
                reps = [offset, reps[0], reps[1]]
        if lit_pos + ll > len(lits) or len(out) + ll + ml > cap:
            return False
        out += lits[lit_pos : lit_pos + ll]
        lit_pos += ll
        if offset > len(out) or offset == 0:
            return False
        start = len(out) - offset
        if offset >= ml:
            out += out[start : start + ml]
        else:  # overlap: the match repeats every `offset` bytes (r13)
            pattern = bytes(out[start:])
            out += (pattern * ((ml + offset - 1) // offset))[:ml]
        if i != n - 1:
            ll_d.update(br)
            ml_d.update(br)
            of_d.update(br)
    ctx.reps = reps
    rest = len(lits) - lit_pos
    if len(out) + rest > cap:
        return False
    out += lits[lit_pos:]
    return True


# ---------------------------------------------------------------------------
# registered keys
# ---------------------------------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dynamic_spark_spark.llmops.fixtures import require_rows  # noqa: E402
from dynamic_spark_spark.registry import query  # noqa: E402
from dynamic_spark_spark.sources.readers import load_table  # noqa: E402

_ZST_TEXT_ORACLE = """
SELECT doc_id, text FROM documents WHERE text NOT LIKE '%|%'
 AND NOT contains(text, chr(10)) AND NOT contains(text, chr(13))
"""


_LIBZSTD_UNPROBED = object()
_libzstd_handle_obj: object = _LIBZSTD_UNPROBED
#: ZSTD_cParameter enum values (zstd.h, stable public API since v1.4.0)
_ZSTD_C_COMPRESSION_LEVEL = 100
_ZSTD_C_CHECKSUM_FLAG = 201


def libzstd_handle():
    """ctypes handle to the real libzstd shared library, prototyped for
    the one-shot compression entry points, or None. Probed once per
    interpreter; :func:`zstd_compress_real_many` raises when it is None.

    Only the stable public API is bound (ZSTD_createCCtx /
    ZSTD_CCtx_setParameter / ZSTD_compress2 / ZSTD_compressBound /
    ZSTD_isError, all v1.4.0+); a library missing any symbol probes as
    absent rather than half-working."""
    global _libzstd_handle_obj
    if _libzstd_handle_obj is _LIBZSTD_UNPROBED:
        import ctypes

        lib = None
        for name in ("libzstd.so.1", "libzstd.so", "libzstd.1.dylib",
                     "libzstd.dylib"):
            try:
                lib = ctypes.CDLL(name)
                break
            except OSError:
                lib = None
        if lib is not None:
            try:
                lib.ZSTD_createCCtx.restype = ctypes.c_void_p
                lib.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
                lib.ZSTD_CCtx_setParameter.restype = ctypes.c_size_t
                lib.ZSTD_CCtx_setParameter.argtypes = [
                    ctypes.c_void_p, ctypes.c_int, ctypes.c_int,
                ]
                lib.ZSTD_compress2.restype = ctypes.c_size_t
                lib.ZSTD_compress2.argtypes = [
                    ctypes.c_void_p, ctypes.c_void_p, ctypes.c_size_t,
                    ctypes.c_char_p, ctypes.c_size_t,
                ]
                lib.ZSTD_compressBound.restype = ctypes.c_size_t
                lib.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
                lib.ZSTD_isError.restype = ctypes.c_uint
                lib.ZSTD_isError.argtypes = [ctypes.c_size_t]
            except AttributeError:
                lib = None
        _libzstd_handle_obj = lib
    return _libzstd_handle_obj


def zstd_compress_real_many(payloads: list[bytes], level: int = 3) -> list[bytes]:
    """Compress each payload into its own frame with the in-process
    libzstd: the one writer for every key/probe that wants genuine
    libzstd streams. Frames carry the content checksum (the CLI's
    default), so the decode side always runs its XXH64 check. One CCtx
    serves the whole batch — created and freed per call, so concurrent
    callers never share mutable state. Raises ``RuntimeError`` when
    libzstd cannot be loaded or reports an error: a fixture that is not
    real libzstd output must not pass as one."""
    if not payloads:
        return []
    lib = libzstd_handle()
    if lib is None:
        raise RuntimeError("libzstd shared library not found")
    import ctypes

    cctx = lib.ZSTD_createCCtx()
    if not cctx:
        raise RuntimeError("libzstd: ZSTD_createCCtx failed")
    try:
        if lib.ZSTD_isError(
            lib.ZSTD_CCtx_setParameter(cctx, _ZSTD_C_COMPRESSION_LEVEL, level)
        ) or lib.ZSTD_isError(
            lib.ZSTD_CCtx_setParameter(cctx, _ZSTD_C_CHECKSUM_FLAG, 1)
        ):
            raise RuntimeError(f"libzstd rejected level={level} or checksum flag")
        out = []
        for p in payloads:
            bound = lib.ZSTD_compressBound(len(p))
            buf = ctypes.create_string_buffer(bound)
            n = lib.ZSTD_compress2(cctx, buf, bound, p, len(p))
            if lib.ZSTD_isError(n):
                raise RuntimeError("libzstd: ZSTD_compress2 failed")
            out.append(buf.raw[:n])
        return out
    finally:
        lib.ZSTD_freeCCtx(cctx)


def zstd_compress_real(data: bytes, level: int = 3) -> bytes:
    """One frame of :func:`zstd_compress_real_many`."""
    return zstd_compress_real_many([data], level)[0]


def _zst_batches(batches):
    """The per-batch body of ``scan_text_zst``: one newline-framed shard
    per batch through libzstd and back. A shard that does not decode, or
    decodes to a different number of lines than it was written with,
    raises ``UndecodableInputError``."""
    import pandas as pd

    for pdf in batches:
        lines = "".join(
            f"{int(i)}|{t}\n" for i, t in zip(pdf["doc_id"], pdf["text"])
        ).encode("utf-8")
        frame = zstd_compress_real(lines, level=9)
        # concat-aware decode: real .jsonl.zst shards are often
        # MULTI-frame (pzstd splits input across frames)
        back = zstd_decompress_concat(frame)
        rows = []
        if back is not None:
            # "\n" only: splitlines() also breaks at \x0b, \x0c, \x1c-\x1e,
            # \x85, \u2028 and \u2029, which a document may hold
            for line in back.decode("utf-8").split("\n")[:-1]:
                did, _, text = line.partition("|")
                rows.append((int(did), text))
        yield pd.DataFrame(require_rows("scan_text_zst", pdf, rows),
                           columns=["doc_id", "text"])


@query("scan_text_zst", _ZST_TEXT_ORACLE, tag="scan")
def scan_text_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.zst`` text-shard round trip against REAL libzstd output: each
    Arrow batch of documents becomes one newline-framed shard which is
    compressed by the in-process libzstd (:func:`zstd_compress_real`,
    level 9 — exercises predefined/FSE/repeat sequence tables,
    FSE-compressed Huffman weights, and treeless literals, the forms
    libzstd routinely emits) and decoded back by this module's
    pure-Python frame walker, checksum included, before re-parsing.
    The closed-form oracle hash-proves
    the entire entropy pipeline per shard. This is the format modern
    corpora actually ship in (`.jsonl.zst`); the scale caveat matches
    gzip — one frame is one decode unit, so corpora shard by file,
    exactly how the key processes them. Per-batch mapInPandas, zero
    shuffle."""
    d = load_table(spark, sf_dir, "documents").where(
        ~F.col("text").contains("|")
        & ~F.col("text").contains("\n")
        & ~F.col("text").contains("\r")
    ).select("doc_id", "text")
    return d.mapInPandas(_zst_batches, "doc_id long, text string")


# ---------------------------------------------------------------------------
# XXH64 (the frame-checksum hash) — pure Python, JVM-cross-validated
# ---------------------------------------------------------------------------

_XXM = (1 << 64) - 1
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXM


def xxh64(data: bytes, seed: int = 0) -> int:
    """Pure-Python XXH64 (Cyan4973's public algorithm) — zstd's frame
    checksum, and the hash Spark's ``xxhash64`` SQL function computes
    with seed 42: the ``fn_xxhash64_pure`` key proves this
    implementation bit-identical to the JVM's across the corpus, and
    pytest pins the published reference vectors."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _XXM
        v2 = (seed + _XXP2) & _XXM
        v3 = seed & _XXM
        v4 = (seed - _XXP1) & _XXM
        vs = [v1, v2, v3, v4]
        while i + 32 <= n:
            for k in range(4):
                lane = int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little")
                v = (vs[k] + lane * _XXP2) & _XXM
                vs[k] = (_rotl64(v, 31) * _XXP1) & _XXM
            i += 32
        h = (
            _rotl64(vs[0], 1) + _rotl64(vs[1], 7)
            + _rotl64(vs[2], 12) + _rotl64(vs[3], 18)
        ) & _XXM
        for v in vs:
            v = (_rotl64((v * _XXP2) & _XXM, 31) * _XXP1) & _XXM
            h = ((h ^ v) * _XXP1 + _XXP4) & _XXM
    else:
        h = (seed + _XXP5) & _XXM
    h = (h + n) & _XXM
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        lane = (_rotl64((lane * _XXP2) & _XXM, 31) * _XXP1) & _XXM
        h = (_rotl64(h ^ lane, 27) * _XXP1 + _XXP4) & _XXM
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXP1) & _XXM
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _XXM
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _XXM
        h = (_rotl64(h, 11) * _XXP1) & _XXM
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _XXM
    h ^= h >> 29
    h = (h * _XXP3) & _XXM
    h ^= h >> 32
    return h


_XXHASH_ORACLE = """
SELECT doc_id, TRUE AS hashes_match FROM documents
"""


@query("fn_xxhash64_pure", _XXHASH_ORACLE, tag="functions")
def fn_xxhash64_pure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine hash agreement: the pure-Python XXH64 above versus
    Spark's JVM ``xxhash64`` (seed 42) on each document's UTF-8 bytes,
    compared IN-PLAN — two independent implementations of the same
    public algorithm must agree bit-for-bit on every row, and the
    closed-form oracle (``hashes_match`` = TRUE) turns that agreement
    into a driver-checked hash proof. This is the checksum the zstd
    frames in this repo now carry, so the key grounds the codec's
    integrity tier against a second engine."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def py_xxh64(texts):
        import pandas as pd

        out = []
        for t in texts:
            v = xxh64((t if isinstance(t, str) else "").encode("utf-8"), 42)
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    jvm = F.xxhash64(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    return d.select(
        "doc_id",
        (py_xxh64(F.coalesce(F.col("text"), F.lit(""))) == jvm).alias(
            "hashes_match"
        ),
    )


# ---------------------------------------------------------------------------
# dictionary frames (RFC 8878 §5) — trained dictionaries, the small-record
# compression mode (per-document .zst with a corpus-trained dictionary)
# ---------------------------------------------------------------------------

ZSTD_DICT_MAGIC = b"\x37\xa4\x30\xec"  # 0xEC30A437 little-endian


def zstd_parse_dictionary(raw: bytes):
    """Parse a zstd dictionary → ``(dict_id, ctx_seed, content)`` or
    None. A magic-framed dictionary carries, in order: 4-byte id, the
    Huffman literals table (weight-description format), the OF/ML/LL
    FSE tables (ncount serialization, byte-aligned each), three 4-byte
    little-endian initial repeat offsets, then the raw content the
    match window is seeded with. Anything without the magic is a RAW
    CONTENT dictionary (id 0, no entropy seed) per the spec. Never
    raises."""
    try:
        if raw[:4] == ZSTD_DICT_MAGIC:
            if len(raw) < 8:
                return None  # magic with no room for the id: malformed,
                #              NOT a raw-content dictionary
            dict_id = int.from_bytes(raw[4:8], "little")
            pos = 8
            weights, consumed = huf_read_weights(raw[pos:])
            huf = _HufTable(weights)
            pos += consumed
            tables = []
            for max_sym, max_log in ((31, 8), (52, 9), (35, 9)):  # OF ML LL
                norm, log, bits = fse_read_ncount(raw[pos:], 0, max_sym,
                                                  max_log)
                pos += (bits + 7) // 8
                tables.append(_FseDecodeTable(norm, log))
            if pos + 12 > len(raw):
                return None
            reps = [
                int.from_bytes(raw[pos + 4 * i : pos + 4 * i + 4], "little")
                for i in range(3)
            ]
            if any(r <= 0 for r in reps):
                return None
            pos += 12
            ctx = _FrameCtx()
            ctx.huf = huf
            ctx.of, ctx.ml, ctx.ll = tables
            ctx.reps = reps
            return dict_id, ctx, raw[pos:]
        if not raw:
            return None
        return 0, _FrameCtx(), raw  # raw content dictionary
    except Exception:
        return None


def zstd_decompress_dict(frame: bytes, dictionary: bytes,
                         cap: int = ZSTD_FRAME_CAP):
    """Decode one frame against a dictionary (CLI ``zstd --train`` /
    ``zstd -D`` output, or a raw content prefix): the dictionary's
    entropy tables become the frame's initial Repeat_Mode/treeless
    state, its repeat offsets replace 1/4/8, and its content seeds the
    match window. The frame's Dictionary_ID must match (or be absent).
    Returns payload bytes or None; never raises."""
    parsed = zstd_parse_dictionary(dictionary)
    if parsed is None:
        return None
    dict_id, ctx, content = parsed
    try:
        got = _zstd_inner(frame, cap, ctx, 0, prefix=content,
                          dict_id=dict_id)
        return None if got is None else got[0]
    except Exception:
        return None
