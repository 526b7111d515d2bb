"""REAL FLAC audio codec — pure standard library + numpy.

Extends the real-decode family from raster (PNG/JPEG/GIF) to COMPRESSED
audio: WAV PCM decode (r8) covers the uncompressed case; crawls ship
lossless audio as FLAC. This module implements the subset that covers
the overwhelming majority of real streams:

- :func:`encode_flac` — a COMPLETE encoder: STREAMINFO (with the real
  MD5 of the unencoded PCM), fixed-blocksize frames, CONSTANT/FIXED
  (orders 0–4) subframes chosen per channel by residual cost, Rice-coded
  residual partitions with per-partition parameter search, optional
  mid/side stereo decorrelation, CRC-8 header and CRC-16 frame checks;
- :func:`decode_flac` — frame-level decode of CONSTANT, VERBATIM, FIXED
  (0–4) and LPC (1–32) subframes, Rice/Rice2 residuals including escape
  partitions, wasted-bits shifts, all four channel assignments
  (independent, left/side, right/side, mid/side), CRC-verified.

Decode discipline matches the other codecs: malformed input returns
None (never raises) and allocations are bounded before they happen —
STREAMINFO/frame sample counts are checked against ``MAX_DECODE_SAMPLES``
so a crafted stream costs O(cap), not an executor OOM. A CRC mismatch is
treated as corruption (refuse, don't guess).

Spec basis: RFC 9639 (IETF, public) — frame/subframe/residual layout,
CRC polynomials (8: x⁸+x²+x+1 → 0x07; 16: x¹⁶+x¹⁵+x²+1 → 0x8005),
UTF-8-style coded numbers, stereo decorrelation equations. Reference
basis: the reference engine ships no codecs (CDAP plugin glue;
ScalaSparkCompute-sparkcompute.md:5-6) — this tier exists for the
100-TB multimodal curation mandate.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

#: decoded-sample allocation cap (samples × channels), the audio analog of
#: the image tiers' MAX_DECODE_PIXELS.
MAX_DECODE_SAMPLES = 1 << 24


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


class _BitWriter:
    """MSB-first bit packer (FLAC's bit order)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_signed(self, value: int, nbits: int) -> None:
        self.write(value & ((1 << nbits) - 1), nbits)

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zero bits then a one bit

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader; raises EOFError past the end (callers catch
    and degrade to None)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, nbits: int) -> int:
        out = 0
        while nbits:
            if self.byte >= len(self.data):
                raise EOFError
            avail = 8 - self.bit
            take = min(avail, nbits)
            cur = self.data[self.byte]
            out = (out << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            nbits -= take
        return out

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v & (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > (1 << 24):  # runaway unary: corrupt stream
                raise EOFError
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _utf8_coded(value: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index, RFC 9639
    §9.1.5 — the UTF-8 scheme extended past the Unicode range)."""
    if value < 0x80:
        return bytes([value])
    out = []
    nbytes = 2
    while value >= (1 << (5 * nbytes + 1)) and nbytes < 7:
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | (value >> shift))
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((value >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_coded(br: _BitReader) -> int | None:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        return None
    value = first & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            return None
        value = (value << 6) | (b & 0x3F)
    return value


#: FIXED predictor coefficients by order (RFC 9639 §9.2.5).
_FIXED_COEF = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _rice_cost(resid: np.ndarray, param: int) -> int:
    u = (resid.astype(np.int64) << 1) ^ (resid >> 63)
    return int(np.sum(u >> param)) + len(resid) * (param + 1)


def _best_rice_param(resid: np.ndarray) -> int:
    if not len(resid):
        return 0
    best_p, best_c = 0, _rice_cost(resid, 0)
    for p in range(1, 15):
        c = _rice_cost(resid, p)
        if c < best_c:
            best_p, best_c = p, c
    return best_p


def _write_residual(bw: _BitWriter, resid: np.ndarray, block_size: int, order: int, partition_order: int) -> None:
    bw.write(0, 2)  # coding method 00: 4-bit Rice params
    bw.write(partition_order, 4)
    n_parts = 1 << partition_order
    part_len = block_size >> partition_order
    pos = 0
    for p in range(n_parts):
        count = part_len - (order if p == 0 else 0)
        chunk = resid[pos : pos + count]
        pos += count
        param = _best_rice_param(chunk)
        bw.write(param, 4)
        for v in chunk:
            v = int(v)
            u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
            bw.write_unary(u >> param)
            bw.write(u, param)


#: LPC quantization precision the encoder emits (decoder handles 1–15).
_LPC_PRECISION = 12


def _lpc_analyze(x: np.ndarray, order: int):
    """Autocorrelation + Levinson-Durbin + coefficient quantization —
    the standard LPC analysis (RFC 9639 §A; textbook DSP, public).
    Returns (quantized_coefs, shift) or None when the signal is too
    short/degenerate for a stable predictor."""
    if len(x) <= order * 2:
        return None
    xf = x.astype(np.float64)
    autoc = np.array(
        [np.dot(xf[: len(xf) - lag], xf[lag:]) for lag in range(order + 1)]
    )
    if autoc[0] == 0.0:
        return None
    err = autoc[0]
    lpc = np.zeros(order)
    for i in range(order):
        acc = autoc[i + 1] - np.dot(lpc[:i], autoc[i:0:-1])
        k = acc / err
        lpc[: i + 1] = np.concatenate([lpc[:i] - k * lpc[:i][::-1], [k]])
        err *= 1.0 - k * k
        if err <= 0.0:
            return None
    cmax = np.max(np.abs(lpc))
    if cmax == 0.0 or not np.isfinite(cmax):
        return None
    # largest shift keeping every quantized coefficient in signed range
    shift = _LPC_PRECISION - 1 - max(0, int(np.floor(np.log2(cmax))) + 1)
    shift = max(0, min(15, shift))
    qmax = (1 << (_LPC_PRECISION - 1)) - 1
    q = np.clip(np.round(lpc * (1 << shift)), -qmax - 1, qmax).astype(np.int64)
    if not np.any(q):
        return None
    return q, shift


def _lpc_residual(x: np.ndarray, q: np.ndarray, shift: int) -> np.ndarray:
    """Integer LPC residual with the decoder's exact arithmetic
    (sum(coef·history) >> shift, arithmetic shift)."""
    order = len(q)
    xi = x.astype(np.int64)
    # history matrix: column j holds x[i-1-j] for each predicted i
    hist = np.stack([xi[order - 1 - j : len(xi) - 1 - j] for j in range(order)])
    pred = (q @ hist) >> shift
    return xi[order:] - pred


def _encode_subframe(
    bw: _BitWriter,
    x: np.ndarray,
    bits: int,
    partition_order: int,
    lpc_order: int = 0,
) -> None:
    """CONSTANT when the channel is flat, else the cheaper of the best
    FIXED order and (when ``lpc_order`` > 0) a real LPC predictor."""
    if np.all(x == x[0]):
        bw.write(0, 1)  # pad
        bw.write(0, 6)  # type: CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write_signed(int(x[0]), bits)
        return
    def rice_bits(resid: np.ndarray) -> int:
        return _rice_cost(resid, _best_rice_param(resid)) if len(resid) else 0

    best_order, best_cost = 0, None
    for order in range(min(5, len(x))):
        r = _fixed_residual(x, order)
        # full subframe cost: warmup samples + Rice-coded residual
        cost = order * bits + rice_bits(r)
        if best_cost is None or cost < best_cost:
            best_order, best_cost = order, cost

    lpc_plan = None
    if lpc_order > 0:
        analyzed = _lpc_analyze(x, lpc_order)
        if analyzed is not None:
            q, shift = analyzed
            lresid = _lpc_residual(x, q, shift)
            # charge LPC its FULL cost — warmup, precision+shift fields,
            # quantized coefficients — so it only wins when the encoded
            # subframe is smaller, not just the residual
            lpc_cost = len(q) * bits + 9 + len(q) * _LPC_PRECISION + rice_bits(lresid)
            if lpc_cost < best_cost:
                lpc_plan = (q, shift, lresid)

    order = len(lpc_plan[0]) if lpc_plan else best_order
    # partition order must divide the block and leave the first partition
    # at least `order` samples
    po = partition_order
    while po and ((len(x) % (1 << po)) or (len(x) >> po) <= order):
        po -= 1

    bw.write(0, 1)
    if lpc_plan:
        q, shift, resid = lpc_plan
        bw.write(0b100000 | (order - 1), 6)  # type: LPC, order
        bw.write(0, 1)  # no wasted bits
        for v in x[:order]:
            bw.write_signed(int(v), bits)
        bw.write(_LPC_PRECISION - 1, 4)
        bw.write_signed(shift, 5)
        for c in q:
            bw.write_signed(int(c), _LPC_PRECISION)
    else:
        resid = _fixed_residual(x, order)
        bw.write(0b001000 | order, 6)  # type: FIXED, order
        bw.write(0, 1)  # no wasted bits
        for v in x[:order]:
            bw.write_signed(int(v), bits)
    _write_residual(bw, resid, len(x), order, po)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    bits: int = 16,
    block_size: int = 256,
    partition_order: int = 0,
    mid_side: bool = False,
    lpc_order: int = 0,
) -> bytes:
    """COMPLETE FLAC encode of an ``(n_samples, channels)`` int array:
    fLaC magic, STREAMINFO (real PCM MD5), fixed-blocksize frames with
    CONSTANT/FIXED subframes and Rice partitions. ``mid_side=True`` uses
    mid/side decorrelation on stereo input (the side channel carries
    ``bits+1`` sample size per spec). ``lpc_order`` > 0 additionally runs
    real LPC analysis (autocorrelation + Levinson-Durbin + coefficient
    quantization) per subframe and emits the LPC form when its residual
    beats every FIXED order."""
    samples = np.asarray(samples, dtype=np.int64)
    if samples.ndim == 1:
        samples = samples[:, None]
    n, channels = samples.shape

    md5 = hashlib.md5()
    if bits == 16:
        md5.update(samples.astype("<i2").tobytes())
    else:
        raise ValueError("encoder supports 16-bit input")

    out = bytearray(b"fLaC")
    info = _BitWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(channels - 1, 3)
    info.write(bits - 1, 5)
    info.write(n, 36)
    streaminfo = info.bytes() + md5.digest()
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo

    frame_no = 0
    for start in range(0, n, block_size):
        blk = samples[start : start + block_size]
        bs = len(blk)
        bw = _BitWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed-blocksize strategy
        bw.write(0b0111, 4)  # 16-bit blocksize-1 follows
        bw.write(0, 4)  # sample rate: from STREAMINFO
        if channels == 2 and mid_side:
            bw.write(0b1010, 4)  # mid/side
        else:
            bw.write(channels - 1, 4)  # independent
        bw.write(0b100, 3)  # 16-bit samples
        bw.write(0, 1)  # reserved
        hdr = bw.bytes() + _utf8_coded(frame_no) + struct.pack(">H", bs - 1)
        hdr += bytes([_crc8(hdr)])

        body = _BitWriter()
        if channels == 2 and mid_side:
            left = blk[:, 0]
            right = blk[:, 1]
            mid = (left + right) >> 1
            side = left - right
            _encode_subframe(body, mid, bits, partition_order, lpc_order)
            _encode_subframe(body, side, bits + 1, partition_order, lpc_order)
        else:
            for c in range(channels):
                _encode_subframe(body, blk[:, c], bits, partition_order, lpc_order)
        body.align()
        frame = hdr + body.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
        frame_no += 1
    return bytes(out)


#: frame-header blocksize code table (RFC 9639 table 14); None = coded in
#: the header end, False = reserved.
_BLOCK_SIZES = [
    False, 192, 576, 1152, 2304, 4608, None, None,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768,
]
_SAMPLE_RATES = [
    None, 88200, 176400, 192000, 8000, 16000, 22050, 24000,
    32000, 44100, 48000, 96000, "8khz", "hz", "dhz", False,
]
_SAMPLE_SIZES = [None, 8, 12, False, 16, 20, 24, 32]


def _read_residual(br: _BitReader, block_size: int, order: int):
    method = br.read(2)
    if method > 1:
        return None
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    partition_order = br.read(4)
    n_parts = 1 << partition_order
    if block_size % n_parts or (block_size >> partition_order) <= order:
        return None
    out = []
    for p in range(n_parts):
        count = (block_size >> partition_order) - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            width = br.read(5)
            for _ in range(count):
                out.append(br.read_signed(width) if width else 0)
        else:
            for _ in range(count):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _decode_subframe(br: _BitReader, block_size: int, bits: int):
    if br.read(1):
        return None  # mandatory zero pad bit
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    bits -= wasted
    if bits <= 0:
        return None
    # Every reconstructed sample of a valid subframe fits the declared
    # subframe bit depth; a CRC-valid stream whose prediction loop escapes
    # that range (crafted large LPC/FIXED coefficients) would otherwise
    # grow Python big-ints without bound — refuse, don't guess.
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    if stype == 0:  # CONSTANT
        x = [br.read_signed(bits)] * block_size
    elif stype == 1:  # VERBATIM
        x = [br.read_signed(bits) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED, order 0-4
        order = stype - 8
        if order > block_size:
            return None
        x = [br.read_signed(bits) for _ in range(order)]
        resid = _read_residual(br, block_size, order)
        if resid is None:
            return None
        coef = _FIXED_COEF[order]
        for r in resid:
            pred = sum(c * x[-1 - j] for j, c in enumerate(coef))
            v = pred + r
            if v < lo or v > hi:
                return None
            x.append(v)
    elif stype >= 32:  # LPC, order 1-32
        order = (stype & 31) + 1
        if order > block_size:
            return None
        x = [br.read_signed(bits) for _ in range(order)]
        prec = br.read(4)
        if prec == 0b1111:
            return None
        prec += 1
        shift = br.read_signed(5)
        if shift < 0:
            return None
        coef = [br.read_signed(prec) for _ in range(order)]
        resid = _read_residual(br, block_size, order)
        if resid is None:
            return None
        for r in resid:
            pred = sum(c * x[-1 - j] for j, c in enumerate(coef)) >> shift
            v = pred + r
            if v < lo or v > hi:
                return None
            x.append(v)
    else:
        return None  # reserved type
    if wasted:
        x = [v << wasted for v in x]
    return x


def decode_flac(payload: bytes):
    """REAL FLAC decode to an ``(n_samples, channels)`` int32 numpy array,
    or None for anything malformed (bad magic, CRC mismatch, reserved
    codes, truncation, resource bombs). Frames are CRC-16-verified; the
    STREAMINFO total-sample count bounds every allocation."""
    try:
        return _decode_flac_inner(payload)
    except (EOFError, ValueError, struct.error, OverflowError):
        return None


def _decode_flac_inner(payload: bytes):
    if not payload or len(payload) < 42 or payload[:4] != b"fLaC":
        return None
    pos = 4
    streaminfo = None
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        block = payload[pos + 4 : pos + 4 + size]
        if len(block) < size:
            return None
        if hdr & 0x7F == 0:
            streaminfo = block
        pos += 4 + size
        if hdr & 0x80:
            break
    else:
        return None
    if streaminfo is None or len(streaminfo) < 34:
        return None
    si = _BitReader(streaminfo)
    si.read(16)  # min block size
    si.read(16)  # max block size
    si.read(24)
    si.read(24)
    sample_rate = si.read(20)
    channels = si.read(3) + 1
    bits = si.read(5) + 1
    total = si.read(36)
    if not sample_rate or total * channels > MAX_DECODE_SAMPLES:
        return None

    out = []
    br = _BitReader(payload, pos)
    while out.__len__() < total:
        # frames are byte-aligned; stop cleanly at stream end
        if br.byte >= len(payload):
            break
        frame_start = br.byte
        if br.read(14) != 0b11111111111110:
            return None
        if br.read(1):
            return None
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            return None
        if _read_utf8_coded(br) is None:
            return None
        bs = _BLOCK_SIZES[bs_code]
        if bs is False:
            return None
        if bs is None:
            bs = br.read(8 if bs_code == 6 else 16) + 1
        sr = _SAMPLE_RATES[sr_code]
        if sr is False:
            return None
        if sr == "8khz":
            br.read(8)
        elif sr in ("hz", "dhz"):
            br.read(16)
        ss = _SAMPLE_SIZES[ss_code]
        if ss is False:
            return None
        if ss is None:
            ss = bits
        crc8 = br.read(8)
        if _crc8(payload[frame_start : br.byte - 1]) != crc8:
            return None
        if len(out) + bs > total or bs * channels > MAX_DECODE_SAMPLES:
            return None

        if ch_code < 8:
            if ch_code + 1 != channels:
                return None
            chans = []
            for _ in range(channels):
                x = _decode_subframe(br, bs, ss)
                if x is None:
                    return None
                chans.append(x)
        elif ch_code in (8, 9, 10):
            if channels != 2:
                return None
            a_bits = ss + (1 if ch_code == 9 else 0)
            b_bits = ss + (1 if ch_code in (8, 10) else 0)
            a = _decode_subframe(br, bs, a_bits)
            b = _decode_subframe(br, bs, b_bits) if a is not None else None
            if a is None or b is None:
                return None
            if ch_code == 8:  # left/side: R = L - S
                chans = [a, [left - side for left, side in zip(a, b)]]
            elif ch_code == 9:  # right/side: L = S + R
                chans = [[side + right for side, right in zip(a, b)], b]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(a, b):
                    m = (m << 1) | (s & 1)
                    left.append((m + s) >> 1)
                    right.append((m - s) >> 1)
                chans = [left, right]
        else:
            return None
        br.align()
        crc16 = br.read(16)
        if _crc16(payload[frame_start : br.byte - 2]) != crc16:
            return None
        out.extend(zip(*chans))
    if len(out) != total:
        return None
    return np.array(out, dtype=np.int32).reshape(total, channels)
