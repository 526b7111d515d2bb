"""FLAC codec pins: decode must reproduce the encoder's own samples
exactly, and the decoder must also handle the subframe/frame forms the
encoder never emits (LPC, escape partitions, wasted bits, left/side and
right/side decorrelation) — hand-crafted here with the module's own bit
writer. Malformed input degrades to None under the never-raise /
bounded-allocation contract."""

from __future__ import annotations

import hashlib
import struct
import time

import numpy as np
import pytest

from dynamic_spark_spark.llmops.flac import (
    _BitWriter,
    _crc8,
    _crc16,
    _utf8_coded,
    decode_flac,
    encode_flac,
)


def _signal(n, channels, seed=0):
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    base = (3000 * np.sin(t / 17) + rng.integers(-300, 300, n)).astype(np.int64)
    if channels == 2:
        out = np.stack([base, base // 2 + rng.integers(-90, 90, n)], axis=1)
    else:
        out = base[:, None]
    return np.clip(out, -32768, 32767)


@pytest.mark.parametrize(
    "n,channels,mid_side,po,bs",
    [
        (1, 1, False, 0, 256),
        (100, 1, False, 0, 256),
        (1000, 2, False, 0, 256),
        (1000, 2, True, 2, 256),
        (777, 1, False, 1, 128),
        (4096, 2, True, 3, 1024),
    ],
)
def test_roundtrip_exact(n, channels, mid_side, po, bs):
    samples = _signal(n, channels, seed=n + channels)
    payload = encode_flac(
        samples, 44100, block_size=bs, partition_order=po, mid_side=mid_side
    )
    dec = decode_flac(payload)
    assert dec is not None and dec.shape == (n, channels)
    assert np.array_equal(dec, samples)


def test_many_frames_utf8_coded_number():
    """>128 frames forces the multi-byte UTF-8-style frame number."""
    samples = _signal(140 * 64, 1, seed=3)
    payload = encode_flac(samples, 8000, block_size=64)
    dec = decode_flac(payload)
    assert dec is not None and np.array_equal(dec, samples)


def test_constant_channel():
    samples = np.full((500, 2), -123, dtype=np.int64)
    payload = encode_flac(samples, 16000)
    dec = decode_flac(payload)
    assert np.array_equal(dec, samples)


def test_streaminfo_md5_is_real():
    samples = _signal(300, 2, seed=9)
    payload = encode_flac(samples, 44100)
    md5 = payload[4 + 4 + 18 : 4 + 4 + 34]
    assert md5 == hashlib.md5(samples.astype("<i2").tobytes()).digest()


# --- hand-crafted frames for the decoder-only forms ------------------------


def _stream(channels, total, frame_bits_fn, sample_rate=8000, bits=16):
    """Build a one-frame FLAC stream whose subframe section is written by
    ``frame_bits_fn(body_writer)`` with a caller-chosen channel code."""
    info = _BitWriter()
    info.write(total, 16)
    info.write(total, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(channels - 1, 3)
    info.write(bits - 1, 5)
    info.write(total, 36)
    streaminfo = info.bytes() + bytes(16)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo

    ch_code, body = frame_bits_fn()
    bw = _BitWriter()
    bw.write(0b11111111111110, 14)
    bw.write(0, 2)
    bw.write(0b0111, 4)
    bw.write(0, 4)
    bw.write(ch_code, 4)
    bw.write(0b100, 3)
    bw.write(0, 1)
    hdr = bw.bytes() + _utf8_coded(0) + struct.pack(">H", total - 1)
    hdr += bytes([_crc8(hdr)])
    frame = hdr + body
    frame += struct.pack(">H", _crc16(frame))
    return bytes(out + frame)


def _verbatim_subframe(bw, values, bits):
    bw.write(0, 1)
    bw.write(1, 6)  # VERBATIM
    bw.write(0, 1)
    for v in values:
        bw.write_signed(int(v), bits)


def test_lpc_subframe_decodes():
    """Order-2 LPC with coefficients [3, -1], shift 1: the decoder must
    reproduce x[i] = ((3*x[i-1] - x[i-2]) >> 1) + r[i]."""
    warmup = [100, 110]
    resid = [5, -3, 7, 0, -2, 4]
    x = list(warmup)
    for r in resid:
        x.append(((3 * x[-1] - 1 * x[-2]) >> 1) + r)

    def frame():
        bw = _BitWriter()
        bw.write(0, 1)
        bw.write(0b100001, 6)  # LPC, order 2
        bw.write(0, 1)  # no wasted bits
        for v in warmup:
            bw.write_signed(v, 16)
        bw.write(4 - 1, 4)  # 4-bit coefficient precision
        bw.write_signed(1, 5)  # shift 1
        bw.write_signed(3, 4)
        bw.write_signed(-1, 4)
        bw.write(0, 2)  # Rice method 0
        bw.write(0, 4)  # partition order 0
        bw.write(2, 4)  # rice param 2
        for r in resid:
            u = (r << 1) ^ (r >> 63) if r < 0 else r << 1
            bw.write_unary(u >> 2)
            bw.write(u, 2)
        bw.align()
        return 0, bw.bytes()

    dec = decode_flac(_stream(1, len(x), frame))
    assert dec is not None
    assert dec[:, 0].tolist() == x


def test_escape_partition_decodes():
    """Rice escape (param 1111): raw 7-bit residuals."""
    values = [17, -63, 3, 51, -2, 0, 63, -64]  # all fit signed 7-bit

    def frame():
        bw = _BitWriter()
        bw.write(0, 1)
        bw.write(0b001000, 6)  # FIXED order 0: residual IS the signal
        bw.write(0, 1)
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(0b1111, 4)  # escape
        bw.write(7, 5)  # raw width 7
        for v in values:
            bw.write_signed(v, 7)
        bw.align()
        return 0, bw.bytes()

    dec = decode_flac(_stream(1, len(values), frame))
    assert dec is not None and dec[:, 0].tolist() == values


def test_wasted_bits_shift():
    values = [4, 8, -12, 16, 0, -8]  # everything divisible by 4

    def frame():
        bw = _BitWriter()
        bw.write(0, 1)
        bw.write(1, 6)  # VERBATIM
        bw.write(1, 1)  # wasted-bits flag
        bw.write_unary(1)  # unary 1 -> k = 2 wasted bits
        for v in values:
            bw.write_signed(v >> 2, 14)  # 16-2 bits, pre-shifted
        bw.align()
        return 0, bw.bytes()

    dec = decode_flac(_stream(1, len(values), frame))
    assert dec is not None and dec[:, 0].tolist() == values


@pytest.mark.parametrize("ch_code", [8, 9, 10])
def test_stereo_decorrelations_decode(ch_code):
    left = [100, -50, 75, 3, -128, 977]
    right = [90, -60, 80, -3, -120, -977]
    side = [l - r for l, r in zip(left, right)]

    def frame():
        bw = _BitWriter()
        if ch_code == 8:  # left/side
            _verbatim_subframe(bw, left, 16)
            _verbatim_subframe(bw, side, 17)
        elif ch_code == 9:  # side/right
            _verbatim_subframe(bw, side, 17)
            _verbatim_subframe(bw, right, 16)
        else:  # mid/side
            mid = [(l + r) >> 1 for l, r in zip(left, right)]
            _verbatim_subframe(bw, mid, 16)
            _verbatim_subframe(bw, side, 17)
        bw.align()
        return ch_code, bw.bytes()

    dec = decode_flac(_stream(2, len(left), frame))
    assert dec is not None
    assert dec[:, 0].tolist() == left and dec[:, 1].tolist() == right


# --- contract: degrade, never raise, bounded ------------------------------


def test_malformed_degrades():
    good = encode_flac(_signal(400, 2, seed=5), 44100)
    assert decode_flac(None) is None
    assert decode_flac(b"") is None
    assert decode_flac(b"fLaC") is None
    assert decode_flac(b"not flac") is None
    for cut in range(1, len(good), 13):
        decode_flac(good[:cut])  # must not raise
    for pos in range(4, len(good), 17):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        decode_flac(bytes(mutated))  # must not raise


def test_crc_corruption_refused():
    good = bytearray(encode_flac(_signal(300, 1, seed=6), 44100))
    good[-1] ^= 0xFF  # frame CRC-16 low byte
    assert decode_flac(bytes(good)) is None


def test_total_samples_bomb_rejected():
    """A STREAMINFO lying 2^35 total samples must be refused in O(header)."""
    good = bytearray(encode_flac(_signal(64, 1, seed=7), 8000))
    # total samples live in STREAMINFO bits 80..115 (bytes 14..18 of the
    # 34-byte block, which starts at offset 8)
    good[8 + 13] |= 0x0F
    good[8 + 14] = 0xFF
    good[8 + 15] = 0xFF
    t0 = time.monotonic()
    assert decode_flac(bytes(good)) is None
    assert time.monotonic() - t0 < 0.5


def test_flac_audio_features_matches_wav_tier():
    """Identical signal through WAV and FLAC must yield identical feature
    vectors — the container-invariance contract."""
    from dynamic_spark_spark.llmops.multimodal import (
        flac_audio_features,
        flac_pcm_bytes,
        wav_audio_features,
        wav_pcm_bytes,
    )

    for rate, ch, n, seed in [(8000, 1, 150, 2), (44100, 2, 200, 7)]:
        wf = wav_audio_features(wav_pcm_bytes(rate, ch, n, seed))
        ff = flac_audio_features(flac_pcm_bytes(rate, ch, n, seed))
        assert wf is not None and ff is not None
        assert wf == ff
    assert flac_audio_features(b"not flac") is None


def test_lpc_encoder_roundtrip_and_wins_on_tonal():
    """Real LPC analysis (autocorr + Levinson + quantization): on tonal
    signals the LPC subframe must round-trip exactly, actually be CHOSEN
    (stream differs from the FIXED-only encode), and never produce a
    larger stream than FIXED-only (the cost model charges LPC its full
    header+warmup overhead)."""
    rng = np.random.default_rng(3)
    t = np.arange(1000)
    base = (8000 * np.sin(t / 9) + 2000 * np.sin(t / 37)).astype(np.int64)
    samples = np.clip(base + rng.integers(-50, 50, len(t)), -32768, 32767)[:, None]
    plain = encode_flac(samples, 44100, block_size=256)
    lp = encode_flac(samples, 44100, block_size=256, lpc_order=4)
    assert lp != plain and len(lp) < len(plain)  # LPC chosen and smaller
    dec = decode_flac(lp)
    assert dec is not None and np.array_equal(dec, samples)


def test_lpc_encoder_never_worse_on_noise():
    """On incompressible noise the analysis must fall back to FIXED —
    byte-identical output, still exact."""
    rng = np.random.default_rng(12)
    samples = rng.integers(-32768, 32768, (800, 2), dtype=np.int64)
    plain = encode_flac(samples, 44100, block_size=128, mid_side=True)
    lp = encode_flac(samples, 44100, block_size=128, mid_side=True, lpc_order=8)
    assert len(lp) <= len(plain)
    assert np.array_equal(decode_flac(lp), samples)
