"""GIF LZW codec pins: the decoder must reproduce the encoder's own pixels
exactly (same discipline as the PNG/JPEG tiers), across interlace, local
color tables, animation first-frames, code-width growth to 12 bits, and
full-table CLEAR resets — plus the never-raise / bounded-allocation
contract on malformed input."""

from __future__ import annotations

import struct
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dynamic_spark_spark.llmops.gif import (
    decode_gif_pixels,
    encode_gif,
    gif_index,
    gif_palette,
    gif_rgb_bytes,
    lzw_compress,
    lzw_decompress,
)


def _pattern(width, height, n_colors, seed=0):
    return [
        [gif_index(x, y, seed, n_colors) for x in range(width)]
        for y in range(height)
    ]


def _rgb(rows, palette):
    return [[list(palette[v]) for v in row] for row in rows]


@pytest.mark.parametrize(
    "width,height,n_colors",
    [(1, 1, 2), (7, 3, 4), (16, 16, 5), (33, 9, 16), (8, 40, 250)],
)
def test_roundtrip_exact(width, height, n_colors):
    rows = _pattern(width, height, n_colors, seed=width + height)
    pal = gif_palette(n_colors, 3)
    assert decode_gif_pixels(encode_gif(rows, pal)) == _rgb(rows, pal)


def test_roundtrip_interlaced():
    for height in (1, 2, 5, 8, 17):  # hits every pass-emptiness combination
        rows = _pattern(11, height, 7, seed=height)
        pal = gif_palette(7, 1)
        assert decode_gif_pixels(encode_gif(rows, pal, interlace=True)) == _rgb(
            rows, pal
        )


def test_runs_exercise_code_equals_next():
    """Long single-color runs produce the cScSc pattern where the decoder
    receives a code equal to its next unassigned entry."""
    pal = gif_palette(4, 2)
    rows = [[0] * 64 for _ in range(8)]
    assert decode_gif_pixels(encode_gif(rows, pal)) == _rgb(rows, pal)
    rows = [[1, 1, 1, 0, 0, 0, 1, 1, 1, 0, 0, 0] * 8 for _ in range(4)]
    assert decode_gif_pixels(encode_gif(rows, pal)) == _rgb(rows, pal)


def test_noise_forces_width_growth_and_reset():
    """A 128×128 pseudo-noise image over 256 colors assigns far more than
    4096 LZW codes: the stream must grow to 12-bit codes, emit CLEAR, and
    still round-trip exactly."""
    n = 256
    rows = [
        [(x * 131 + y * 197 + (x * y) % 251) % n for x in range(128)]
        for y in range(128)
    ]
    pal = gif_palette(n, 9)
    payload = encode_gif(rows, pal)
    assert decode_gif_pixels(payload) == _rgb(rows, pal)


def test_animation_first_frame():
    rows = _pattern(9, 6, 5, seed=4)
    pal = gif_palette(5, 4)
    payload = encode_gif(rows, pal, extra_frames=3)
    assert decode_gif_pixels(payload) == _rgb(rows, pal)
    # the animation-structure walker still counts every frame
    from dynamic_spark_spark.llmops.multimodal import parse_gif_meta

    w, h, n_frames, _dur, _loop = parse_gif_meta(payload)
    assert (w, h, n_frames) == (9, 6, 4)


def test_synthesis_entry_decodes():
    for seed in range(12):
        px = decode_gif_pixels(gif_rgb_bytes(8 + seed % 9, 5 + seed % 7, seed))
        assert px is not None
        assert len(px) == 5 + seed % 7 and len(px[0]) == 8 + seed % 9
        n_colors = 4 + seed % 13
        pal = gif_palette(n_colors, seed)
        assert px[0][0] == list(pal[gif_index(0, 0, seed, n_colors)])


def test_malformed_degrades_not_raises():
    good = gif_rgb_bytes(9, 7, 3)
    assert decode_gif_pixels(None) is None
    assert decode_gif_pixels(b"") is None
    assert decode_gif_pixels(b"GIF89a") is None
    assert decode_gif_pixels(good[:20]) is None
    for cut in range(1, len(good), 7):
        decode_gif_pixels(good[:cut])  # must not raise
    for pos in range(6, len(good), 11):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        decode_gif_pixels(bytes(mutated))  # must not raise


def test_dims_bomb_rejected_before_allocation():
    """Lying 65535×65535 dimensions must be refused in O(header) time."""
    hdr = b"GIF89a" + struct.pack("<HHBBB", 0xFFFF, 0xFFFF, 0x80, 0, 0)
    payload = hdr + bytes(6) + b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, 0xFFFF, 0xFFFF, 0
    ) + b"\x02" + b"\x01\x00" + b"\x00" + b";"
    t0 = time.monotonic()
    assert decode_gif_pixels(payload) is None
    assert time.monotonic() - t0 < 0.5


def test_lzw_stream_cannot_overrun_declared_size():
    """An LZW stream carrying more pixels than the descriptor declares is
    truncated at the declared count, not ballooned."""
    out = lzw_decompress(lzw_compress([1, 0] * 500, 2), 2, 10)
    assert out == bytes([1, 0] * 5)


def test_index_outside_palette_refused():
    # 2-entry palette but an index stream referencing code 3
    rows = [[3, 3], [3, 3]]
    payload = encode_gif(rows, [[0, 0, 0], [255, 255, 255]])
    assert decode_gif_pixels(payload) is None


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(2, 256),
    st.integers(0, 10_000),
    st.booleans(),
)
def test_property_roundtrip(width, height, n_colors, seed, interlace):
    import random

    rng = random.Random(seed)
    rows = [
        [rng.randrange(n_colors) for _ in range(width)] for _ in range(height)
    ]
    pal = gif_palette(n_colors, seed % 97)
    payload = encode_gif(rows, pal, interlace=interlace)
    assert decode_gif_pixels(payload) == _rgb(rows, pal)
