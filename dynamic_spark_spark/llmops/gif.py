"""REAL GIF pixel codec — LZW, pure standard library.

Completes the raster-decode family (PNG: zlib inflate + unfiltering,
JPEG: Huffman + DCT, both real since r3–r8): GIF is the third image
format real crawls contain in volume, and until this round the engine
only walked its STRUCTURE (``parse_gif_meta``). This module implements
the pixel layer:

- :func:`lzw_compress` / :func:`lzw_decompress` — GIF-variable-code-size
  LZW (GIF89a spec appendix, public): LSB-first bit packing, clear/EOI
  control codes, code width growing 3→12 bits as the table fills, table
  reset via CLEAR when code 4096 would be needed;
- :func:`encode_gif` — a COMPLETE single-frame GIF89a writer (logical
  screen descriptor, global color table, optional 4-pass interlace,
  255-byte sub-block framing) used by the synthesis side and the
  round-trip tests;
- :func:`decode_gif_pixels` — block walk + LZW decode + palette mapping
  (local color table overrides global; interlaced row reordering; the
  FIRST image of an animation), returning the same ``height×width×3``
  nested-list shape as ``decode_png_rgb`` / ``decode_jpeg``.

Decode discipline matches the other codecs: malformed input degrades to
None (never raises), and allocations are bounded BEFORE they happen —
lying dimensions are rejected against ``MAX_DECODE_PIXELS`` and the LZW
output buffer is capped at the declared pixel count, so a crafted
payload costs O(cap), not an executor OOM.

Reference basis: the reference engine has no codecs at all (it is CDAP
plugin glue; ScalaSparkCompute-sparkcompute.md:5-6 delegates execution
to Spark) — this tier exists for the 100-TB multimodal curation mandate.
Spec basis: GIF89a specification (CompuServe, public) §§20-22 + appendix
F (variable-length-code LZW).
"""

from __future__ import annotations

import struct

from dynamic_spark_spark.llmops.jpeg import MAX_DECODE_PIXELS

#: LZW code width ceiling fixed by the GIF spec.
_MAX_CODE_SIZE = 12


def lzw_compress(indices, min_code_size: int) -> bytes:
    """GIF variable-code-size LZW compress of a palette-index sequence.

    Emits CLEAR first (per spec recommendation), grows the code width when
    the next free code no longer fits (the encoder's table runs one add
    AHEAD of the decoder's lagged add, hence the ``+ 1`` in the growth
    test), and emits CLEAR + full reset instead of assigning code 4096.
    """
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0  # LSB-first bit accumulator
    nbits = 0

    code_size = min_code_size + 1
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    it = iter(indices)
    try:
        cur = next(it)
    except StopIteration:
        emit(eoi)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)
    for k in it:
        key = (cur, k)
        found = table.get(key)
        if found is not None:
            cur = found
            continue
        emit(cur)
        if next_code <= (1 << _MAX_CODE_SIZE) - 1:
            table[key] = next_code
            next_code += 1
            # decoder adds its entry one code later, so its table holds
            # next_code-1 entries when it reads our NEXT emission: grow
            # when that lagged count hits the width boundary
            if next_code == (1 << code_size) + 1 and code_size < _MAX_CODE_SIZE:
                code_size += 1
        else:
            emit(clear)
            table.clear()
            code_size = min_code_size + 1
            next_code = eoi + 1
        cur = k
    emit(cur)
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decompress(data: bytes, min_code_size: int, max_pixels: int):
    """GIF LZW decode of a de-sub-blocked code stream to palette indices
    (``bytes``), or None on any malformation (bad code, truncation before
    enough pixels). Output is hard-capped at ``max_pixels`` — the declared
    image size — so a crafted stream cannot balloon the buffer; excess
    data after the cap or after EOI is ignored (real encoders pad).
    Table entries are materialized byte strings (the classic fast form):
    per-code work is one concatenation, not a prefix-chain walk."""
    if min_code_size < 2 or min_code_size > 11:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]  # clear/eoi pads
    seqs = list(roots)
    out = bytearray()
    prev: bytes | None = None

    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < code_size:
            if pos >= n:
                # stream exhausted without EOI: accept only a complete image
                return bytes(out) if len(out) >= max_pixels else None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            del seqs[eoi + 1 :]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:
                return None  # first code after clear must be a root
            prev = seqs[code]
            out += prev
        else:
            if code < len(seqs):
                if code in (clear, eoi):
                    return None
                seq = seqs[code]
            elif code == len(seqs):
                seq = prev + prev[:1]
            else:
                return None  # gap in the code space: corrupt stream
            if len(seqs) <= (1 << _MAX_CODE_SIZE) - 1:
                seqs.append(prev + seq[:1])
                if len(seqs) == (1 << code_size) and code_size < _MAX_CODE_SIZE:
                    code_size += 1
            out += seq
            prev = seq
        if len(out) >= max_pixels:
            return bytes(out[:max_pixels])
    return bytes(out) if len(out) >= max_pixels else None


def _sub_blocks(stream: bytes) -> bytes:
    """Frame a byte stream as GIF 255-byte-max data sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


#: GIF 4-pass interlace grid: (start_row, row_step) per pass (spec §20).
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlaced_order(height: int) -> list[int]:
    """Row transmission order for an interlaced image."""
    return [y for start, step in _INTERLACE_PASSES for y in range(start, height, step)]


def encode_gif(
    index_rows,
    palette,
    interlace: bool = False,
    extra_frames: int = 0,
) -> bytes:
    """COMPLETE GIF89a encode of a ``height×width`` palette-index grid with
    an RGB ``palette`` (≤256 triples): header, logical screen descriptor,
    global color table (padded to the spec's power-of-two size), image
    descriptor, REAL LZW-compressed data in sub-block framing, trailer.
    ``interlace=True`` writes rows in 4-pass order with the descriptor
    flag set. ``extra_frames`` appends that many additional frames (each
    with a graphic-control extension) carrying a shifted variant of the
    same indices — the first frame stays the decode contract."""
    height = len(index_rows)
    width = len(index_rows[0]) if height else 0
    n_colors = len(palette)
    gct_bits = 1
    while (1 << gct_bits) < n_colors:
        gct_bits += 1
    gct_bits = max(gct_bits, 1)
    gct = bytearray()
    for rgb in palette:
        gct += bytes(rgb)
    gct += b"\x00" * (3 * (1 << gct_bits) - len(gct))

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | ((gct_bits - 1) & 7), 0, 0)
    out += gct

    mcs = max(2, gct_bits)

    def one_frame(rows) -> bytes:
        order = _interlaced_order(height) if interlace else range(height)
        flat = [rows[y][x] for y in order for x in range(width)]
        frame = bytearray(b"\x2c")
        frame += struct.pack(
            "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
        )
        frame.append(mcs)
        frame += _sub_blocks(lzw_compress(flat, mcs))
        return bytes(frame)

    out += one_frame(index_rows)
    for f in range(extra_frames):
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", 10) + b"\x00\x00"
        shifted = [
            [(v + f + 1) % n_colors for v in row] for row in index_rows
        ]
        out += one_frame(shifted)
    out.append(0x3B)
    return bytes(out)


def gif_palette(n_colors: int, seed: int):
    """Deterministic synthesis palette (mirrors ``png_pixel``'s role)."""
    return [
        [
            (i * 37 + seed * 11 + 5) % 256,
            (i * 59 + seed * 7 + 3) % 256,
            (i * 83 + seed * 3 + 1) % 256,
        ]
        for i in range(n_colors)
    ]


def gif_index(x: int, y: int, seed: int, n_colors: int) -> int:
    """Deterministic palette-index test pattern."""
    return (x * 3 + y * 7 + seed) % n_colors


def gif_rgb_bytes(width: int, height: int, seed: int) -> bytes:
    """Real GIF carrying the deterministic :func:`gif_index` pattern over a
    :func:`gif_palette` color table — the synthesis entry the mixed-decode
    corpus uses (even seeds interlaced, so both row orders stay hot)."""
    n_colors = 4 + seed % 13
    rows = [
        [gif_index(x, y, seed, n_colors) for x in range(width)]
        for y in range(height)
    ]
    return encode_gif(
        rows, gif_palette(n_colors, seed), interlace=(seed % 2 == 0)
    )


def decode_gif_pixels(payload: bytes):
    """REAL GIF pixel decode, stdlib only: parse the logical screen
    descriptor and global color table, walk extensions to the FIRST image
    descriptor (animations decode their first frame — the curation
    convention), honor a local color table when present, LZW-decode the
    sub-block stream, undo 4-pass interlacing, and map indices through
    the palette. Returns ``height×width×3`` nested lists (the shared
    raster contract) or None for anything malformed — including indices
    outside the palette and dimension/LZW resource bombs, which are
    refused before allocation."""
    if not payload or len(payload) < 14 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    screen_w, screen_h, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = payload[i : i + n]
        if len(gct) < n:
            return None
        i += n

    while i < len(payload):
        b = payload[i]
        if b == 0x3B:  # trailer before any image
            return None
        if b == 0x21:  # extension: skip label + sub-blocks
            j = i + 2
            while j < len(payload):
                size = payload[j]
                j += 1
                if size == 0:
                    break
                j += size
            else:
                return None
            i = j
            continue
        if b != 0x2C:
            return None  # unknown block: corrupt, refuse to guess
        # image descriptor
        if i + 10 > len(payload):
            return None
        left, top, width, height, lpacked = struct.unpack(
            "<HHHHB", payload[i + 1 : i + 10]
        )
        i += 10
        if (
            not width
            or not height
            or width * height > MAX_DECODE_PIXELS
            or left + width > screen_w
            or top + height > screen_h
        ):
            return None
        ct = gct
        if lpacked & 0x80:
            n = 3 * (2 << (lpacked & 0x07))
            ct = payload[i : i + n]
            if len(ct) < n:
                return None
            i += n
        if ct is None:
            return None  # no color table anywhere: unrenderable
        if i >= len(payload):
            return None
        mcs = payload[i]
        i += 1
        stream = bytearray()
        while i < len(payload):
            size = payload[i]
            i += 1
            if size == 0:
                break
            stream += payload[i : i + size]
            i += size
        else:
            return None
        indices = lzw_decompress(bytes(stream), mcs, width * height)
        if indices is None:
            return None
        import numpy as np

        n_colors = len(ct) // 3
        idx = np.frombuffer(indices, dtype=np.uint8)
        if int(idx.max(initial=0)) >= n_colors:
            return None  # index outside the palette: corrupt
        palette = np.frombuffer(ct, dtype=np.uint8).reshape(n_colors, 3)
        px = palette[idx].reshape(height, width, 3)
        if lpacked & 0x40:  # interlaced: rows arrived in 4-pass order
            ordered = np.empty_like(px)
            ordered[_interlaced_order(height)] = px
            px = ordered
        return px.astype(int).tolist()
    return None
