"""Class-level contract sweep for every media parser/decoder.

Two generalizations of the per-format fuzz suites:

1. **Resource-bomb regressions** — a malformed payload must be rejected
   by CHEAP validation, never by OOM or unbounded allocation. At 100 TB a
   single crafted cell that inflates to gigabytes kills an executor and,
   with Spark's task retry, then kills three more; the contract is
   "degrade in O(header) time and memory".
2. **Cross-format never-raise matrix** — every parser is fed every OTHER
   format's valid payloads, plus truncations at every early boundary and
   seeded byte mutations. The r8 advice items (WAV block_align, WebM
   unknown-size leaf) were both instances of a parser trusting a field
   that a DIFFERENT byte stream can contradict; this matrix makes the
   whole class regression-tested instead of whack-a-mole.
"""

from __future__ import annotations

import struct
import time
import zlib

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# resource bombs: cheap rejection, never allocation
# ---------------------------------------------------------------------------


def _png_raw(width: int, height: int, interlace: int, idat: bytes) -> bytes:
    """Hand-framed PNG (bypasses the encoders' honest dims) so the tests
    can declare LYING dimensions."""
    from dynamic_spark_spark.llmops.multimodal import _PNG_SIG, _png_chunk

    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, interlace)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def test_png_inflate_bomb_is_capped():
    """An 8x8 frame whose IDAT inflates to 64 MB must stop at the
    expected-size cap (201 bytes here) and reject — not materialize the
    bomb. Pre-guard, zlib.decompress ran uncapped."""
    bomb = zlib.compress(b"\x00" * (64 * 1024 * 1024), 9)
    assert len(bomb) < 1 * 1024 * 1024  # it IS a bomb: >64x expansion
    from dynamic_spark_spark.llmops.multimodal import decode_png_rgb

    t0 = time.monotonic()
    assert decode_png_rgb(_png_raw(8, 8, 0, bomb)) is None
    assert time.monotonic() - t0 < 2.0


def test_png_dims_bomb_rejected_before_canvas():
    """65535x65535 interlaced with a 10-byte stream: the Adam7 path used
    to allocate height bytearrays of stride bytes (~12.9 GB) BEFORE any
    length validation. The pixel cap now rejects at header-parse cost."""
    from dynamic_spark_spark.llmops.multimodal import decode_png_rgb

    tiny = zlib.compress(b"\x00" * 10)
    t0 = time.monotonic()
    for interlace in (0, 1):
        assert decode_png_rgb(_png_raw(65535, 65535, interlace, tiny)) is None
    assert time.monotonic() - t0 < 2.0


def test_png_cap_does_not_reject_real_images():
    """The guard must not change any in-envelope decode: round-trip a
    normal image through the same entry point."""
    from dynamic_spark_spark.llmops.multimodal import (
        decode_png_rgb,
        png_pixel,
        png_rgb_bytes,
    )

    px = decode_png_rgb(png_rgb_bytes(9, 7, 3))
    assert px is not None and len(px) == 7 and len(px[0]) == 9
    assert px[2][4] == [png_pixel(4, 2, c, 3) for c in range(3)]


def _mp4_stbl(stts: bytes, stsc: bytes, stsz: bytes, stco: bytes) -> bytes:
    from dynamic_spark_spark.llmops.multimodal import _mp4_box

    stbl = _mp4_box(b"stbl", stts, stsc, stsz, stco)
    moov = _mp4_box(
        b"moov", _mp4_box(b"trak", _mp4_box(b"mdia", _mp4_box(b"minf", stbl)))
    )
    return _mp4_box(b"ftyp", b"isom") + moov


def test_mp4_stsz_fixed_count_bomb():
    """stsz with fixed size and a 2^31 sample count used to allocate
    [fixed] * n before any other check. n is now bounded by the payload
    length (each fixed-size sample occupies >= 1 byte)."""
    from dynamic_spark_spark.llmops.multimodal import _mp4_box, parse_mp4_samples

    payload = _mp4_stbl(
        _mp4_box(b"stts", struct.pack(">II", 0, 1), struct.pack(">II", 6, 25)),
        _mp4_box(b"stsc", struct.pack(">II", 0, 1), struct.pack(">III", 1, 3, 1)),
        _mp4_box(b"stsz", struct.pack(">III", 0, 16, 1 << 31)),  # the bomb
        _mp4_box(b"stco", struct.pack(">II", 0, 2), struct.pack(">II", 40, 88)),
    )
    t0 = time.monotonic()
    assert parse_mp4_samples(payload) is None
    assert time.monotonic() - t0 < 2.0


def test_mp4_stsc_run_expansion_bomb():
    """An stsc whose NEXT run declares first_chunk = 2^31 used to expand
    the previous run to [spc] * 2^31 entries. The run end is now clamped
    to the chunk count; the parse completes in O(tables) and the result
    stays consistent with the (small) real chunk list."""
    from dynamic_spark_spark.llmops.multimodal import _mp4_box, parse_mp4_samples

    sizes = b"".join(struct.pack(">I", 4) for _ in range(6))
    payload = _mp4_stbl(
        _mp4_box(b"stts", struct.pack(">II", 0, 1), struct.pack(">II", 6, 25)),
        _mp4_box(
            b"stsc",
            struct.pack(">II", 0, 2),
            struct.pack(">III", 1, 3, 1) + struct.pack(">III", 1 << 31, 3, 1),
        ),
        _mp4_box(b"stsz", struct.pack(">III", 0, 0, 6) + sizes),
        _mp4_box(b"stco", struct.pack(">II", 0, 2), struct.pack(">II", 40, 60)),
    )
    t0 = time.monotonic()
    out = parse_mp4_samples(payload)
    assert time.monotonic() - t0 < 2.0
    assert out is None or (isinstance(out, list) and len(out) <= 6)


def test_mp4_demux_still_exact_after_guards():
    """The bomb guards must not move the real-table behavior: full
    round-trip on an honest container (same pin as the r8 suite)."""
    from dynamic_spark_spark.llmops.multimodal import (
        mp4_keyframe_slices,
        mp4_media_bytes,
        parse_mp4_samples,
    )

    payload = mp4_media_bytes(11, keyframe_every=4, seed=2)
    samples = parse_mp4_samples(payload)
    assert samples is not None and len(samples) == 11
    keys = mp4_keyframe_slices(payload)
    assert keys is not None and len(keys) == len(range(1, 12, 4))
    for off, size, is_key, _dts in samples:
        assert 0 <= off and off + size <= len(payload)


# ---------------------------------------------------------------------------
# cross-format never-raise matrix
# ---------------------------------------------------------------------------


def _corpus() -> dict[str, bytes]:
    """One small valid payload per format/builder, plus the encoders'
    real-pixel variants. Small shapes keep the full matrix under seconds."""
    from dynamic_spark_spark.llmops import gif as G
    from dynamic_spark_spark.llmops import jpeg as J
    from dynamic_spark_spark.llmops import multimodal as M

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    rgb = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    corpus = {
        "png_meta": M.png_bytes(8, 6),
        "png_rgb": M.png_rgb_bytes(8, 6, 1),
        "jpeg_meta": M.jpeg_bytes(8, 6),
        "jpeg_gray": J.encode_jpeg_gray(gray),
        "jpeg_color": J.encode_jpeg_color(rgb),
        "jpeg_prog": J.encode_jpeg_gray_progressive(gray),
        "gif": M.gif_bytes(8, 6),
        "gif_anim": M.gif_animation_bytes(8, 6, 3),
        "gif_lzw": G.gif_rgb_bytes(8, 6, 2),
        "flac_pcm": M.flac_pcm_bytes(8000, 2, 70, 3),
        "bmp": M.bmp_bytes(8, 6),
        "webp_vp8x": M.webp_bytes(8, 6, "VP8X"),
        "webp_vp8l": M.webp_bytes(8, 6, "VP8L"),
        "webm": M.webm_bytes(320, 240, 60000),
        "wav_meta": M.wav_bytes(8000, 1, 16, 10),
        "wav_pcm": M.wav_pcm_bytes(8000, 2, 12, 3),
        "mp3": M.mp3_frame_bytes(4),
        "flac": M.flac_bytes(44100, 2, 16, 100),
        "mp4_meta": M.mp4_bytes(600, 4, 320, 240),
        "mp4_media": M.mp4_media_bytes(7, keyframe_every=3, seed=1),
        "exif_jpeg": b"\xff\xd8" + M.exif_app1_bytes(6) + M.jpeg_bytes(8, 6)[2:],
    }
    # round-10 formats: containers, framings, codecs, documents
    from dynamic_spark_spark.llmops import containers as C
    from dynamic_spark_spark.llmops import pdf as PDF
    from dynamic_spark_spark.llmops import protowire as PW
    from dynamic_spark_spark.llmops import tfrecord as TF
    from dynamic_spark_spark.llmops import zstd as Z
    from dynamic_spark_spark.llmops.avro_ocf import avro_ocf_bytes
    from dynamic_spark_spark.llmops.lz4_hadoop import hadoop_lz4_compress

    corpus.update(
        {
            "zip": C.zip_archive_bytes(3, "zip member text"),
            "zip64": C.zip64_archive_bytes(3, "zip64 member text"),
            "tar": C.tar_archive_bytes(3, "tar member text"),
            "tgz": C.tgz_archive_bytes(3, "tgz member text"),
            "tbz": C.tbz_archive_bytes(3, "tbz member text"),
            "txz": C.txz_archive_bytes(3, "txz member text"),
            "tzst": C.tzst_archive_bytes(3, "tzst member text"),
            "tar_longname_gnu": C.longname_tar_bytes(3, "long gnu", "gnu"),
            "tar_longname_pax": C.longname_tar_bytes(3, "long pax", "pax"),
            "xlsx": C.xlsx_bytes(3, "cell text"),
            "tfrecord": TF.tfrecord_bytes([b"alpha", b"beta"]),
            "avro": avro_ocf_bytes([(1, "avro rec"), (2, "more")]),
            "proto": PW.proto_stream_bytes([(1, "proto rec")]),
            "pdf": PDF.pdf_bytes(3, "pdf body text"),
            "zst": Z.zstd_compress(b"zstd payload " * 30),
            "lz4_hadoop": hadoop_lz4_compress(b"lz4 payload " * 30),
        }
    )
    return corpus


def _parsers():
    from dynamic_spark_spark.llmops import flac as FL
    from dynamic_spark_spark.llmops import gif as G
    from dynamic_spark_spark.llmops import jpeg as J
    from dynamic_spark_spark.llmops import multimodal as M

    return {
        "parse_image_header": M.parse_image_header,
        "parse_exif_orientation": M.parse_exif_orientation,
        "parse_gif_meta": M.parse_gif_meta,
        "parse_webm_header": M.parse_webm_header,
        "parse_wav_header": M.parse_wav_header,
        "decode_wav_pcm": M.decode_wav_pcm,
        "wav_audio_features": M.wav_audio_features,
        "parse_mp3_header": M.parse_mp3_header,
        "parse_flac_header": M.parse_flac_header,
        "parse_mp4_header": M.parse_mp4_header,
        "parse_mp4_samples": M.parse_mp4_samples,
        "mp4_keyframe_slices": M.mp4_keyframe_slices,
        "decode_png_rgb": M.decode_png_rgb,
        "png_pixel_features": M.png_pixel_features,
        "resize_png_real": M.resize_png_real,
        "decode_jpeg": J.decode_jpeg,
        "decode_jpeg_gray": J.decode_jpeg_gray,
        "jpeg_pixel_features": M.jpeg_pixel_features,
        "jpeg_color_pixel_features": M.jpeg_color_pixel_features,
        "decode_gif_pixels": G.decode_gif_pixels,
        "gif_pixel_features": M.gif_pixel_features,
        "decode_flac": FL.decode_flac,
        "flac_audio_features": M.flac_audio_features,
    }


def _more_parsers():
    """Round-10 parsers for the matrices (list-returning walkers and
    tuple-returning extractors share the never-raise contract)."""
    from dynamic_spark_spark.llmops import containers as C
    from dynamic_spark_spark.llmops import parquet_footer as PF
    from dynamic_spark_spark.llmops import orc_raw as ORC
    from dynamic_spark_spark.llmops import parquet_raw as PR
    from dynamic_spark_spark.llmops import pdf as PDF
    from dynamic_spark_spark.llmops import protowire as PW
    from dynamic_spark_spark.llmops import tfrecord as TF
    from dynamic_spark_spark.llmops import zstd as Z
    from dynamic_spark_spark.llmops.avro_ocf import avro_ocf_walk
    from dynamic_spark_spark.llmops.lz4_hadoop import hadoop_lz4_decompress

    return {
        "zip_member_walk": C.zip_member_walk,
        "tar_member_walk": C.tar_member_walk,
        "tgz_member_walk": C.tgz_member_walk,
        "tbz_member_walk": C.tbz_member_walk,
        "txz_member_walk": C.txz_member_walk,
        "tzst_member_walk": C.tzst_member_walk,
        "xlsx_cells": C.xlsx_cells,
        "tfrecord_walk": TF.tfrecord_walk,
        "avro_ocf_walk": avro_ocf_walk,
        "proto_stream_walk": PW.proto_stream_walk,
        "pdf_text_extract": PDF.pdf_text_extract,
        "zstd_decompress": Z.zstd_decompress,
        "zstd_decompress_concat": Z.zstd_decompress_concat,
        "zstd_decompress_dict": lambda raw: Z.zstd_decompress_dict(raw, b"prefix dictionary content"),
        "hadoop_lz4_decompress": hadoop_lz4_decompress,
        "http_payload_decode": lambda raw: __import__(
            "dynamic_spark_spark.llmops.html", fromlist=["html"]
        ).http_payload_decode(raw),
        "parse_parquet_footer": PF.parse_parquet_footer,
        "parse_orc_tail": ORC.parse_orc_tail,
        "read_parquet_int64": lambda raw: PR.read_parquet_int64_column(raw, "doc_id"),
        "read_parquet_dict": lambda raw: PR.read_parquet_int64_column_dict(raw, "doc_id"),
        "read_parquet_general": lambda raw: PR.read_parquet_column(raw, "doc_id"),
        "read_orc_int": lambda raw: ORC.read_orc_int_column(raw, "doc_id"),
        "read_orc_str": lambda raw: ORC.read_orc_string_column(raw, "text"),
        "read_orc_general": lambda raw: ORC.read_orc_column(raw, "doc_id"),
    }


def test_cross_format_matrix_never_raises():
    """Every parser x every OTHER format's valid payload: wrong-format
    input must parse-fail cleanly (None / nulls / degraded), never raise.
    This is exactly the shape of both r8 advice bugs."""
    corpus, parsers = _corpus(), {**_parsers(), **_more_parsers()}
    for pname, parse in parsers.items():
        for cname, payload in corpus.items():
            try:
                parse(payload)
            except Exception as exc:  # pragma: no cover - the assertion
                pytest.fail(f"{pname}({cname}) raised {type(exc).__name__}: {exc}")


def test_truncation_matrix_never_raises():
    """Every parser x every payload truncated at each of the first 48
    byte boundaries plus mid/len-1: header fields that straddle the cut
    must be bounds-checked, not sliced-and-unpacked."""
    corpus, parsers = _corpus(), {**_parsers(), **_more_parsers()}
    for pname, parse in parsers.items():
        for cname, payload in corpus.items():
            cuts = list(range(0, min(len(payload), 48)))
            cuts += [len(payload) // 2, max(0, len(payload) - 1)]
            for k in cuts:
                try:
                    parse(payload[:k])
                except Exception as exc:  # pragma: no cover
                    pytest.fail(f"{pname}({cname}[:{k}]) raised {type(exc).__name__}: {exc}")


def test_mutation_matrix_never_raises():
    """Seeded single-byte corruption, every parser x every payload x 24
    mutation sites. Catches fields whose VALUE (not presence) is trusted:
    sizes, counts, alignments, vints."""
    import random

    corpus, parsers = _corpus(), {**_parsers(), **_more_parsers()}
    rnd = random.Random(11)
    for cname, payload in corpus.items():
        mutants = []
        for _ in range(24):
            b = bytearray(payload)
            b[rnd.randrange(len(b))] = rnd.randrange(256)
            mutants.append(bytes(b))
        for pname, parse in parsers.items():
            for mi, m in enumerate(mutants):
                try:
                    parse(m)
                except Exception as exc:  # pragma: no cover
                    pytest.fail(f"{pname}({cname} mutant {mi}) raised {type(exc).__name__}: {exc}")


def test_mp4_nesting_bomb_bounded():
    """A ~10 KB payload of trak-in-trak-in-trak used to overflow the
    interpreter recursion limit in parse_mp4_header's box walk (the
    samples walk already had a depth bound; the header walk did not).
    Both must degrade, never raise."""
    from dynamic_spark_spark.llmops.multimodal import (
        _mp4_box,
        parse_mp4_header,
        parse_mp4_samples,
    )

    nest = b""
    for _ in range(1500):
        nest = _mp4_box(b"trak", nest)
    payload = _mp4_box(b"ftyp", b"isom") + _mp4_box(b"moov", nest)
    t0 = time.monotonic()
    assert parse_mp4_header(payload) == (None,) * 6
    assert parse_mp4_samples(payload) is None
    assert time.monotonic() - t0 < 2.0


def test_degenerate_inputs_never_raise():
    """The constant table of inputs every parser must survive: empty,
    None, single bytes, all-FF, all-00, a correct magic followed by
    garbage, and maximal declared sizes right at the end of the buffer."""
    parsers = _parsers()
    degenerates = [
        None,
        b"",
        b"\x00",
        b"\xff",
        b"\x00" * 64,
        b"\xff" * 64,
        b"RIFF\xff\xff\xff\xffWAVE" + b"\xff" * 16,
        b"\xff\xd8" + b"\xff" * 32,
        b"\x89PNG\r\n\x1a\n" + b"\xff" * 32,
        b"\x1a\x45\xdf\xa3" + b"\xff" * 32,
        struct.pack(">I", 0xFFFFFFFF) + b"ftyp" + b"\x00" * 24,
        b"GIF89a" + b"\xff" * 16,
        b"fLaC" + b"\xff" * 16,
        b"ID3" + b"\x00" * 16,
    ]
    for pname, parse in parsers.items():
        for di, d in enumerate(degenerates):
            try:
                parse(d)
            except Exception as exc:  # pragma: no cover
                pytest.fail(f"{pname}(degenerate {di}) raised {type(exc).__name__}: {exc}")


# ---------------------------------------------------------------------------
# generative structure-aware fuzz (hypothesis): random container trees
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_MP4_TAGS = [
    b"ftyp", b"moov", b"trak", b"mdia", b"minf", b"stbl",
    b"stts", b"stsz", b"stsc", b"stco", b"stss", b"mvhd", b"tkhd",
    b"mdat", b"free", b"junk",
]


@st.composite
def mp4_trees(draw, depth=0):
    """Random ISO-BMFF box sequences: known/unknown tags, random payloads,
    nested children, and sizes that are correct, short, huge, or zero."""
    n = draw(st.integers(0, 3 if depth < 2 else 1))
    out = b""
    for _ in range(n):
        tag = draw(st.sampled_from(_MP4_TAGS))
        if depth < 2 and draw(st.booleans()):
            body = draw(mp4_trees(depth=depth + 1))
        else:
            body = draw(st.binary(min_size=0, max_size=48))
        size_kind = draw(st.sampled_from(["correct", "short", "huge", "tiny"]))
        size = {
            "correct": 8 + len(body),
            "short": max(8, (8 + len(body)) // 2),
            "huge": 0x7FFFFFF0,
            "tiny": draw(st.integers(0, 7)),
        }[size_kind]
        out += struct.pack(">I", size) + tag + body
    return out


@settings(max_examples=150, deadline=None)
@given(mp4_trees())
def test_mp4_parsers_survive_random_trees(tree):
    from dynamic_spark_spark.llmops.multimodal import (
        mp4_keyframe_slices,
        parse_mp4_header,
        parse_mp4_samples,
    )

    payload = struct.pack(">I", 16) + b"ftyp" + b"isomiso2" + tree
    t0 = time.monotonic()
    assert isinstance(parse_mp4_header(payload), tuple)
    out = parse_mp4_samples(payload)
    assert out is None or isinstance(out, list)
    keys = mp4_keyframe_slices(payload)
    assert keys is None or isinstance(keys, list)
    assert time.monotonic() - t0 < 2.0


_EBML_IDS = [
    b"\x18\x53\x80\x67", b"\x15\x49\xa9\x66", b"\x16\x54\xae\x6b",
    b"\xae", b"\xe0", b"\xb0", b"\xba", b"\x2a\xd7\xb1", b"\x44\x89",
    b"\x42\x82", b"\xec",
]


@st.composite
def ebml_trees(draw, depth=0):
    """Random EBML element sequences: known/unknown IDs, random bodies,
    nesting, and sizes correct / lying / the all-ones unknown vint."""
    from dynamic_spark_spark.llmops.multimodal import _ebml_vint

    n = draw(st.integers(0, 3 if depth < 2 else 1))
    out = b""
    for _ in range(n):
        eid = draw(st.sampled_from(_EBML_IDS))
        if depth < 2 and draw(st.booleans()):
            body = draw(ebml_trees(depth=depth + 1))
        else:
            body = draw(st.binary(min_size=0, max_size=24))
        size_kind = draw(st.sampled_from(["correct", "lying", "unknown"]))
        if size_kind == "correct":
            out += eid + _ebml_vint(len(body)) + body
        elif size_kind == "lying":
            out += eid + _ebml_vint(draw(st.integers(0, 1 << 20))) + body
        else:
            out += eid + b"\xff" + body
    return out


@settings(max_examples=150, deadline=None)
@given(ebml_trees())
def test_webm_parser_survives_random_trees(tree):
    from dynamic_spark_spark.llmops.multimodal import parse_webm_header

    payload = b"\x1a\x45\xdf\xa3\x84\x42\x82\x80" + tree
    t0 = time.monotonic()
    out = parse_webm_header(payload)
    assert isinstance(out, tuple) and len(out) == 3
    assert time.monotonic() - t0 < 2.0


@st.composite
def riff_chunks(draw):
    """Random RIFF chunk lists with adversarial fmt fields (any tag/size/
    alignment combination a corrupt WAV can carry)."""
    body = b"WAVE"
    for _ in range(draw(st.integers(0, 4))):
        tag = draw(st.sampled_from([b"fmt ", b"data", b"LIST", b"junk"]))
        if tag == b"fmt ":
            payload = struct.pack(
                "<HHIIHH",
                draw(st.integers(0, 3)),       # fmt_tag
                draw(st.integers(0, 4)),       # channels
                draw(st.integers(0, 96000)),   # rate
                draw(st.integers(0, 1 << 20)), # bytes/sec
                draw(st.integers(0, 16)),      # block_align (incl. lying)
                draw(st.sampled_from([8, 16, 24, 32])),
            )
        else:
            payload = draw(st.binary(min_size=0, max_size=64))
        declared = draw(
            st.sampled_from([len(payload), len(payload) * 3, 0, 0xFFFFFFF0])
        )
        body += tag + struct.pack("<I", declared) + payload
    return b"RIFF" + struct.pack("<I", len(body)) + body


@settings(max_examples=150, deadline=None)
@given(riff_chunks())
def test_wav_parsers_survive_random_chunks(payload):
    from dynamic_spark_spark.llmops.multimodal import (
        decode_wav_pcm,
        parse_wav_header,
        wav_audio_features,
    )

    t0 = time.monotonic()
    assert isinstance(parse_wav_header(payload), tuple)
    frames = decode_wav_pcm(payload)
    assert frames is None or frames.ndim == 2
    feats = wav_audio_features(payload)
    assert feats is None or len(feats) == 7
    assert time.monotonic() - t0 < 2.0


# ---------------------------------------------------------------------------
# gzip-member WARC walker (round 9)
# ---------------------------------------------------------------------------


def test_gzip_member_walk_roundtrip():
    """Three per-record members must come back as exactly the three record
    texts the Column/SQL synthesis would build — the worker-side twin and
    the codegen twin agree byte-for-byte."""
    from dynamic_spark_spark.llmops.html import (
        _warc_record_py,
        gzip_member_walk,
        warc_gzip_blob,
        warc_walk,
    )

    raw = warc_gzip_blob(7, "hello world")
    members = gzip_member_walk(raw)
    assert len(members) == 3
    assert members[0].decode() == _warc_record_py(
        "request", 7, "GET /d/7 HTTP/1.1\r\nHost: site.example"
    )
    recs = [warc_walk(m.decode())[0] for m in members]
    assert [r[0] for r in recs] == ["request", "response", "metadata"]
    assert all(r[4] for r in recs)  # every length_ok True


def test_gzip_member_walk_degrades():
    """Truncation, garbage, and non-gzip prefixes stop the walk cleanly at
    the last good member; nothing raises."""
    import gzip

    from dynamic_spark_spark.llmops.html import gzip_member_walk

    good = gzip.compress(b"record one", mtime=0)
    assert gzip_member_walk(b"") == []
    assert gzip_member_walk(None) == []
    assert gzip_member_walk(b"not gzip at all") == []
    assert gzip_member_walk(good + b"\x1f\x8bgarbage") == [b"record one"]
    assert gzip_member_walk(good + good[: len(good) // 2]) == [b"record one"]
    # corrupt CRC in the middle member: first survives, rest refused
    bad = bytearray(gzip.compress(b"record two", mtime=0))
    bad[-5] ^= 0xFF
    assert gzip_member_walk(good + bytes(bad) + good) == [b"record one"]


def test_gzip_member_walk_bomb_capped():
    """A member inflating past the cap is refused in O(cap) time — the
    walker must not materialize the bomb."""
    import gzip
    import time

    from dynamic_spark_spark.llmops.html import gzip_member_walk

    bomb = gzip.compress(b"\x00" * (64 << 20), mtime=0)  # 64 MiB of zeros
    t0 = time.monotonic()
    assert gzip_member_walk(bomb, cap=1 << 20) == []
    assert time.monotonic() - t0 < 2.0
    # and a stream that is bomb-then-good yields nothing after the refusal
    good = gzip.compress(b"after", mtime=0)
    assert gzip_member_walk(bomb + good, cap=1 << 20) == []


# ---------------------------------------------------------------------------
# ZIP central-directory walker (round 9)
# ---------------------------------------------------------------------------


def test_zip_member_walk_roundtrip():
    from dynamic_spark_spark.llmops.containers import (
        zip_archive_bytes,
        zip_member_walk,
    )

    raw = zip_archive_bytes(7, "hello world of zip members")
    members = zip_member_walk(raw)
    assert [m[0] for m in members] == [
        "doc_7/text.txt", "doc_7/meta.json", "doc_7/half.txt",
    ]
    assert [m[1] for m in members] == [0, 8, 8]  # stored, deflated, deflated
    assert all(m[3] for m in members)  # every crc_ok
    assert members[0][4] == b"hello world of zip members"
    assert members[2][4] == b"hello world o"  # ceil-half of 26 chars = 13


def test_zip_member_walk_degrades():
    import time

    from dynamic_spark_spark.llmops.containers import (
        zip_archive_bytes,
        zip_member_walk,
    )

    good = zip_archive_bytes(3, "some text payload")
    assert zip_member_walk(b"") == []
    assert zip_member_walk(None) == []
    assert zip_member_walk(b"PK\x03\x04 not a real zip") == []
    t0 = time.monotonic()
    for cut in range(1, len(good), 7):
        zip_member_walk(good[:cut])  # must not raise
    for pos in range(0, len(good), 5):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        zip_member_walk(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 5.0
    # flipping a content byte must flip crc_ok for that member only
    flipped = bytearray(good)
    # the stored member's content starts after its 30-byte local header +
    # name; locate it by searching for the stored payload
    idx = good.find(b"some text payload")
    flipped[idx] ^= 0xFF
    members = zip_member_walk(bytes(flipped))
    assert [m[0].endswith("text.txt") and not m[3] or m[3] for m in members]
    assert not [m for m in members if m[0].endswith("text.txt")][0][3]
    assert [m for m in members if m[0].endswith("meta.json")][0][3]


def test_zip_member_bomb_capped():
    """A DEFLATED member inflating past the cap is refused in O(cap)."""
    import io
    import time
    import zipfile

    from dynamic_spark_spark.llmops.containers import zip_member_walk

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("bomb.bin", b"\x00" * (64 << 20))
        zf.writestr("ok.txt", "fine")
    t0 = time.monotonic()
    members = zip_member_walk(buf.getvalue(), cap=1 << 20)
    assert time.monotonic() - t0 < 2.0
    assert [m[0] for m in members] == ["ok.txt"]  # bomb skipped, rest kept


def test_tar_member_walk_roundtrip():
    from dynamic_spark_spark.llmops.containers import (
        tar_archive_bytes,
        tar_member_walk,
    )

    raw = tar_archive_bytes(9, "tar member payload text")
    members = tar_member_walk(raw)
    assert [m[0] for m in members] == [
        "doc_9/text.txt", "doc_9/meta.json", "doc_9/half.txt",
    ]
    assert all(m[3] for m in members)  # every checksum verifies
    assert members[0][4] == b"tar member payload text"


def test_tar_member_walk_degrades():
    import time

    from dynamic_spark_spark.llmops.containers import (
        tar_archive_bytes,
        tar_member_walk,
    )

    good = tar_archive_bytes(1, "short text")
    assert tar_member_walk(b"") == []
    assert tar_member_walk(None) == []
    assert tar_member_walk(b"\x00" * 1024) == []
    t0 = time.monotonic()
    for cut in range(1, len(good), 97):
        tar_member_walk(good[:cut])  # must not raise
    for pos in range(0, len(good), 13):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        tar_member_walk(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 5.0
    # header-byte tweak inside a name (still valid UTF-8, so the walk
    # proceeds) must flip that member's checksum bit
    flipped = bytearray(good)
    flipped[2] ^= 0x01  # first header, name byte: 'c' -> 'b'
    members = tar_member_walk(bytes(flipped))
    assert members and not members[0][3]


def test_tar_lying_size_refused():
    import struct
    import time

    from dynamic_spark_spark.llmops.containers import (
        tar_archive_bytes,
        tar_member_walk,
    )

    good = bytearray(tar_archive_bytes(2, "x" * 100))
    good[124:135] = b"77777777777"  # first member claims 8 GiB
    t0 = time.monotonic()
    assert tar_member_walk(bytes(good)) == []
    assert time.monotonic() - t0 < 0.5


@st.composite
def zip_archives(draw):
    """Random real archives (stdlib writer) with an optional mutation —
    the walker must either parse or refuse, never raise."""
    import io
    import zipfile

    n = draw(st.integers(0, 5))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for i in range(n):
            name = draw(
                st.text(
                    st.characters(min_codepoint=48, max_codepoint=122), max_size=20
                )
            ) or f"m{i}"
            data = draw(st.binary(max_size=200))
            zi = zipfile.ZipInfo(f"{name}_{i}", date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = draw(
                st.sampled_from([zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
            )
            zf.writestr(zi, data)
    raw = bytearray(buf.getvalue())
    if raw and draw(st.booleans()):
        pos = draw(st.integers(0, len(raw) - 1))
        raw[pos] ^= draw(st.integers(1, 255))
    return bytes(raw)


@settings(max_examples=120, deadline=None)
@given(zip_archives())
def test_zip_walker_survives_random_archives(raw):
    from dynamic_spark_spark.llmops.containers import zip_member_walk

    t0 = time.monotonic()
    members = zip_member_walk(raw)
    assert isinstance(members, list)
    for name, method, ulen, crc_ok, content in members:
        assert method in (0, 8)
        # a member reported crc_ok must really carry matching content
        if crc_ok:
            assert len(content) == ulen
    assert time.monotonic() - t0 < 2.0


@st.composite
def tar_archives(draw):
    import io
    import tarfile

    n = draw(st.integers(0, 5))
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for i in range(n):
            data = draw(st.binary(max_size=600))
            ti = tarfile.TarInfo(f"member_{i}")
            ti.size = len(data)
            ti.mtime = 0
            tf.addfile(ti, io.BytesIO(data))
    raw = bytearray(buf.getvalue())
    if raw and draw(st.booleans()):
        pos = draw(st.integers(0, len(raw) - 1))
        raw[pos] ^= draw(st.integers(1, 255))
    return bytes(raw)


@settings(max_examples=120, deadline=None)
@given(tar_archives())
def test_tar_walker_survives_random_archives(raw):
    from dynamic_spark_spark.llmops.containers import tar_member_walk

    t0 = time.monotonic()
    members = tar_member_walk(raw)
    assert isinstance(members, list)
    for name, size, typeflag, chksum_ok, content in members:
        assert len(content) == size
    assert time.monotonic() - t0 < 2.0


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 400),
    st.integers(1, 2),
    st.integers(0, 3),
    st.integers(16, 256),
    st.booleans(),
    st.integers(0, 10_000),
)
def test_flac_random_roundtrip(n, channels, po, bs, mid_side, seed):
    """Random signals x random frame geometry: encode/decode must be the
    identity (the audio analog of the GIF property sweep)."""
    import numpy as np

    from dynamic_spark_spark.llmops.flac import decode_flac, encode_flac

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, (n, channels), dtype=np.int64)
    payload = encode_flac(
        samples, 8000, block_size=bs, partition_order=po,
        mid_side=(mid_side and channels == 2),
    )
    dec = decode_flac(payload)
    assert dec is not None and np.array_equal(dec, samples)


def test_tgz_member_walk_contract():
    import gzip
    import time

    from dynamic_spark_spark.llmops.containers import (
        tar_archive_bytes,
        tgz_archive_bytes,
        tgz_member_walk,
    )

    raw = tgz_archive_bytes(4, "tgz payload text here")
    members = tgz_member_walk(raw)
    assert [m[0] for m in members] == [
        "doc_4/text.txt", "doc_4/meta.json", "doc_4/half.txt",
    ]
    assert all(m[3] for m in members)
    assert tgz_member_walk(b"") == []
    assert tgz_member_walk(None) == []
    assert tgz_member_walk(tar_archive_bytes(4, "not gzipped")) == []
    assert tgz_member_walk(raw[: len(raw) // 2]) == []  # truncated stream
    # a gzip stream inflating past the bound is refused in O(cap)
    bomb = gzip.compress(b"\x00" * (600 << 20), mtime=0)
    t0 = time.monotonic()
    assert tgz_member_walk(bomb, cap=1 << 20) == []
    assert time.monotonic() - t0 < 3.0


def test_bmp_codec_roundtrip_and_contract():
    from dynamic_spark_spark.llmops.multimodal import (
        decode_bmp_rgb,
        encode_bmp_rgb,
        png_pixel,
    )

    for w, h, td in [(1, 1, False), (9, 7, False), (9, 7, True), (6, 4, True)]:
        rows = [
            [[png_pixel(x, y, c, 5) for c in range(3)] for x in range(w)]
            for y in range(h)
        ]
        assert decode_bmp_rgb(encode_bmp_rgb(rows, top_down=td)) == rows
    good = encode_bmp_rgb(
        [[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]]
    )
    assert decode_bmp_rgb(None) is None
    assert decode_bmp_rgb(b"") is None
    assert decode_bmp_rgb(good[:30]) is None
    for cut in range(1, len(good), 5):
        decode_bmp_rgb(good[:cut])  # must not raise
    for pos in range(0, len(good), 3):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        decode_bmp_rgb(bytes(mutated))  # must not raise
    # dimension bomb refused before allocation
    import struct
    import time

    bomb = bytearray(good)
    bomb[18:26] = struct.pack("<ii", 60000, 60000)
    t0 = time.monotonic()
    assert decode_bmp_rgb(bytes(bomb)) is None
    assert time.monotonic() - t0 < 0.5


def test_flac_crc_valid_hostile_lpc_refused():
    """A CRC-valid stream whose LPC coefficients drive the prediction far
    outside the declared bit depth must be refused (None), not grow
    unbounded Python big-ints until np.array raises OverflowError.
    Byte-flip fuzzing never reaches this path (CRC rejects it first), so
    the fixture is built frame-by-frame with the module's own _BitWriter
    and real CRCs — the decoder has no checksum grounds to refuse it."""
    import struct
    import time

    from dynamic_spark_spark.llmops.flac import (
        _BitWriter,
        _crc8,
        _crc16,
        _utf8_coded,
        decode_flac,
    )

    bs = 8  # total samples == one block
    out = bytearray(b"fLaC")
    info = _BitWriter()
    info.write(bs, 16)
    info.write(bs, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(8000, 20)  # sample rate
    info.write(0, 3)      # channels - 1
    info.write(15, 5)     # bits - 1
    info.write(bs, 36)    # total samples
    streaminfo = info.bytes() + b"\x00" * 16
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo

    hdrw = _BitWriter()
    hdrw.write(0b11111111111110, 14)
    hdrw.write(0, 1)       # reserved
    hdrw.write(0, 1)       # fixed-blocksize strategy
    hdrw.write(0b0111, 4)  # 16-bit blocksize-1 follows
    hdrw.write(0, 4)       # sample rate from STREAMINFO
    hdrw.write(0, 4)       # mono
    hdrw.write(0b100, 3)   # 16-bit samples
    hdrw.write(0, 1)       # reserved
    hdr = hdrw.bytes() + _utf8_coded(0) + struct.pack(">H", bs - 1)
    hdr += bytes([_crc8(hdr)])

    body = _BitWriter()
    body.write(0, 1)        # subframe pad bit
    body.write(32, 6)       # LPC, order 1
    body.write(0, 1)        # no wasted bits
    body.write_signed(32767, 16)  # warmup sample at the 16-bit max
    body.write(14, 4)       # coefficient precision 15
    body.write_signed(0, 5)      # shift 0
    body.write_signed(16383, 15)  # hostile coefficient: x[i] = 16383*x[i-1]
    body.write(0, 2)        # residual method 0 (4-bit Rice)
    body.write(0, 4)        # partition order 0
    body.write(0, 4)        # rice param 0
    for _ in range(bs - 1):
        body.write_unary(0)  # residual 0
    body.align()
    frame = hdr + body.bytes()
    frame += struct.pack(">H", _crc16(frame))
    out += frame

    t0 = time.monotonic()
    assert decode_flac(bytes(out)) is None
    assert time.monotonic() - t0 < 1.0


def test_zip64_roundtrip_and_stdlib_interop():
    """The hand-rolled ZIP64 writer and walker must agree with the
    stdlib in BOTH directions: zipfile reads our full-ZIP64 archives
    verbatim, and our walker resolves stdlib force_zip64 local headers."""
    import io
    import zipfile

    from dynamic_spark_spark.llmops.containers import (
        zip64_archive_bytes,
        zip_member_walk,
    )

    raw = zip64_archive_bytes(11, "zip64 payload text")
    ours = zip_member_walk(raw)
    assert [m[0] for m in ours] == [
        "doc_11/text.txt", "doc_11/meta.json", "doc_11/half.txt",
    ]
    assert all(m[3] for m in ours)
    assert ours[0][4] == b"zip64 payload text"

    zf = zipfile.ZipFile(io.BytesIO(raw))
    assert zf.testzip() is None
    assert [zi.filename for zi in zf.infolist()] == [m[0] for m in ours]
    for zi, m in zip(zf.infolist(), ours):
        assert zf.read(zi) == m[4]

    # reverse direction: stdlib-written zip64 (sentinel local sizes)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf2:
        with zf2.open("big.txt", "w", force_zip64=True) as f:
            f.write(b"stdlib zip64 member")
    members = zip_member_walk(buf.getvalue())
    assert [(m[0], m[4]) for m in members] == [("big.txt", b"stdlib zip64 member")]


def test_zip64_degrades():
    import time

    from dynamic_spark_spark.llmops.containers import (
        zip64_archive_bytes,
        zip_member_walk,
    )

    good = zip64_archive_bytes(2, "short zip64 text")
    t0 = time.monotonic()
    for cut in range(1, len(good), 37):
        zip_member_walk(good[:cut])  # must not raise
    for pos in range(0, len(good), 11):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        zip_member_walk(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 5.0
    # a sentinel EOCD whose zip64 locator is missing must refuse cleanly
    no_loc = bytearray(good)
    loc_at = bytes(no_loc).rfind(b"PK\x06\x07")
    no_loc[loc_at] ^= 0xFF
    assert zip_member_walk(bytes(no_loc)) == []


def test_tar_longname_both_dialects():
    """GNU 'L' and PAX 'x' path encodings must both resolve to the same
    134-char member name the ustar fields cannot hold (stdlib writes,
    hand-rolled walker reads — two implementations of each dialect)."""
    from dynamic_spark_spark.llmops.containers import (
        longname_tar_bytes,
        tar_member_walk,
    )

    want = "doc_5/" + "d" * 120 + "/text.txt"
    for fmt in ("gnu", "pax"):
        members = tar_member_walk(longname_tar_bytes(5, "longname payload", fmt))
        assert [(m[0], m[1], m[3]) for m in members] == [(want, 16, True)], fmt
        assert members[0][4] == b"longname payload"


def test_tar_pax_malformed_records_refused():
    """A PAX 'x' member with broken records must stop the walk (a bad
    override would otherwise silently mis-name the member after it)."""
    from dynamic_spark_spark.llmops.containers import (
        longname_tar_bytes,
        tar_member_walk,
    )

    raw = bytearray(longname_tar_bytes(3, "pax payload", "pax"))
    # the first member is the 'x' header; its data starts at 512 —
    # corrupt the length prefix of the first record
    raw[512] = ord("z")
    assert tar_member_walk(bytes(raw)) == []


def test_tbz_txz_walk_contract():
    import time

    from dynamic_spark_spark.llmops.containers import (
        tbz_archive_bytes,
        tbz_member_walk,
        txz_archive_bytes,
        txz_member_walk,
    )

    for mk, walk in [
        (tbz_archive_bytes, tbz_member_walk),
        (txz_archive_bytes, txz_member_walk),
    ]:
        raw = mk(6, "compressed tar payload")
        members = walk(raw)
        assert [m[0] for m in members] == [
            "doc_6/text.txt", "doc_6/meta.json", "doc_6/half.txt",
        ]
        assert all(m[3] for m in members)
        assert walk(b"") == []
        assert walk(None) == []
        assert walk(raw[:15]) == []          # truncated stream
        assert walk(b"\x00" * 64) == []      # wrong magic
        t0 = time.monotonic()
        for cut in range(1, len(raw), 23):
            walk(raw[:cut])  # must not raise
        assert time.monotonic() - t0 < 5.0


def test_tbz_bomb_capped():
    """A bzip2 stream inflating past the 64x stream cap is refused, and
    the incremental decompressor bounds the allocation, not just the
    result."""
    import bz2
    import io
    import tarfile
    import time

    from dynamic_spark_spark.llmops.containers import tbz_member_walk

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        ti = tarfile.TarInfo("bomb.bin")
        ti.size = 256 << 20
        tf.addfile(ti, io.BytesIO(b"\x00" * (256 << 20)))
    bomb = bz2.compress(buf.getvalue(), 9)
    assert len(bomb) < 1 << 20  # it really is a bomb
    t0 = time.monotonic()
    assert tbz_member_walk(bomb, cap=1 << 20) == []
    assert time.monotonic() - t0 < 5.0


def test_crc32c_published_vectors():
    """CRC-32C pinned against the published Castagnoli vectors (RFC 3720
    appendix B.4 / Intel SSE4.2 reference) — the independent ground truth
    for the TFRecord checksum chain."""
    from dynamic_spark_spark.llmops.tfrecord import crc32c, masked_crc32c

    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43
    assert crc32c(bytes(range(32))) == 0x46DD794E
    # the mask transform is an involution modulo the constant — spot-pin
    # one known pair: mask(crc) must differ from crc and stay 32-bit
    m = masked_crc32c(b"123456789")
    assert 0 <= m <= 0xFFFFFFFF and m != 0xE3069283


def test_tfrecord_walk_contract():
    import time

    from dynamic_spark_spark.llmops.tfrecord import (
        tfrecord_bytes,
        tfrecord_walk,
    )

    payloads = [b"hello", b"", b"x" * 1000, "wörld".encode()]
    raw = tfrecord_bytes(payloads)
    ms = tfrecord_walk(raw)
    assert [m[3] for m in ms] == payloads
    assert all(m[2] for m in ms)
    assert [m[1] for m in ms] == [len(p) for p in payloads]

    assert tfrecord_walk(b"") == []
    assert tfrecord_walk(None) == []
    t0 = time.monotonic()
    for cut in range(1, len(raw), 31):
        walked = tfrecord_walk(raw[:cut])  # truncation: keep the whole prefix
        assert all(m[2] for m in walked)
    assert time.monotonic() - t0 < 5.0

    # data corruption: that record flagged, framing continues
    bad = bytearray(raw)
    bad[12] ^= 0xFF
    ms2 = tfrecord_walk(bytes(bad))
    assert len(ms2) == len(payloads)
    assert not ms2[0][2] and all(m[2] for m in ms2[1:])

    # length corruption: framing lost, walk stops at the boundary
    bad2 = bytearray(raw)
    bad2[0] ^= 0xFF
    assert tfrecord_walk(bytes(bad2)) == []

    # lying length past the cap: refused before allocation
    import struct

    from dynamic_spark_spark.llmops.tfrecord import masked_crc32c

    hdr = struct.pack("<Q", 1 << 60)
    bomb = hdr + struct.pack("<I", masked_crc32c(hdr)) + b"short"
    t0 = time.monotonic()
    assert tfrecord_walk(bomb) == []
    assert time.monotonic() - t0 < 0.5


def test_pdf_roundtrip_hostile_chars():
    """Escape-heavy text (parens, backslashes, newlines-in-source become
    escaped literals) must survive the write → xref walk → inflate →
    string-decode chain byte-for-byte."""
    from dynamic_spark_spark.llmops.pdf import pdf_bytes, pdf_text_extract

    text = r"a(b)c\\d\(e\) ((nested)) \\\\ trailing\ " + "tab\there"
    raw = pdf_bytes(1, text)
    res = pdf_text_extract(raw)
    assert res is not None and res[0] == 2
    n = len(text)
    h = (n + 1) // 2
    h1, h2 = text[:h], text[h:]
    q1, q2 = h1[: (len(h1) + 1) // 2], h1[(len(h1) + 1) // 2 :]
    q3, q4 = h2[: (len(h2) + 1) // 2], h2[(len(h2) + 1) // 2 :]
    assert res[1] == q1 + "\n" + q2 + "\n" + q3 + "\n" + q4


def test_pdf_empty_and_single_char():
    from dynamic_spark_spark.llmops.pdf import pdf_bytes, pdf_text_extract

    assert pdf_text_extract(pdf_bytes(1, "")) == (2, "\n\n\n")
    assert pdf_text_extract(pdf_bytes(1, "X")) == (2, "X\n\n\n")


def test_pdf_degrades():
    import time

    from dynamic_spark_spark.llmops.pdf import pdf_bytes, pdf_text_extract

    good = pdf_bytes(3, "short pdf body text")
    assert pdf_text_extract(b"") is None
    assert pdf_text_extract(None) is None
    assert pdf_text_extract(b"%PDF-1.4\ngarbage") is None
    t0 = time.monotonic()
    for cut in range(1, len(good), 41):
        pdf_text_extract(good[:cut])  # must not raise
    for pos in range(0, len(good), 17):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        pdf_text_extract(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 10.0


def test_pdf_stream_bomb_capped():
    """A content stream inflating past the cap is refused in O(cap)."""
    import time
    import zlib

    from dynamic_spark_spark.llmops.pdf import pdf_text_extract

    bomb = zlib.compress(b"(" + b"A" * (64 << 20) + b") Tj", 9)
    # a direct byte splice would break the xref offsets of every object
    # after the stream; routing the bomb through the writer's own
    # compress call keeps the layout honest (declared /Length = the small
    # compressed size, so the INFLATE cap is what must refuse it)
    from dynamic_spark_spark.llmops import pdf as P

    orig_compress = zlib.compress
    try:
        zlib.compress = lambda data, level=6: bomb  # noqa: E731
        hostile = P.pdf_bytes(4, "bomb host")
    finally:
        zlib.compress = orig_compress
    t0 = time.monotonic()
    assert pdf_text_extract(hostile) is None
    assert time.monotonic() - t0 < 3.0


def test_pdf_xref_stream_refused():
    """PDF 1.5 cross-reference STREAMS are out of scope: the parser must
    refuse (None), never misread the classic-xref path into them."""
    from dynamic_spark_spark.llmops.pdf import pdf_text_extract

    fake = (
        b"%PDF-1.5\n1 0 obj\n<< /Type /XRef >>\nstream\nxx\nendstream\nendobj\n"
        b"startxref\n9\n%%EOF\n"
    )
    assert pdf_text_extract(fake) is None


def test_xlsx_cells_contract():
    import time

    from dynamic_spark_spark.llmops.containers import xlsx_bytes, xlsx_cells

    cells = xlsx_cells(xlsx_bytes(9, "plain body"))
    assert cells == [
        ("A1", "s", "plain body"),
        ("B1", "n", "9"),
        ("A2", "s", "plain"),
        ("B2", "n", "10"),
    ]
    # XML-reserved characters must survive the escape round trip
    hostile = 'a & b < c > d && <t> &amp; "q"'
    got = xlsx_cells(xlsx_bytes(2, hostile))
    assert got[0] == ("A1", "s", hostile)

    assert xlsx_cells(b"") == []
    assert xlsx_cells(None) == []
    good = xlsx_bytes(1, "degrade sweep")
    t0 = time.monotonic()
    for cut in range(1, len(good), 53):
        xlsx_cells(good[:cut])  # must not raise
    for pos in range(0, len(good), 29):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF
        xlsx_cells(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 10.0


def test_parquet_footer_matches_pyarrow():
    """The hand-rolled Thrift compact walk must agree with pyarrow (an
    independent implementation) on files written with varied row-group
    geometries — including multi-group files, where the field-3-in-list
    extraction does real work."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_footer

    for n, rg_size in [(10, 10), (100, 7), (1000, 64), (1, 1)]:
        table = pa.table(
            {"a": list(range(n)), "b": [f"s{i}" for i in range(n)]}
        )
        buf = io.BytesIO()
        pq.write_table(table, buf, row_group_size=rg_size)
        raw = buf.getvalue()
        got = parse_parquet_footer(raw)
        md = pq.read_metadata(io.BytesIO(raw))
        want = (md.num_rows, [md.row_group(i).num_rows for i in range(md.num_row_groups)])
        assert got == want, (n, rg_size)


def test_parquet_footer_degrades():
    import io
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_footer

    buf = io.BytesIO()
    pq.write_table(pa.table({"a": list(range(50))}), buf, row_group_size=16)
    good = buf.getvalue()

    assert parse_parquet_footer(b"") is None
    assert parse_parquet_footer(None) is None
    assert parse_parquet_footer(b"PAR1junkPAR1") is None
    # lying footer length
    import struct as _s

    lying = good[:-8] + _s.pack("<I", 1 << 30) + b"PAR1"
    assert parse_parquet_footer(lying) is None
    t0 = time.monotonic()
    for cut in range(1, len(good), 61):
        parse_parquet_footer(good[:cut])  # must not raise
    for pos in range(max(0, len(good) - 300), len(good), 3):
        mutated = bytearray(good)
        mutated[pos] ^= 0xFF  # footer-region byte flips
        parse_parquet_footer(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 10.0


def test_avro_ocf_roundtrip_and_degrades():
    import time

    from dynamic_spark_spark.llmops.avro_ocf import (
        avro_ocf_bytes,
        avro_ocf_walk,
    )

    recs = [(1, "hello"), (2, ""), (3, "wörld text"), (40000, "x" * 500)]
    for codec in ("deflate", "null"):
        raw = avro_ocf_bytes(recs, codec)
        assert avro_ocf_walk(raw) == recs, codec

    raw = avro_ocf_bytes(recs)
    assert avro_ocf_walk(b"") == []
    assert avro_ocf_walk(None) == []
    t0 = time.monotonic()
    for cut in range(1, len(raw), 19):
        avro_ocf_walk(raw[:cut])  # must not raise
    for pos in range(0, len(raw), 7):
        mutated = bytearray(raw)
        mutated[pos] ^= 0xFF
        avro_ocf_walk(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 10.0

    # sync-marker corruption: the walk must stop at the broken boundary,
    # not mis-frame into the next block
    bad = bytearray(raw)
    bad[-1] ^= 0xFF  # trailing sync byte
    assert avro_ocf_walk(bytes(bad)) == []

    # schema-checked decode: a different field shape is refused outright
    import json as _json

    other = avro_ocf_bytes(recs)
    swapped = other.replace(b'"name":"doc_id","type":"long"', b'"name":"other_f","type":"long"')
    assert avro_ocf_walk(swapped) == []


def test_avro_count_bomb_capped():
    """A block declaring 2^40 records (or a huge byte length) must be
    refused before any allocation."""
    import struct
    import time

    from dynamic_spark_spark.llmops.avro_ocf import (
        _zigzag_encode,
        avro_ocf_bytes,
        avro_ocf_walk,
    )

    good = avro_ocf_bytes([(1, "x")])
    # rebuild the first block with a lying count: locate it right after
    # the 16-byte sync that ends the header
    hdr_end = good.index(struct.pack("<QQ", 0x5350_4152_4B47_5246, 1))
    cut = hdr_end + 16
    bomb = good[:cut] + _zigzag_encode(1 << 40) + good[cut + 1 :]
    t0 = time.monotonic()
    avro_ocf_walk(bomb)  # must neither raise nor allocate
    assert time.monotonic() - t0 < 0.5


def test_proto_unknown_field_forward_compat():
    """The generic walk must skip fields it does not know — by each
    field's OWN wire-type length — without disturbing any known value.
    This is the forward-compatibility property proto consumers rely on."""
    import struct

    from dynamic_spark_spark.llmops.protowire import (
        _uvarint_enc,
        proto_doc_bytes,
        proto_doc_decode,
    )

    base = proto_doc_bytes(42, "known payload")
    want = proto_doc_decode(base)
    # inject alien fields of every wire type at the FRONT (worst case:
    # decoder must resync before any known field)
    alien = (
        _uvarint_enc((99 << 3) | 0) + _uvarint_enc(12345)
        + _uvarint_enc((100 << 3) | 1) + struct.pack("<d", 2.5)
        + _uvarint_enc((101 << 3) | 2) + _uvarint_enc(7) + b"aliens!"
        + _uvarint_enc((102 << 3) | 5) + struct.pack("<I", 7)
    )
    assert proto_doc_decode(alien + base) == want
    assert proto_doc_decode(base + alien) == want


def test_proto_stream_walk_contract():
    import time

    from dynamic_spark_spark.llmops.protowire import (
        proto_stream_bytes,
        proto_stream_walk,
    )

    recs = [(1, "a"), (2, ""), (77, "wörld"), (500, "z" * 300)]
    raw = proto_stream_bytes(recs)
    got = proto_stream_walk(raw)
    assert [(g[0], g[1]) for g in got] == recs
    assert all(g[2] == len(r[1]) for g, r in zip(got, recs))
    assert all(g[3] == r[0] * 0.5 for g, r in zip(got, recs))

    assert proto_stream_walk(b"") == []
    assert proto_stream_walk(None) == []
    t0 = time.monotonic()
    for cut in range(1, len(raw), 13):
        proto_stream_walk(raw[:cut])  # must not raise
    for pos in range(0, len(raw), 5):
        mutated = bytearray(raw)
        mutated[pos] ^= 0xFF
        proto_stream_walk(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 10.0

    # deprecated group wire types (3/4) are refused, not guessed over
    from dynamic_spark_spark.llmops.protowire import _uvarint_enc

    grp = _uvarint_enc((1 << 3) | 3)
    framed = _uvarint_enc(len(grp)) + grp
    assert proto_stream_walk(framed) == []

    # length bomb: a frame declaring 2^50 bytes is refused pre-allocation
    bomb = _uvarint_enc(1 << 50) + b"tiny"
    t0 = time.monotonic()
    assert proto_stream_walk(bomb) == []
    assert time.monotonic() - t0 < 0.5


def test_varint_decoders_refuse_truncated_and_oversized():
    """The one LEB128 decoder pair (protowire) round-trips the encoder
    and raises ValueError on a truncated varint and on one past the
    64-bit cap (more than 10 bytes)."""
    from dynamic_spark_spark.llmops.avro_ocf import _zigzag_encode
    from dynamic_spark_spark.llmops.protowire import (
        _uvarint_dec,
        _uvarint_enc,
        _zigzag_dec,
    )

    for v in (0, 1, 127, 128, 300, 1 << 35, (1 << 64) - 1):
        enc = _uvarint_enc(v)
        assert _uvarint_dec(b"x" + enc + b"y", 1) == (v, 1 + len(enc))
    for v in (0, -1, 1, -64, 64, -(1 << 40), (1 << 62), -(1 << 63)):
        enc = _zigzag_encode(v)
        assert _zigzag_dec(enc, 0) == (v, len(enc))
    truncated = _uvarint_enc(1 << 40)[:-1]
    oversized = b"\xff" * 10 + b"\x01"
    for dec in (_uvarint_dec, _zigzag_dec):
        for bad in (b"", truncated, oversized):
            with pytest.raises(ValueError):
                dec(bad, 0)


def _parquet_bytes(columns: dict) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.table(columns), buf, write_page_index=True)
    return buf.getvalue()


def _one_file_batch(path: str, raw: bytes):
    import pandas as pd

    return iter([pd.DataFrame({"path": [path], "content": [raw]})])


def test_raw_scan_never_drops_a_file():
    """The one raw-file scan (``fixtures.decode_batches``): a truncated
    file stops the scan with an error naming the fixture and the file,
    a file with no rows decodes to an empty frame with the dtypes the
    key emits for rows, and ``p=`` partition values reach the decode."""
    import io

    import pyarrow as pa
    import pyarrow.orc as po

    from dynamic_spark_spark.llmops import orc_raw
    from dynamic_spark_spark.llmops import parquet_raw as pr
    from dynamic_spark_spark.llmops.fixtures import (
        UndecodableInputError,
        decode_batches,
    )

    temporal = {"l_orderkey": pa.int64(), "ship_ts": pa.timestamp("us"),
                "ship_date": pa.date32()}
    nested = {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32())}
    numeric = {"l_orderkey": pa.int64(), "l_linenumber": pa.int32(),
               "l_quantity": pa.float64(), "price_f32": pa.float32(),
               "is_return": pa.bool_()}
    # (fixture, decode, schema, values, output rows, pinned dtypes)
    cases = [
        ("rawtemporal", pr._decode_raw_temporal, temporal,
         [[1, 2], [0, 86_400_000_000], [0, 1]], 2,
         ["int64", "datetime64[us]", "int32"]),
        ("rawnested", pr._decode_raw_nested, nested,
         [[1, 2], [[0.5], [1.5, 2.5]]], 3, ["int64", "int32", "object"]),
        ("rawnum", pr._decode_raw_numeric, numeric,
         [[1, 2], [1, 2], [1.0, 2.0], [0.5, 1.5], [True, False]], 2,
         ["int64", "int32", "float64", "float64", "bool"]),
        # an empty file may carry no footer min/max
        ("rawdict", pr._decode_raw_dict, {"doc_id": pa.int64()}, [[5, 9]],
         2, None),
    ]
    for fixture, decode, schema, values, n_out, dtypes in cases:
        def scan(path, raw):
            return list(decode_batches(fixture, decode, False,
                                       _one_file_batch(path, raw)))

        empty = _parquet_bytes({c: pa.array([], t) for c, t in schema.items()})
        full = _parquet_bytes({c: pa.array(v, t)
                               for (c, t), v in zip(schema.items(), values)})
        (got_empty,) = scan("file:/d/part-0.parquet", empty)
        (got_full,) = scan("file:/d/part-0.parquet", full)
        assert len(got_empty) == 0 and len(got_full) == n_out, fixture
        if dtypes is not None:
            for frame in (got_empty, got_full):
                assert [str(d) for d in frame.dtypes] == dtypes, fixture
        for cut in (len(full) // 2, len(full) - 3):
            with pytest.raises(UndecodableInputError,
                               match=rf"'{fixture}'.*part-1\.parquet"):
                scan("file:/d/part-1.parquet", full[:cut])

    ids = {"doc_id": pa.array([3, 11, 19], pa.int64())}
    (frame,) = decode_batches(
        "footer", pr._decode_pageindex, True,
        _one_file_batch("file:/d/p=3/part-0.parquet", _parquet_bytes(ids)),
    )
    assert frame.to_dict("list") == {"p": [3], "idx_min": [3],
                                     "idx_max": [19], "idx_rows": [3]}
    # audit keys: a file with no rows has no index or filter to audit
    empty_ids = {"doc_id": pa.array([], pa.int64())}
    orc_buf = io.BytesIO()
    po.write_table(pa.table(empty_ids), orc_buf)
    for decode, raw in ((pr._decode_pageindex, _parquet_bytes(empty_ids)),
                        (pr._decode_bloom, _parquet_bytes(empty_ids)),
                        (orc_raw._decode_orc_rowindex, orc_buf.getvalue())):
        (frame,) = decode_batches(
            "fx", decode, True, _one_file_batch("file:/d/p=3/part-0", raw)
        )
        assert len(frame) == 0, decode

    def boom(raw):
        raise KeyError("inner")

    with pytest.raises(UndecodableInputError, match=r"'fx'.*part-9.*inner"):
        list(decode_batches("fx", boom, False,
                            _one_file_batch("file:/d/part-9.bin", b"")))



def _first_data_page(values, **write_kw):
    """An uncompressed one-column pyarrow file of int64 ``doc_id`` (no
    page checksums, so a patched page still parses) and the header
    offset and header of its first data page."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_meta
    from dynamic_spark_spark.llmops.parquet_raw import _parse_page_header

    buf = io.BytesIO()
    pq.write_table(pa.table({"doc_id": pa.array(values, pa.int64())}), buf,
                   compression="none", **write_kw)
    raw = buf.getvalue()
    pos = parse_parquet_meta(raw).chunks[0].first_page
    pg = _parse_page_header(raw, pos)
    while pg.ptype == 2:  # the dictionary page
        pos = pg.body + pg.comp
        pg = _parse_page_header(raw, pos)
    return raw, pos, pg


def _patched(raw: bytes, at: int, old: bytes, new: bytes) -> bytes:
    assert raw[at : at + len(old)] == old and len(new) == len(old)
    return raw[:at] + new + raw[at + len(old):]


def test_flat_page_walk_refuses_corrupt_pages():
    """The array page walk keeps every refusal: a dictionary index past
    the dictionary, a truncated bit-packed run, an RLE run longer than
    the page, a PLAIN payload shorter than its levels claim, and a v2
    ``num_nulls`` that disagrees with the levels. Each patched file
    reads as None and stops the scan with an error naming it; the
    unpatched file reads in full."""
    from dynamic_spark_spark.llmops import parquet_raw as pr
    from dynamic_spark_spark.llmops.fixtures import (
        UndecodableInputError,
        decode_batches,
    )

    def scan(raw):
        return list(decode_batches("rawdict", pr._decode_raw_dict, False,
                                   _one_file_batch("file:/d/part-0", raw)))

    cases = []
    # levels: one RLE run of 120 ones; indices at bit width 2: runs of
    # 40 × 0, 1 and 2, the last one's value patched to 3
    values = [5] * 40 + [9] * 40 + [11] * 40
    raw, _, pg = _first_data_page(values)
    cases.append(("index past the dictionary", values, raw,
                  _patched(raw, pg.body + 7, bytes.fromhex("02500050015002"),
                           bytes.fromhex("02500050015003"))))
    # indices at bit width 1: one bit-packed run of 5 groups of 8,
    # patched to claim 6
    values = [5, 9] * 20
    raw, _, pg = _first_data_page(values)
    cases.append(("truncated bit-packed run", values, raw,
                  _patched(raw, pg.body + 6, b"\x01\x0b", b"\x01\x0d")))
    # levels: one RLE run of 40 ones, patched to a run of 63
    values = list(range(40))
    raw, _, pg = _first_data_page(values, use_dictionary=False)
    cases.append(("RLE run longer than the page", values, raw,
                  _patched(raw, pg.body + 4, b"\x50\x01", b"\x7e\x01")))
    # levels: alternating 1/0, patched to all ones: 40 values claimed,
    # 20 in the PLAIN payload
    values = [1, None] * 20
    raw, _, pg = _first_data_page(values, use_dictionary=False)
    cases.append(("short PLAIN payload", values, raw,
                  _patched(raw, pg.body + 5, b"\x55" * 5, b"\xff" * 5)))
    # DataPageHeaderV2 num_values 40, num_nulls 20 → 21, num_rows 40
    raw, pos, pg = _first_data_page(values, use_dictionary=False,
                                    data_page_version="2.0")
    at = raw.index(bytes.fromhex("155015281550"), pos, pg.body) + 3
    cases.append(("v2 num_nulls against the levels", values, raw,
                  _patched(raw, at, b"\x28", b"\x2a")))

    for name, values, good, bad in cases:
        present = [v for v in values if v is not None]
        assert pr.read_parquet_column(good, "doc_id") == present, name
        (frame,) = scan(good)
        assert frame["doc_id"].tolist() == present, name
        assert pr.read_parquet_column(bad, "doc_id") is None, name
        with pytest.raises(UndecodableInputError, match=r"'rawdict'.*part-0"):
            scan(bad)


def test_timestamp_millis_past_int64_micros_is_refused():
    """TIMESTAMP_MILLIS reads ×1000 into epoch micros: a value whose
    micros leave int64 is refused, never wrapped, by the reader and by
    the temporal key's scan; the largest values that fit read
    exactly."""
    import pyarrow as pa

    from dynamic_spark_spark.llmops import parquet_raw as pr
    from dynamic_spark_spark.llmops.fixtures import (
        UndecodableInputError,
        decode_batches,
    )

    def table(ms):
        return _parquet_bytes({
            "l_orderkey": pa.array(range(len(ms)), pa.int64()),
            "ship_ts": pa.array(ms, pa.timestamp("ms")),
            "ship_date": pa.array([0] * len(ms), pa.date32()),
        })

    def scan(raw):
        return list(decode_batches(
            "rawtemporal", pr._decode_raw_temporal, False,
            _one_file_batch("file:/d/part-0", raw),
        ))

    lim = (2**63 - 1) // 1000
    good = table([lim, -lim, 7])
    assert pr.read_parquet_timestamp_column(good, "ship_ts") == [
        lim * 1000, -lim * 1000, 7000,
    ]
    (frame,) = scan(good)
    assert frame["ship_ts"].astype("int64").tolist() == [
        lim * 1000, -lim * 1000, 7000,
    ]
    for ms in (lim + 1, -lim - 1, 2**62):
        bad = table([7, ms])
        assert pr.read_parquet_timestamp_column(bad, "ship_ts") is None, ms
        with pytest.raises(UndecodableInputError,
                           match=r"'rawtemporal'.*part-0"):
            scan(bad)


def test_parquet_chunk_without_a_required_field_refuses_the_file():
    """A ColumnChunk whose metadata lacks a field parquet.thrift marks
    required refuses the whole file: one flipped field header (field 7
    read as field 8, so ``data_page_offset`` lands on field 10) must not
    leave the readers one row group short. The flat readers return
    None, the footer projection refuses, and both keys' scans stop with
    an error naming the file."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops import parquet_raw as pr
    from dynamic_spark_spark.llmops.fixtures import (
        UndecodableInputError,
        decode_batches,
    )
    from dynamic_spark_spark.llmops.parquet_footer import (
        parse_parquet_footer,
        parse_parquet_meta,
    )
    from dynamic_spark_spark.llmops.protowire import _uvarint_enc

    buf = io.BytesIO()
    pq.write_table(pa.table({"doc_id": pa.array(range(100), pa.int64())}),
                   buf, row_group_size=50, use_dictionary=False)
    good = buf.getvalue()
    assert pr.read_parquet_column(good, "doc_id") == list(range(100))
    assert pr.read_parquet_int64_column(good, "doc_id") == list(range(100))

    # the second chunk's ColumnMetaData fields 5, 6, 7 and 9 (i64s):
    # num_values, total_uncompressed/compressed_size, data_page_offset
    col = pq.read_metadata(io.BytesIO(good)).row_group(1).column(0)

    def i64(header: int, v: int) -> bytes:
        return bytes([header]) + _uvarint_enc(v << 1)

    run = (i64(0x16, col.num_values)
           + i64(0x16, col.total_uncompressed_size)
           + i64(0x16, col.total_compressed_size)
           + i64(0x26, col.data_page_offset))
    footer = len(good) - 8 - struct.unpack("<I", good[-8:-4])[0]
    assert good[footer:].count(run) == 1
    field7 = good.rindex(run) + len(i64(0x16, col.num_values)) + len(
        i64(0x16, col.total_uncompressed_size))
    assert good[field7] == 0x16
    bad = good[:field7] + b"\x26" + good[field7 + 1:]
    with pytest.raises(Exception):
        pq.read_table(io.BytesIO(bad))

    assert parse_parquet_meta(bad) is None
    assert parse_parquet_footer(bad) is None
    assert pr.read_parquet_column(bad, "doc_id") is None
    assert pr.read_parquet_int64_column(bad, "doc_id") is None
    for fixture, decode in (("rawcol", pr._decode_raw_column),
                            ("rawdict", pr._decode_raw_dict)):
        (frame,) = decode_batches(
            fixture, decode, False, _one_file_batch("file:/d/part-0", good)
        )
        assert frame["doc_id"].tolist() == list(range(100)), fixture
        with pytest.raises(UndecodableInputError,
                           match=rf"'{fixture}'.*part-1"):
            list(decode_batches(fixture, decode, False,
                                _one_file_batch("file:/d/part-1", bad)))


#: parquet.thrift CompressionCodec → pyarrow's name for it
_PARQUET_CODEC_NAMES = {0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP",
                        6: "ZSTD"}


@pytest.mark.parametrize("version", ["1.0", "2.0"])
@pytest.mark.parametrize("compression", ["none", "snappy", "gzip", "zstd"])
def test_parquet_meta_matches_pyarrow(compression, version):
    """The one footer parse against pyarrow's own reading of the same
    metadata, chunk by chunk: row counts, path, codec, value count, page
    offsets, Statistics min/max and the page-index pointers, across
    row-group sizes, dictionary on/off and page index on/off."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_meta
    from dynamic_spark_spark.llmops.parquet_raw import _decode_stat

    n = 1000
    table = pa.table({
        "i": pa.array([None if i % 7 == 0 else i * 3 - 500
                       for i in range(n)], pa.int64()),
        "d": pa.array([i / 8 for i in range(n)], pa.float64()),
        "s": pa.array([f"s{i % 37}" for i in range(n)]),
    })
    for rg_size in (n, 300, 64):
        for use_dict in (True, False):
            for page_index in (True, False):
                case = (rg_size, use_dict, page_index)
                buf = io.BytesIO()
                pq.write_table(table, buf, row_group_size=rg_size,
                               use_dictionary=use_dict,
                               compression=compression,
                               data_page_version=version,
                               write_page_index=page_index)
                raw = buf.getvalue()
                meta = parse_parquet_meta(raw)
                md = pq.read_metadata(io.BytesIO(raw))
                assert meta.num_rows == md.num_rows, case
                assert meta.row_group_rows == [
                    md.row_group(r).num_rows
                    for r in range(md.num_row_groups)
                ], case
                want = [md.row_group(r).column(c)
                        for r in range(md.num_row_groups)
                        for c in range(md.num_columns)]
                assert len(meta.chunks) == len(want), case
                for ch, col in zip(meta.chunks, want):
                    assert ch.path == col.path_in_schema, case
                    assert _PARQUET_CODEC_NAMES[ch.codec] == \
                        col.compression, case
                    assert ch.num_values == col.num_values, case
                    assert ch.data_off == col.data_page_offset, case
                    assert ch.dict_off == col.dictionary_page_offset, case
                    typ = meta.schema[ch.path].typ
                    stats = col.statistics
                    assert stats is not None and stats.has_min_max, case
                    assert _decode_stat(typ, ch.stat_min) == \
                        stats.min_raw, case
                    assert _decode_stat(typ, ch.stat_max) == \
                        stats.max_raw, case
                    assert (ch.oi_off is not None) == \
                        col.has_offset_index, case
                    assert (ch.ci_off is not None) == \
                        col.has_column_index, case


def test_orc_meta_matches_pyarrow():
    """The one ORC tail parse against ``pyarrow.orc.ORCFile`` on the
    same files, under every codec the reader decodes."""
    import io

    import pyarrow as pa
    import pyarrow.orc as po

    from dynamic_spark_spark.llmops.orc_raw import (
        _orc_stripe_stats,
        parse_orc_meta,
    )

    names = {0: "UNCOMPRESSED", 1: "ZLIB", 2: "SNAPPY", 4: "LZ4",
             5: "ZSTD"}
    rng = np.random.default_rng(0)
    table = pa.table({"a": rng.integers(-2**40, 2**40, 20000),
                      "s": [f"v{i}" for i in rng.integers(0, 911, 20000)]})
    for compression in names.values():
        for stride in (1000, 10000):
            buf = io.BytesIO()
            po.write_table(table, buf, compression=compression,
                           stripe_size=4096, row_index_stride=stride)
            raw = buf.getvalue()
            meta = parse_orc_meta(raw)
            f = po.ORCFile(io.BytesIO(raw))
            case = (compression, stride)
            assert meta.num_rows == f.nrows, case
            assert len(meta.stripes) == f.nstripes > 1, case
            assert sum(st[4] for st in meta.stripes) == f.nrows, case
            assert names[meta.compression] == f.compression, case
            assert meta.stride == f.row_index_stride, case
            assert len(_orc_stripe_stats(raw, meta)) == \
                f.nstripe_statistics, case
            assert [t[2] for t in meta.types[:1]] == [["a", "s"]], case
            assert len(meta.file_stats) == len(meta.types), case


def test_row_map_never_drops_a_row():
    """The one per-row map (``fixtures.map_batches``): a row whose
    ``row_fn`` returns None or raises stops the map with an error naming
    the key and the row's doc_id, the cause chained; ``[]`` is a row
    with no output; fan-out keeps order; a 0-row batch gives an empty
    frame with the schema's columns."""
    import pandas as pd

    from dynamic_spark_spark.llmops.fixtures import (
        UndecodableInputError,
        map_batches,
        schema_columns,
    )

    assert schema_columns(
        "doc_id long, v array<double>, p decimal(10,2), m map<string,int>"
    ) == ["doc_id", "v", "p", "m"]
    cols = schema_columns("doc_id long, n long")
    batch = pd.DataFrame({"doc_id": [7, 8, 9], "text": ["a", "bb", "ccc"]})

    def run(row_fn, pdf=batch):
        return list(map_batches("k", cols, row_fn, iter([pdf])))

    (frame,) = run(lambda d, t: [(d, i) for i in range(len(t))])
    assert frame.values.tolist() == [[7, 0], [8, 0], [8, 1], [9, 0],
                                     [9, 1], [9, 2]]
    (frame,) = run(lambda d, t: [] if d == 8 else [(d, len(t))])
    assert frame.values.tolist() == [[7, 1], [9, 3]]
    (frame,) = run(lambda d, t: None, batch.iloc[:0])
    assert list(frame.columns) == cols and len(frame) == 0
    # a nullable long stays exact (no float64 NaN widening)
    big = (1 << 62) + 1
    (frame,) = run(lambda d, t: [(d, None if d == 7 else big)])
    assert frame["n"].tolist() == [None, big, big]

    with pytest.raises(UndecodableInputError, match=r"'k'.*doc_id 8 did not"):
        run(lambda d, t: None if d == 8 else [(d, 0)])

    def boom(d, t):
        if d == 9:
            raise KeyError("inner")
        return [(d, 0)]

    with pytest.raises(UndecodableInputError,
                       match=r"'k'.*doc_id 9.*inner") as err:
        run(boom)
    assert isinstance(err.value.__cause__, KeyError)
    # an input without doc_id is named by the row's position
    with pytest.raises(UndecodableInputError, match=r"row 1 of its batch"):
        run(lambda v: None if v == "b" else [],
            pd.DataFrame({"value": ["a", "b"]}))


def test_archive_keys_refuse_a_short_walk(monkeypatch):
    """The archive walkers skip a member they refuse and never raise, so
    each archive key checks its walk against the members its own writer
    put in: a walk that comes back short stops the key, naming it and
    the doc_id."""
    from functools import partial

    import pandas as pd

    from dynamic_spark_spark.llmops import containers as c
    from dynamic_spark_spark.llmops.fixtures import (
        UndecodableInputError,
        map_batches,
    )

    def tar_keys():
        return [(getattr(c, f"{k}_member_walk"),
                 getattr(c, f"{k}_archive_bytes"))
                for k in ("tar", "tgz", "tbz", "txz", "tzst")]

    for archive in (c.zip_archive_bytes, c.zip64_archive_bytes):
        assert len(c._zip_rows(archive, 5, "hello")) == 3
    for walk, archive in tar_keys():
        assert len(c._tar_rows(walk, archive, 5, "hello")) == 3
    assert len(c._longname_rows(5, "hello")) == 2
    assert len(c._xlsx_rows(5, "hello")) == 4

    # the last member skipped: a zip's half.txt, an xlsx's worksheet
    real_zip, real_tar = c.zip_member_walk, c.tar_member_walk
    monkeypatch.setattr(c, "zip_member_walk", lambda raw: real_zip(raw)[:-1])
    monkeypatch.setattr(c, "tar_member_walk",
                        lambda raw, cap=None: real_tar(raw)[:-1])
    for archive in (c.zip_archive_bytes, c.zip64_archive_bytes):
        assert c._zip_rows(archive, 5, "hello") is None
    for walk, archive in tar_keys():
        assert c._tar_rows(walk, archive, 5, "hello") is None
    assert c._longname_rows(5, "hello") is None
    assert c._xlsx_rows(5, "hello") is None
    batch = pd.DataFrame({"doc_id": [4, 5], "text": ["hi", "hello"]})
    with pytest.raises(UndecodableInputError,
                       match=r"'scan_zip_members'.*doc_id 4"):
        list(map_batches("scan_zip_members", ["doc_id"],
                         partial(c._zip_rows, c.zip_archive_bytes),
                         iter([batch])))


def test_crawl_keys_refuse_an_undecodable_row(monkeypatch):
    """The WARC/HTTP keys used to skip a capture whose gzip member,
    HTTP payload or charset did not decode, and the gzip WARC keys kept
    the members before a truncated or over-cap one; now the row function
    returns None (or the batch body raises) and the key stops."""
    import pandas as pd

    from dynamic_spark_spark.llmops import html
    from dynamic_spark_spark.llmops.fixtures import UndecodableInputError

    batch = pd.DataFrame({"doc_id": [3, 4, 5], "text": ["a b", "", "c"]})
    assert len(html._warc_gzip_rows(4, "hello")) == 3
    assert html._crawl_wet_row(4, "hello")[0][2] is not None
    for d in range(10):
        assert len(html._charset_rows(d, "héllo", "hllo")) == 1
    (frame,) = html._http_payload_batches(iter([batch]))
    assert frame["text"].tolist() == ["a b", "", "c"]

    real_gzip = html.gzip_member_walk
    monkeypatch.setattr(html, "gzip_member_walk",
                        lambda raw: [b"\xff\xfe"] + real_gzip(raw)[1:])
    assert html._warc_gzip_rows(4, "hello") is None
    monkeypatch.setattr(html, "gzip_member_walk",
                        lambda raw: real_gzip(raw)[:-1])
    assert html._warc_gzip_rows(4, "hello") is None
    assert html._crawl_wet_row(4, "hello") is None
    monkeypatch.setattr(html, "http_charset_decode", lambda body, ct: None)
    assert html._charset_rows(0, "hello", "hello") is None
    monkeypatch.setattr(html, "http_payload_decode", lambda raw: None)
    assert html._charset_rows(0, "hello", "hello") is None
    with pytest.raises(UndecodableInputError,
                       match=r"'scan_warc_http_payloads'.*doc_id 3"):
        list(html._http_payload_batches(iter([batch])))


def test_batch_round_trips_refuse_a_short_walk(monkeypatch):
    """The four keys that encode a whole Arrow batch into one stream and
    walk it back (avro, protobuf, TFRecord, zstd text) raise when the
    walk returns fewer rows than the batch wrote: a walker that stops at
    bad framing returns what it decoded so far, and a zstd shard that
    does not decode used to give an empty frame for the whole batch."""
    import pandas as pd

    from dynamic_spark_spark.llmops import avro_ocf, protowire, tfrecord, zstd
    from dynamic_spark_spark.llmops.fixtures import UndecodableInputError

    batch = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", "bb", "c"]})
    cases = [
        (avro_ocf, "avro_ocf_walk", avro_ocf._avro_batches,
         "scan_avro_records"),
        (protowire, "proto_stream_walk", protowire._proto_batches,
         "scan_protobuf_stream"),
        (tfrecord, "tfrecord_walk", tfrecord._tfrecord_batches,
         "scan_tfrecord"),
    ]
    for mod, walker, body, key in cases:
        (frame,) = body(iter([batch]))
        assert frame["doc_id"].tolist() == [1, 2, 3], key
        real = getattr(mod, walker)
        monkeypatch.setattr(mod, walker,
                            lambda raw, _real=real: _real(raw)[:-1])
        with pytest.raises(UndecodableInputError,
                           match=rf"'{key}'.*3 rows from doc_id 1.*to 2 rows"):
            list(body(iter([batch])))

    (frame,) = zstd._zst_batches(iter([batch]))
    assert frame.values.tolist() == [[1, "a"], [2, "bb"], [3, "c"]]
    # characters str.splitlines() breaks at, besides "\n" and "\r"
    odd = pd.DataFrame({"doc_id": [1, 2, 3], "text": [
        "a\x0bb\x0cc", "\x1c\x1d\x1e", "d\x85e\u2028f\u2029"]})
    (frame,) = zstd._zst_batches(iter([odd]))
    assert frame.values.tolist() == odd.values.tolist()
    monkeypatch.setattr(zstd, "zstd_decompress_concat", lambda raw: None)
    with pytest.raises(UndecodableInputError,
                       match=r"'scan_text_zst'.*to 0 rows"):
        list(zstd._zst_batches(iter([batch])))

def test_lz4_block_roundtrip_and_degrades():
    import os
    import time

    from dynamic_spark_spark.llmops.lz4_hadoop import (
        hadoop_lz4_compress,
        hadoop_lz4_decompress,
        lz4_block_compress,
        lz4_block_decompress,
    )

    cases = [
        b"",
        b"a",
        b"abcd" * 100,
        b"the quick brown fox " * 500,
        os.urandom(1000),          # incompressible: all literals
        bytes(range(256)) * 300,
        b"aaaaaaaaaaaaaaaaaaaaaaaa",  # overlap-copy (offset 1) path
    ]
    for data in cases:
        comp = lz4_block_compress(data)
        assert lz4_block_decompress(comp, len(data) + 1) == data
        assert hadoop_lz4_decompress(hadoop_lz4_compress(data)) == data
    big = b"repetitive content block " * 20000  # > 256 KiB: multi-block
    assert hadoop_lz4_decompress(hadoop_lz4_compress(big)) == big

    frame = hadoop_lz4_compress(b"payload " * 50)
    assert hadoop_lz4_decompress(b"") == b""
    assert hadoop_lz4_decompress(None) is None
    t0 = time.monotonic()
    for cut in range(1, len(frame), 7):
        hadoop_lz4_decompress(frame[:cut])  # must not raise
    for pos in range(0, len(frame), 3):
        mutated = bytearray(frame)
        mutated[pos] ^= 0xFF
        hadoop_lz4_decompress(bytes(mutated))  # must not raise
    assert time.monotonic() - t0 < 10.0

    # zero offset is invalid LZ4 — must refuse, not loop
    bad_block = bytes([0x10]) + b"A" + b"\x00\x00" + bytes([0x50])
    assert lz4_block_decompress(bad_block, 1 << 20) is None

    # declared-rawlen bomb is refused before allocation
    import struct as _s

    bomb = _s.pack(">I", 1 << 31) + _s.pack(">I", 4) + b"\x00\x00\x00\x00"
    t0 = time.monotonic()
    assert hadoop_lz4_decompress(bomb) is None
    assert time.monotonic() - t0 < 0.5


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_lz4_random_roundtrip(data):
    """Property sweep: compress→decompress is the identity on arbitrary
    bytes (the JVM interop is proven by the two driver keys; this pins
    the pair on inputs the corpus never produces)."""
    from dynamic_spark_spark.llmops.lz4_hadoop import (
        lz4_block_compress,
        lz4_block_decompress,
    )

    assert lz4_block_decompress(lz4_block_compress(data), len(data) + 1) == data


def test_parquet_raw_column_matches_pyarrow():
    """The full bytes-level data read (thrift -> pages -> snappy -> RLE
    def levels -> PLAIN) must recover exactly what pyarrow wrote, across
    codecs, row-group geometries, and null patterns."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_int64_column,
    )

    for codec in ("snappy", "NONE"):
        for n, rg in [(100, 100), (1000, 64), (1, 1)]:
            buf = io.BytesIO()
            pq.write_table(
                pa.table({"doc_id": list(range(n))}),
                buf,
                compression=codec,
                use_dictionary=False,
                row_group_size=rg,
            )
            got = read_parquet_int64_column(buf.getvalue(), "doc_id")
            assert got == list(range(n)), (codec, n, rg)

    # nulls: definition levels 0 drop out, non-null values survive
    vals = [i if i % 3 else None for i in range(200)]
    buf = io.BytesIO()
    pq.write_table(
        pa.table({"doc_id": pa.array(vals, type=pa.int64())}),
        buf,
        compression="snappy",
        use_dictionary=False,
    )
    got = read_parquet_int64_column(buf.getvalue(), "doc_id")
    assert got == [v for v in vals if v is not None]

    # dictionary-encoded chunks are REFUSED, not misread
    buf = io.BytesIO()
    pq.write_table(
        pa.table({"doc_id": [7] * 500}), buf,
        compression="snappy", use_dictionary=True,
    )
    assert read_parquet_int64_column(buf.getvalue(), "doc_id") is None

    # unknown column name: schema-aware refusal (None), not a crash
    # and not a silently-empty list (r11: the reader now reads the
    # schema tree, so a missing column is distinguishable from an
    # empty one)
    buf = io.BytesIO()
    pq.write_table(
        pa.table({"doc_id": [1, 2]}), buf, use_dictionary=False
    )
    assert read_parquet_int64_column(buf.getvalue(), "nope") is None


def test_snappy_decompress_contract():
    import time

    from dynamic_spark_spark.llmops.parquet_raw import snappy_decompress

    # literals-only stream built by hand: varint len 5, literal tag
    hand = bytes([5, (4 << 2) | 0]) + b"hello"
    assert snappy_decompress(hand) == b"hello"
    # copy stream: "ababab" = literal "ab" + copy(offset 2, len 4)
    hand2 = bytes([6, (1 << 2) | 0]) + b"ab" + bytes([(4 - 4) << 2 | 1 | (0 << 5), 2])
    assert snappy_decompress(hand2) == b"ababab"

    assert snappy_decompress(b"") is None
    assert snappy_decompress(bytes([255, 255, 255, 255, 255, 255])) is None
    # declared-length bomb refused before allocation
    t0 = time.monotonic()
    assert snappy_decompress(bytes([0xFF, 0xFF, 0xFF, 0xFF, 0x0F]) + b"x") is None
    assert time.monotonic() - t0 < 0.5
    # truncation/mutation sweep over a real stream (from the pyarrow key
    # path we only see valid streams; here every prefix must degrade)
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(
        pa.table({"doc_id": list(range(500))}), buf,
        compression="snappy", use_dictionary=False,
    )
    raw = buf.getvalue()
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_int64_column,
    )

    t0 = time.monotonic()
    for cut in range(1, len(raw), 101):
        read_parquet_int64_column(raw[:cut], "doc_id")  # must not raise
    for pos in range(0, len(raw), 37):
        m = bytearray(raw)
        m[pos] ^= 0xFF
        read_parquet_int64_column(bytes(m), "doc_id")  # must not raise
    assert time.monotonic() - t0 < 15.0

    # the runtime path (libsnappy in codecs.decompress) gives the pure
    # reference's answer on every prefix and byte mutation of the file's
    # own page stream: the same bytes, or None from both
    from dynamic_spark_spark.llmops.codecs import decompress
    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_meta
    from dynamic_spark_spark.llmops.parquet_raw import (
        PAGE_CAP,
        _parse_page_header,
    )
    from dynamic_spark_spark.llmops.protowire import _uvarint_enc

    def same(stream, size=None, cap=PAGE_CAP):
        want = snappy_decompress(stream, cap)
        if size is not None and want is not None and len(want) != size:
            want = None
        assert decompress("snappy", stream, size, cap) == want, stream[:8]
        return want

    (chunk,) = parse_parquet_meta(raw).chunks
    pg = _parse_page_header(raw, chunk.first_page)
    stream = raw[pg.body : pg.body + pg.comp]
    page = same(stream, pg.uncomp)
    assert page is not None and len(page) == pg.uncomp
    for hand_made in (hand, hand2, b"", bytes([255] * 6),
                      b"\xff\xff\xff\xff\x0fx"):
        same(hand_made)
    t0 = time.monotonic()
    for cut in range(len(stream)):
        same(stream[:cut])
        same(stream[:cut], pg.uncomp)
    for pos in range(len(stream)):
        for flip in (0x01, 0x80, 0xFF):
            m = bytearray(stream)
            m[pos] ^= flip
            same(bytes(m))
            same(bytes(m), pg.uncomp)
    assert time.monotonic() - t0 < 15.0
    # a preamble 1 larger than the tags produce
    assert same(bytes([6]) + hand[1:]) is None
    preamble = len(_uvarint_enc(pg.uncomp))
    assert same(_uvarint_enc(pg.uncomp + 1) + stream[preamble:]) is None
    # a page header whose uncompressed_page_size is 1 more than the
    # stream's preamble: pyarrow asked for that size pads the output
    # instead of failing, so the size must be refused before the call
    assert same(stream, pg.uncomp + 1) is None
    # output past the cap
    assert same(stream, None, pg.uncomp - 1) is None
    # the empty stream
    assert decompress("snappy", b"\x00", 0, PAGE_CAP) == b""
    assert same(b"\x00", 0) == b""


def _data_page(compression: str = "gzip"):
    """A one-column int64 parquet file → ``(raw, page, optional, values)``
    for its single data page."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_meta
    from dynamic_spark_spark.llmops.parquet_raw import _parse_page_header

    values = list(range(0, 3000, 3))
    buf = io.BytesIO()
    pq.write_table(pa.table({"doc_id": values}), buf,
                   compression=compression, use_dictionary=False)
    raw = buf.getvalue()
    meta = parse_parquet_meta(raw)
    (chunk,) = meta.chunks
    return raw, _parse_page_header(raw, chunk.first_page), \
        meta.schema["doc_id"].optional, values


def test_parquet_gzip_page_refuses_a_cut_trailer():
    """A GZIP page whose 8-byte CRC-32/ISIZE trailer is cut by 1-8 bytes
    still inflates to the full page; it is refused, so the member's
    checksum is always checked."""
    from dynamic_spark_spark.llmops.parquet_raw import _T_INT64, _page_values

    raw, pg, optional, values = _data_page()
    assert _page_values(pg, raw, 2, _T_INT64, optional, None).tolist() == values
    comp = pg.comp
    for cut in range(1, 9):
        pg.comp = comp - cut
        assert _page_values(pg, raw, 2, _T_INT64, optional, None) is None, cut


@pytest.mark.parametrize("compression", ["gzip", "zstd", "snappy", "lz4"])
def test_parquet_page_refuses_trailing_junk(compression):
    """Bytes after the compressed stream inside the page body (after the
    gzip member, the zstd frame, the snappy or lz4 block) are refused,
    not left unread."""
    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_meta
    from dynamic_spark_spark.llmops.parquet_raw import _T_INT64, _page_values

    raw, pg, optional, values = _data_page(compression)
    codec = parse_parquet_meta(raw).chunks[0].codec
    assert _page_values(pg, raw, codec, _T_INT64, optional,
                        None).tolist() == values
    end = pg.body + pg.comp
    for junk in (b"\x00", b"junk", bytes(9)):
        pg.comp = end - pg.body + len(junk)
        got = _page_values(pg, raw[:end] + junk, codec, _T_INT64, optional,
                           None)
        assert got is None, junk


def test_orc_zlib_chunk_refuses_a_cut_stream():
    """An ORC ZLIB chunk (raw DEFLATE) cut in half inflates to a prefix
    of the stream without error; it is refused, like junk after the
    stream's end."""
    from dynamic_spark_spark.llmops.orc_raw import _orc_stream_bytes

    payload = b"".join(b"row %d of the stream\n" % i for i in range(2000))
    c = zlib.compressobj(wbits=-15)
    chunk = c.compress(payload) + c.flush()

    def framed(ch: bytes) -> bytes:
        return (len(ch) << 1).to_bytes(3, "little") + ch

    assert _orc_stream_bytes(framed(chunk), 1) == payload
    assert _orc_stream_bytes(framed(chunk[: len(chunk) // 2]), 1) is None
    assert _orc_stream_bytes(framed(chunk[:-1]), 1) is None
    assert _orc_stream_bytes(framed(chunk + b"\x00"), 1) is None


def test_parquet_dict_tier_matches_pyarrow():
    """The dictionary tier (dict page -> bit-width byte -> RLE indices
    -> gather) must recover pyarrow-written dictionary columns exactly,
    and fall back to PLAIN chunks transparently."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_footer_minmax,
        read_parquet_int64_column_dict,
    )

    vals = [i % 50 for i in range(1000)]
    for codec in ("snappy", "NONE"):
        buf = io.BytesIO()
        pq.write_table(
            pa.table({"doc_id": vals}), buf,
            compression=codec, use_dictionary=True, row_group_size=256,
        )
        raw = buf.getvalue()
        assert read_parquet_int64_column_dict(raw, "doc_id") == vals, codec
        assert read_parquet_footer_minmax(raw, "doc_id") == (0, 49), codec

    # PLAIN files read through the same entry point
    buf = io.BytesIO()
    pq.write_table(pa.table({"doc_id": list(range(77))}), buf, use_dictionary=False)
    assert read_parquet_int64_column_dict(buf.getvalue(), "doc_id") == list(range(77))

    # nulls through the dictionary path
    nv = [i % 9 if i % 4 else None for i in range(500)]
    buf = io.BytesIO()
    pq.write_table(
        pa.table({"doc_id": pa.array(nv, type=pa.int64())}), buf,
        compression="snappy", use_dictionary=True,
    )
    assert read_parquet_int64_column_dict(buf.getvalue(), "doc_id") == [
        v for v in nv if v is not None
    ]

    # degrade: truncation/mutation never raises
    import time

    t0 = time.monotonic()
    for cut in range(1, len(raw), 97):
        read_parquet_int64_column_dict(raw[:cut], "doc_id")
    for pos in range(0, len(raw), 41):
        m = bytearray(raw)
        m[pos] ^= 0xFF
        read_parquet_int64_column_dict(bytes(m), "doc_id")
    assert time.monotonic() - t0 < 15.0


def test_tzst_member_walk_contract():
    import time

    from dynamic_spark_spark.llmops.containers import (
        tzst_archive_bytes,
        tzst_member_walk,
    )

    raw = tzst_archive_bytes(8, "zstd-compressed tar payload")
    members = tzst_member_walk(raw)
    assert [m[0] for m in members] == [
        "doc_8/text.txt", "doc_8/meta.json", "doc_8/half.txt",
    ]
    assert all(m[3] for m in members)
    assert tzst_member_walk(b"") == []
    assert tzst_member_walk(None) == []
    t0 = time.monotonic()
    for cut in range(1, len(raw), 17):
        tzst_member_walk(raw[:cut])  # must not raise
    assert time.monotonic() - t0 < 5.0


def test_orc_tail_parse_contract():
    """The generic protobuf walk must read a pyarrow-written ORC tail
    (an independent writer) under every codec — the footer is
    chunk-framed unless compression is NONE — and degrade on
    truncation/mutation."""
    import io
    import time

    import pyarrow as pa

    from dynamic_spark_spark.llmops.orc_raw import parse_orc_tail

    try:
        from pyarrow import orc as pa_orc
    except ImportError:
        import pytest as _pytest

        _pytest.skip("pyarrow.orc unavailable")
    table = pa.table({"a": list(range(777))})
    for compression in ("UNCOMPRESSED", "ZLIB", "SNAPPY", "ZSTD", "LZ4"):
        buf = io.BytesIO()
        pa_orc.write_table(table, buf, compression=compression)
        raw = buf.getvalue()
        parsed = parse_orc_tail(raw)
        assert parsed is not None, compression
        nrows, stripes = parsed
        assert nrows == 777 and sum(stripes) == 777, compression

        t0 = time.monotonic()
        for cut in range(1, len(raw), 53):
            parse_orc_tail(raw[:cut])  # must not raise
        for pos in range(max(0, len(raw) - 300), len(raw), 3):
            m = bytearray(raw)
            m[pos] ^= 0xFF
            parse_orc_tail(bytes(m))  # must not raise
        assert time.monotonic() - t0 < 10.0, compression

    assert parse_orc_tail(b"") is None
    assert parse_orc_tail(None) is None


def test_parquet_binary_column_matches_pyarrow():
    """The BYTE_ARRAY tier must recover pyarrow-written string columns
    exactly — PLAIN and dictionary forms, with and without nulls."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_binary_column,
    )

    vals = [f"string value {i % 40}" for i in range(800)]
    for use_dict in (True, False):
        for codec in ("snappy", "NONE"):
            buf = io.BytesIO()
            pq.write_table(
                pa.table({"t": vals}), buf,
                compression=codec, use_dictionary=use_dict,
                row_group_size=300,
            )
            got = read_parquet_binary_column(buf.getvalue(), "t")
            assert got == [v.encode() for v in vals], (use_dict, codec)

    nv = [f"v{i}" if i % 3 else None for i in range(200)]
    buf = io.BytesIO()
    pq.write_table(
        pa.table({"t": pa.array(nv, type=pa.string())}), buf,
        compression="snappy", use_dictionary=False,
    )
    got = read_parquet_binary_column(buf.getvalue(), "t")
    assert got == [v.encode() for v in nv if v is not None]


def test_parquet_raw_type_lattice_matches_pyarrow():
    """The general reader across the physical type lattice against
    pyarrow-written files: BOOLEAN/INT32/INT64/FLOAT/DOUBLE/BYTE_ARRAY,
    dictionary on AND off, snappy AND uncompressed, v1 AND v2 data
    pages, OPTIONAL (with real nulls) and REQUIRED repetition — the r10
    ADVICE defect was REQUIRED pages misparsed as if a def-levels block
    existed; now the schema tree routes them."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column

    cols = {
        "b": (pa.bool_(), [True, False, None, True, False] * 10),
        "i32": (pa.int32(), [1, -2, None, 2**31 - 1, -(2**31)] * 10),
        "i64": (pa.int64(), [0, None, 2**63 - 1, -(2**63), 7] * 10),
        "f32": (pa.float32(), [0.5, -1.25, None, 3.5e8, -0.0] * 10),
        "f64": (pa.float64(), [1e-300, None, -2.5, 6.02e23, 0.125] * 10),
        "s": (pa.binary(), [b"alpha", None, b"", b"\x00\xff", b"zz"] * 10),
    }
    for use_dict in (True, False):
        for compression in ("snappy", "none"):
            for version in ("1.0", "2.0"):
                for required in (False, True):
                    fields, arrays = [], []
                    for name, (typ, vals) in cols.items():
                        v = vals
                        if required:
                            v = [x for x in vals if x is not None]
                        fields.append(pa.field(name, typ, nullable=not required))
                        arrays.append(pa.array(v, type=typ))
                    table = pa.table(
                        dict(zip(cols, arrays)), schema=pa.schema(fields)
                    )
                    buf = io.BytesIO()
                    pq.write_table(
                        table, buf, use_dictionary=use_dict,
                        compression=compression,
                        data_page_version=version,
                        write_statistics=True,
                    )
                    raw = buf.getvalue()
                    label = (use_dict, compression, version, required)
                    for name, (typ, vals) in cols.items():
                        want = [x for x in vals if x is not None]
                        got = read_parquet_column(raw, name)
                        assert got is not None, (name, label)
                        if typ == pa.float32():
                            import struct as _s

                            want = [
                                _s.unpack("<f", _s.pack("<f", x))[0]
                                for x in want
                            ]
                        assert got == want, (name, label)


def test_parquet_raw_stats_typed():
    """Footer Statistics decoded per the schema's physical type — the
    audit extends past int64 to int32/float/double/byte-array."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_footer_minmax,
    )

    table = pa.table({
        "i32": pa.array([5, -3, 9, 0], type=pa.int32()),
        "i64": pa.array([10, -20, 30, 0], type=pa.int64()),
        "f32": pa.array([1.5, -2.5, 0.5, 3.5], type=pa.float32()),
        "f64": pa.array([1e10, -1e10, 0.0, 2.0], type=pa.float64()),
        "s": pa.array([b"mango", b"apple", b"pear", b"fig"]),
    })
    buf = io.BytesIO()
    pq.write_table(table, buf, write_statistics=True)
    raw = buf.getvalue()
    assert read_parquet_footer_minmax(raw, "i32") == (-3, 9)
    assert read_parquet_footer_minmax(raw, "i64") == (-20, 30)
    assert read_parquet_footer_minmax(raw, "f32") == (-2.5, 3.5)
    assert read_parquet_footer_minmax(raw, "f64") == (-1e10, 1e10)
    assert read_parquet_footer_minmax(raw, "s") == (b"apple", b"pear")


def test_parquet_minmax_refuses_a_chunk_without_stats():
    """A row group whose Statistics carry no usable min/max refuses the
    file instead of narrowing the range to the other row groups, and
    ``scan_parquet_raw_dict``'s scan stops on it; an all-null chunk,
    which has no min/max to give, is skipped."""
    import io
    import struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops import parquet_raw as pr
    from dynamic_spark_spark.llmops.fixtures import (
        UndecodableInputError,
        decode_batches,
    )
    from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_meta

    def two_row_groups(values) -> bytes:
        buf = io.BytesIO()
        pq.write_table(pa.table({"doc_id": pa.array(values, pa.int64())}),
                       buf, row_group_size=2)
        return buf.getvalue()

    raw = two_row_groups([5, 6, 7, 1_234_567])
    assert pr.read_parquet_footer_minmax(raw, "doc_id") == (5, 1_234_567)
    # In the second chunk's Statistics, turn the max_value header (field 5,
    # compact delta 2 → 0x28) into field 4: max_value is then skipped and
    # min_value is read as the max, so the chunk has no min.
    (flen,) = struct.unpack("<I", raw[-8:-4])
    at = raw.rindex(b"\x28\x08" + struct.pack("<q", 1_234_567))
    assert at > len(raw) - 8 - flen
    raw = raw[:at] + b"\x18" + raw[at + 1:]
    chunks = parse_parquet_meta(raw).chunks
    assert chunks[0].stat_min is not None and chunks[1].stat_min is None
    assert pr.read_parquet_footer_minmax(raw, "doc_id") is None
    with pytest.raises(UndecodableInputError, match="'rawdict'.*part-0"):
        list(decode_batches("rawdict", pr._decode_raw_dict, False,
                            _one_file_batch("file:/d/part-0.parquet", raw)))

    raw = two_row_groups([None, None, 3, 4])
    assert parse_parquet_meta(raw).chunks[0].stat_nulls == 2
    assert pr.read_parquet_footer_minmax(raw, "doc_id") == (3, 4)


def test_parquet_raw_nested_and_repeated_refused():
    """Nested and repeated paths are refused explicitly (None), never
    misparsed — rep-levels blocks are out of the flat readers' scope."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_column,
        read_parquet_int64_column,
    )

    table = pa.table({
        "lst": pa.array([[1, 2], [3], []], type=pa.list_(pa.int64())),
        "st": pa.array(
            [{"a": 1}, {"a": 2}, {"a": None}],
            type=pa.struct([("a", pa.int64())]),
        ),
        "flat": pa.array([7, 8, 9], type=pa.int64()),
    })
    buf = io.BytesIO()
    pq.write_table(table, buf)
    raw = buf.getvalue()
    assert read_parquet_column(raw, "lst.list.element") is None
    assert read_parquet_column(raw, "st.a") is None
    assert read_parquet_int64_column(raw, "st.a") is None
    assert read_parquet_column(raw, "flat") == [7, 8, 9]


def test_zip64_extra_field_layouts():
    """APPNOTE tolerates two ZIP64 extra layouts: the tight form
    (values for sentinel fields only) and the permissive full record
    (all three 8-byte fields, optionally + 4-byte disk) that many
    writers emit regardless of which fields overflowed. The r10 ADVICE
    defect: the full form read tight consumed uncomp_len as comp_len."""
    import struct as _s

    from dynamic_spark_spark.llmops.containers import _zip64_extra

    def extra(payload):
        return _s.pack("<HH", 0x0001, len(payload)) + payload

    # tight form: only the sentinel field's value stored
    assert _zip64_extra(extra(_s.pack("<Q", 5_000_000_000)),
                        [True, False, False]) == [5_000_000_000]
    assert _zip64_extra(extra(_s.pack("<QQ", 7, 9)),
                        [True, False, True]) == [7, 9]
    # full 24-byte record with ONE sentinel: positional indexing must
    # pick the right slot (local_off = third value)
    full = _s.pack("<QQQ", 111, 222, 333)
    assert _zip64_extra(extra(full), [False, False, True]) == [333]
    assert _zip64_extra(extra(full), [False, True, False]) == [222]
    # full 28-byte record (with disk number), two sentinels
    full28 = full + _s.pack("<I", 0)
    assert _zip64_extra(extra(full28), [True, False, True]) == [111, 333]
    # genuinely short data: refuse
    assert _zip64_extra(extra(_s.pack("<Q", 1)), [True, True, False]) is None
    # ambiguous layout (neither tight nor full): refuse
    assert _zip64_extra(extra(b"\x00" * 17), [True, False, False]) is None
    # other extra ids are skipped on the way to 0x0001
    skip = _s.pack("<HH", 0x7075, 3) + b"abc" + extra(full)
    assert _zip64_extra(skip, [True, False, False]) == [111]


def test_parquet_delta_encodings_match_pyarrow():
    """The DELTA family (parquet encodings.md) — what v2 writers emit:
    DELTA_BINARY_PACKED for ints (arithmetic wraps at the column's
    physical width: 32 for INT32, 64 for INT64), DELTA_LENGTH_BYTE_ARRAY
    and DELTA_BYTE_ARRAY (front coding) for strings — on both page
    versions, with and without nulls."""
    import io
    import random as _r

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column

    rng = _r.Random(9)

    def roundtrip(name, arr, enc, ver):
        buf = io.BytesIO()
        pq.write_table(
            pa.table({name: arr}), buf, use_dictionary=False,
            data_page_version=ver, column_encoding={name: enc},
        )
        return read_parquet_column(buf.getvalue(), name)

    int_cases = [
        (pa.int64(), list(range(100000))),                       # monotonic
        (pa.int64(), [rng.randint(-2**62, 2**62) for _ in range(20000)]),
        (pa.int32(), [rng.randint(-2**31, 2**31 - 1) for _ in range(20000)]),
        (pa.int64(), [5]),                                        # single
        (pa.int64(), [5, -7]),
        (pa.int64(), [v if v % 5 else None for v in range(10000)]),  # nulls
    ]
    for typ, vals in int_cases:
        want = [v for v in vals if v is not None]
        for ver in ("1.0", "2.0"):
            got = roundtrip("x", pa.array(vals, type=typ), "DELTA_BINARY_PACKED", ver)
            assert got == want, (typ, ver)

    strs = [f"common_prefix_shared/{i // 10}/doc_{i}.txt" for i in range(20000)]
    strs += ["", "x", "completely different"]
    want_b = [s.encode() for s in strs]
    for enc in ("DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY"):
        for ver in ("1.0", "2.0"):
            got = roundtrip("s", pa.array(strs), enc, ver)
            assert got == want_b, (enc, ver)

    # DELTA_BYTE_ARRAY over FIXED_LEN_BYTE_ARRAY (r13 — encodings.md
    # supports FLBA too; decimal128 cells are the common carrier): the
    # front-coded cells come back as fixed-width big-endian
    # two's-complement buffers (tlen = 5 for precision 10), same as
    # the PLAIN path yields
    import decimal

    decs = [decimal.Decimal("12.34") + i for i in range(5000)]
    decs += [decimal.Decimal("-99999999.99"), decimal.Decimal("0.01")]
    for ver in ("1.0", "2.0"):
        got = roundtrip(
            "d", pa.array(decs, type=pa.decimal128(10, 2)),
            "DELTA_BYTE_ARRAY", ver,
        )
        assert got is not None and len(got) == len(decs), ver
        widths = {len(v) for v in got}
        assert len(widths) == 1 and isinstance(got[0], bytes), widths
        want_dec = [
            int.from_bytes(v, "big", signed=True) for v in got
        ]
        assert want_dec == [int(d * 100) for d in decs], ver


def test_parquet_delta_decoders_never_raise():
    from dynamic_spark_spark.llmops.parquet_raw import (
        _delta_binary_packed,
        _delta_byte_array,
        _delta_length_byte_array,
    )

    import random as _r

    rng = _r.Random(21)
    for _ in range(400):
        blob = rng.randbytes(rng.randint(0, 80))
        for fn in (_delta_binary_packed, _delta_length_byte_array,
                   _delta_byte_array):
            out = fn(blob, 0)
            assert out is None or isinstance(out, tuple)


def test_parquet_flba_decimal_matches_pyarrow():
    """FIXED_LEN_BYTE_ARRAY (decimal128 physical storage): the schema's
    type_length sizes the cells; values surface as the raw big-endian
    two's-complement unscaled bytes — dictionary on/off, snappy and
    zstd pages."""
    import decimal
    import io as _io
    import random as _r

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column

    rng = _r.Random(12)
    dec = [
        decimal.Decimal(rng.randint(-10**20, 10**20)).scaleb(-3)
        for _ in range(5000)
    ] + [None, decimal.Decimal("0.001")]
    want = [
        int(x.scaleb(3)).to_bytes(11, "big", signed=True)
        for x in dec if x is not None
    ]
    for use_dict in (True, False):
        for comp in ("snappy", "zstd"):
            buf = _io.BytesIO()
            pq.write_table(
                pa.table({"d": pa.array(dec, type=pa.decimal128(25, 3))}),
                buf, use_dictionary=use_dict, compression=comp,
            )
            got = read_parquet_column(buf.getvalue(), "d")
            assert got == want, (use_dict, comp)


def test_parquet_delta_dense_streams_not_refused():
    """The DBP bomb guard anchors to the caller's expected count, never
    to a buffer-size ratio: a constant column at block size 4096
    legally encodes ~800 values per header byte and must decode (the
    review-found false refusal), while a header CLAIMING more values
    than the page holds refuses."""
    from dynamic_spark_spark.llmops.parquet_raw import _delta_binary_packed

    def _uleb_enc(v):
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | (0x80 if v else 0))
            if not v:
                return bytes(out)

    def _zz(v):
        return _uleb_enc((v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)

    total = 100_000
    stream = bytearray()
    stream += _uleb_enc(4096)   # block size
    stream += _uleb_enc(1)      # miniblocks per block
    stream += _uleb_enc(total)  # total values
    stream += _zz(42)           # first value
    for _ in range((total + 4095) // 4096):
        stream += _zz(0)        # min delta 0
        stream += bytes([0])    # miniblock width 0: all deltas zero
    got = _delta_binary_packed(bytes(stream), 0, expect=total)
    assert got is not None and got[0] == [42] * total
    # a lying header (claims more than the caller's page count) refuses
    assert _delta_binary_packed(bytes(stream), 0, expect=total - 1) is None


def test_parquet_byte_stream_split_matches_pyarrow():
    """BYTE_STREAM_SPLIT (encodings.md): byte-transposed fixed-width
    values — the FP-column encoding some writers enable for better
    compression — for FLOAT/DOUBLE/INT32 on both page versions and two
    codecs."""
    import io as _io
    import random as _r
    import struct as _s

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column

    rng = _r.Random(2)
    cases = [
        (pa.float64(), [rng.uniform(-1e12, 1e12) for _ in range(5000)]),
        (pa.float32(), [rng.uniform(-1e6, 1e6) for _ in range(5000)]),
        (pa.int32(), [rng.randint(-2**31, 2**31 - 1) for _ in range(5000)]),
    ]
    for typ, vals in cases:
        want = (
            [_s.unpack("<f", _s.pack("<f", v))[0] for v in vals]
            if typ == pa.float32() else vals
        )
        for ver in ("1.0", "2.0"):
            for comp in ("snappy", "zstd"):
                buf = _io.BytesIO()
                pq.write_table(
                    pa.table({"x": pa.array(vals, type=typ)}), buf,
                    use_dictionary=False, data_page_version=ver,
                    compression=comp,
                    column_encoding={"x": "BYTE_STREAM_SPLIT"},
                )
                got = read_parquet_column(buf.getvalue(), "x")
                assert got == want, (typ, ver, comp)
