"""Pixel-level pins for the pure-Python baseline JPEG codec (r5) — the
encoder/decoder pair in dynamic_spark_spark/llmops/jpeg.py that replaced
the last media-decode stub.

The central invariant: ``decode_jpeg_gray(encode_jpeg_gray(img))`` must
EXACTLY equal ``reconstruct_gray(img)`` — the encoder's own dequantized
IDCT reconstruction. JPEG is lossy, so "decoded == source" is the wrong
pin; "decoder mirrors the encoder's math bit-for-bit" is the right one,
and it catches any drift in Huffman tables, zigzag order, EXTEND,
dequantization, or the IDCT on either side. Reconstruction error vs the
source is separately bounded by the quantization step.
"""

from __future__ import annotations

import numpy as np
import pytest

from dynamic_spark_spark.llmops.jpeg import (
    DEFAULT_QTABLE,
    decode_jpeg_gray,
    encode_jpeg_gray,
    jpeg_gray_bytes,
    reconstruct_gray,
)


@pytest.mark.parametrize(
    "w,h",
    [(8, 8), (16, 8), (11, 7), (64, 48), (33, 29), (1, 1), (8, 40), (40, 8)],
)
def test_roundtrip_exact_vs_reconstruction(w, h):
    """Decoder output == encoder's dequantized reconstruction, pixel-exact,
    across block-aligned, padded, tall, wide, and degenerate shapes."""
    rng = np.random.RandomState(w * 100 + h)
    img = rng.randint(0, 256, size=(h, w))
    dec = decode_jpeg_gray(encode_jpeg_gray(img))
    assert dec is not None and dec.shape == (h, w)
    assert np.array_equal(dec, reconstruct_gray(img))


def test_reconstruction_error_bounded_by_quantization():
    """With the uniform q=8 table, per-coefficient error is ≤ q/2; the worst
    pixel error after the orthonormal IDCT is well under 4·q. Smooth and
    noisy content both stay inside the bound."""
    rng = np.random.RandomState(3)
    noisy = rng.randint(0, 256, size=(24, 24))
    yy, xx = np.mgrid[0:24, 0:24]
    smooth = ((yy * 5 + xx * 3) % 256).astype(np.int64)
    for img in (noisy, smooth):
        dec = decode_jpeg_gray(encode_jpeg_gray(img))
        err = np.max(np.abs(dec.astype(int) - img))
        assert err <= 4 * int(DEFAULT_QTABLE[0, 0])


def test_flat_image_lossless_and_tiny():
    """A constant block has one DC coefficient and 63 zero ACs: the decode
    is exact (DC survives uniform quantization of a multiple) and the
    entropy stream collapses to DC + EOB per block — run-length coding is
    actually doing its job."""
    img = np.full((32, 32), 128)
    payload = encode_jpeg_gray(img)
    assert np.array_equal(decode_jpeg_gray(payload), img)
    rand_len = len(encode_jpeg_gray(np.random.RandomState(0).randint(0, 256, (32, 32))))
    assert len(payload) < rand_len / 2  # EOB-compressed far below noise


def test_stream_structure_and_header_interop():
    """The emitted stream is a standards-correct segment walk: the existing
    SOF-marker header parser (written for the metadata tier, round 2)
    recovers mime and dimensions from the full codec's output."""
    from dynamic_spark_spark.llmops.multimodal import parse_image_header

    payload = jpeg_gray_bytes(24, 17, 5)
    assert parse_image_header(payload) == ("image/jpeg", 24, 17)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"


def test_tables_read_from_stream_not_assumed():
    """The decoder reconstructs Huffman tables from the DHT segments it
    reads; re-encoding with a different quantization table changes the
    stream but the decode still mirrors the matching reconstruction."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 16))
    coarse = np.full((8, 8), 32, dtype=np.int32)
    dec = decode_jpeg_gray(encode_jpeg_gray(img, qtable=coarse))
    assert np.array_equal(dec, reconstruct_gray(img, qtable=coarse))
    # coarser table → smaller stream (more zero coefficients)
    assert len(encode_jpeg_gray(img, qtable=coarse)) < len(encode_jpeg_gray(img))


def test_malformed_payloads_degrade_to_none():
    """100 TB contract: corrupt bytes return None, never raise."""
    good = jpeg_gray_bytes(16, 16, 1)
    for bad in (None, b"", b"\xff\xd8", b"not a jpeg", good[:20], good[:-10] + b"x" * 10):
        decode_jpeg_gray(bad)  # must not raise
    assert decode_jpeg_gray(b"not a jpeg") is None
    assert decode_jpeg_gray(good[:20]) is None


def test_deterministic_across_calls():
    """Encoder and decoder are pure: identical bytes and pixels across
    repeated calls (the partition-invariance precondition for the engine's
    hash-folded digests)."""
    a, b = jpeg_gray_bytes(13, 9, 42), jpeg_gray_bytes(13, 9, 42)
    assert a == b
    assert np.array_equal(decode_jpeg_gray(a), decode_jpeg_gray(b))


def test_marker_fill_bytes_are_transparent():
    """The standard allows any number of 0xFF fill bytes before a marker."""
    import struct

    base = jpeg_gray_bytes(16, 12, 7)
    px = decode_jpeg_gray(base)
    i = base.find(b"\xff\xc0")
    filled = base[:i] + b"\xff\xff\xff" + base[i:]
    assert np.array_equal(decode_jpeg_gray(filled), px)


def test_restart_interval_streams_decode_or_degrade():
    """DRI/RSTm support (r6 verdict stretch): a restart-encoded stream
    decodes bit-exactly; a DECLARED interval whose RSTm cadence the
    entropy data contradicts degrades to None (decoding it would shear
    every block after the first bad boundary); zero DRI is a legal no-op.
    The 12×16 base image has 4 blocks."""
    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray

    img = (7 * 31 + np.mgrid[0:12, 0:16][0] * 7 + np.mgrid[0:12, 0:16][1] * 3) % 256
    base = jpeg_gray_bytes(16, 12, 7)
    px = decode_jpeg_gray(base)
    # real restart streams: every interval decodes to the same pixels
    for ri in (1, 2, 3, 4, 9):
        assert np.array_equal(
            decode_jpeg_gray(encode_jpeg_gray(img, restart_interval=ri)), px
        )
    # DRI=4 injected into a restart-free 4-block stream: one interval
    # covers all blocks, so no RSTm markers are expected — consistent
    with_dri = base[:2] + b"\xff\xdd\x00\x04\x00\x04" + base[2:]
    assert np.array_equal(decode_jpeg_gray(with_dri), px)
    # DRI=2 would require an RSTm between blocks 1 and 2; its absence
    # means the stream lies about its layout — degrade, don't mis-decode
    with_dri2 = base[:2] + b"\xff\xdd\x00\x04\x00\x02" + base[2:]
    assert decode_jpeg_gray(with_dri2) is None
    with_dri0 = base[:2] + b"\xff\xdd\x00\x04\x00\x00" + base[2:]
    assert np.array_equal(decode_jpeg_gray(with_dri0), px)


def test_restart_marker_cadence_verified():
    """An out-of-sequence RSTm (bit-flipped marker id, a real corruption
    mode) must degrade to None — the modulo-8 cadence is the stream's own
    integrity check."""
    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray

    img = np.random.RandomState(3).randint(0, 256, size=(32, 32))
    payload = encode_jpeg_gray(img, restart_interval=2)
    assert decode_jpeg_gray(payload) is not None
    i = next(
        i
        for i in range(len(payload) - 1)
        if payload[i] == 0xFF and payload[i + 1] == 0xD0
    )
    corrupted = payload[:i + 1] + bytes([0xD5]) + payload[i + 2:]
    assert decode_jpeg_gray(corrupted) is None


def test_16bit_precision_dqt_decodes_identically():
    """Pq=1 quantization tables (16-bit entries) parse with the 129-byte
    stride and, with identical values, yield identical pixels."""
    import struct

    base = jpeg_gray_bytes(16, 12, 7)
    px = decode_jpeg_gray(base)
    j = base.find(b"\xff\xdb")
    seg_len = struct.unpack(">H", base[j + 2 : j + 4])[0]
    body = base[j + 4 : j + 2 + seg_len]
    new_body = bytes([0x10 | (body[0] & 0x0F)]) + b"".join(
        struct.pack(">H", v) for v in body[1:65]
    )
    new_seg = b"\xff\xdb" + struct.pack(">H", len(new_body) + 2) + new_body
    redone = base[:j] + new_seg + base[j + 2 + seg_len :]
    assert np.array_equal(decode_jpeg_gray(redone), px)


def test_component_tq_selector_honored():
    """The SOF0 component's Tq selector picks the quantization table: a
    stream that carries a decoy table 0 and the real table under id 1, with
    the component selecting Tq=1, must decode identically to the original —
    and a Tq pointing at an absent table degrades to None, never
    mis-decodes with whichever table happens to be present."""
    import struct

    base = jpeg_gray_bytes(16, 12, 7)
    px = decode_jpeg_gray(base)
    j = base.find(b"\xff\xdb")
    seg_len = struct.unpack(">H", base[j + 2 : j + 4])[0]
    body = base[j + 4 : j + 2 + seg_len]
    # decoy table 0 (all 255s) + the real values re-labelled as table 1
    decoy = bytes([0x00]) + b"\xff" * 64
    real_as_1 = bytes([0x01]) + body[1:65]
    new_body = decoy + real_as_1
    new_seg = b"\xff\xdb" + struct.pack(">H", len(new_body) + 2) + new_body
    k = base.find(b"\xff\xc0")
    sof_body = bytearray(base[k + 4 : k + 4 + 9])
    sof_body[8] = 0x01  # component selects Tq=1
    redone = (
        base[:j]
        + new_seg
        + base[j + 2 + seg_len : k + 4]
        + bytes(sof_body)
        + base[k + 4 + 9 :]
    )
    assert np.array_equal(decode_jpeg_gray(redone), px)
    # same stream but table 1 absent → None, not a wrong-table decode
    only_decoy = b"\xff\xdb" + struct.pack(">H", len(decoy) + 2) + decoy
    missing = (
        base[:j]
        + only_decoy
        + base[j + 2 + seg_len : k + 4]
        + bytes(sof_body)
        + base[k + 4 + 9 :]
    )
    assert decode_jpeg_gray(missing) is None


def test_baseline_scan_mislabelled_progressive_degrades_to_none():
    """A baseline stream whose SOF marker is flipped to SOF2 is internally
    inconsistent (a progressive stream never carries a DC+AC 0..63 scan):
    it must degrade to None, not decode under either interpretation."""
    base = jpeg_gray_bytes(16, 12, 7)
    assert decode_jpeg_gray(base.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None


@pytest.mark.parametrize(
    "w,h", [(8, 8), (16, 8), (11, 7), (64, 48), (33, 29), (1, 1), (40, 8)]
)
def test_progressive_roundtrip_exact(w, h):
    """Progressive (SOF2, successive approximation) streams must decode to
    EXACTLY the same pixels as the baseline pair: both encoders quantize
    identically, so reconstruct_gray is the shared truth."""
    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray_progressive

    rng = np.random.RandomState(w * 100 + h)
    img = rng.randint(0, 256, size=(h, w))
    dec = decode_jpeg_gray(encode_jpeg_gray_progressive(img))
    assert dec is not None
    assert np.array_equal(dec, reconstruct_gray(img))
    # and agrees with the baseline decode of the same image
    assert np.array_equal(dec, decode_jpeg_gray(encode_jpeg_gray(img)))


def test_progressive_scan_script_variants():
    """Spectral-selection-only scripts and deeper approximation ladders
    (Al starting at 3) both land on the same reconstruction; fine
    quantization (q=1) exercises the correction-bit-heavy refinement path
    including the ZRL-with-buffered-bits alignment rule."""
    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray_progressive

    rng = np.random.RandomState(17)
    fine = np.full((8, 8), 1, dtype=np.int32)
    ss_only = [(0, 0, 0, 0), (1, 10, 0, 0), (11, 63, 0, 0)]
    deep = [
        (0, 0, 0, 3), (1, 63, 0, 3), (0, 0, 3, 2), (0, 0, 2, 1),
        (0, 0, 1, 0), (1, 63, 3, 2), (1, 63, 2, 1), (1, 63, 1, 0),
    ]
    for script in (ss_only, deep, None):
        for qt in (None, fine):
            img = rng.randint(0, 256, size=(29, 37))
            kwargs = {}
            if script is not None:
                kwargs["script"] = script
            if qt is not None:
                kwargs["qtable"] = qt
            dec = decode_jpeg_gray(encode_jpeg_gray_progressive(img, **kwargs))
            want = reconstruct_gray(img, qtable=qt) if qt is not None else reconstruct_gray(img)
            assert np.array_equal(dec, want), (script is None, qt is None)


def test_progressive_eob_run_spans_blocks():
    """A large flat image compresses to cross-block EOB runs (EOBn symbols
    with run bits); a flat image with isolated spikes adds sparse
    significants inside the runs. Both must stay bit-exact."""
    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray_progressive

    flat = np.full((128, 128), 200)
    assert np.array_equal(
        decode_jpeg_gray(encode_jpeg_gray_progressive(flat)), reconstruct_gray(flat)
    )
    rng = np.random.RandomState(5)
    spiky = np.full((96, 96), 128)
    for _ in range(5):
        spiky[rng.randint(96), rng.randint(96)] = rng.randint(256)
    assert np.array_equal(
        decode_jpeg_gray(encode_jpeg_gray_progressive(spiky)), reconstruct_gray(spiky)
    )


def test_progressive_malformed_degrades_to_none():
    """Truncated or corrupted progressive streams return None, never raise
    — the same 100 TB degrade contract as baseline."""
    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray_progressive

    rng = np.random.RandomState(2)
    full = encode_jpeg_gray_progressive(rng.randint(0, 256, size=(32, 32)))
    px = decode_jpeg_gray(full)
    assert px is not None
    for cut in (20, len(full) // 4, len(full) // 2, len(full) - 5):
        decode_jpeg_gray(full[:cut])  # must not raise
    # a declared DRI=4 on a restart-free 16-block stream expects 4 chunks
    # per scan; the missing RSTm markers contradict it — degrade to None
    with_dri = full[:2] + b"\xff\xdd\x00\x04\x00\x04" + full[2:]
    assert decode_jpeg_gray(with_dri) is None
    # the real restart-encoded progressive twin decodes bit-exactly
    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray_progressive as _p

    rng2 = np.random.RandomState(2)
    img2 = rng2.randint(0, 256, size=(32, 32))
    assert np.array_equal(decode_jpeg_gray(_p(img2, restart_interval=4)), px)


def test_progressive_script_validation():
    """Invalid scan scripts must be refused at encode time: the refinement
    encoder's newly-significant test (abs >> al == 1) is only sound under
    the T.81 successive-approximation rules, and a bad script would encode
    a stream that decodes cleanly to wrong pixels."""
    import numpy as np
    import pytest

    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_gray_progressive

    img = np.arange(64, dtype=np.float64).reshape(8, 8)
    bad = [
        ([], "at least one scan"),
        ([(0, 63, 0, 0)], "must not share a scan"),
        ([(0, 0, 0, 0), (1, 63, 0, 2), (1, 63, 1, 0)], "precision gap"),
        ([(0, 0, 0, 0), (1, 63, 1, 0)], "before its ah=0 first pass"),
        ([(1, 63, 0, 0)], "before the DC first pass"),
        ([(0, 0, 0, 0), (1, 63, 0, 0), (1, 63, 0, 0)], "first-passed twice"),
        ([(0, 0, 0, 1), (1, 63, 0, 0), (0, 0, 2, 0)], None),  # ah != al+1... ah=2,al=0
        ([(1, 63, 0, 0), (0, 0, 0, 0)], "before the DC first pass"),
    ]
    for script, match in bad:
        with pytest.raises(ValueError, match=match):
            encode_jpeg_gray_progressive(img, script=script)
    # a legal custom script (coarse-to-fine with proper refinements) must
    # still decode bit-exact against the baseline reconstruction
    from dynamic_spark_spark.llmops.jpeg import (
        DEFAULT_QTABLE,
        decode_jpeg_gray,
        reconstruct_gray,
    )

    ok = [(0, 0, 0, 1), (0, 0, 1, 0), (1, 5, 0, 1), (6, 63, 0, 1),
          (1, 5, 1, 0), (6, 63, 1, 0)]
    stream = encode_jpeg_gray_progressive(img, script=ok)
    assert np.array_equal(
        decode_jpeg_gray(stream), reconstruct_gray(img, DEFAULT_QTABLE)
    )


# ---------------------------------------------------------------------------
# color (YCbCr) baseline tier — r7
# ---------------------------------------------------------------------------


def _color_img(h, w, seed=3):
    return np.random.RandomState(seed).randint(0, 256, size=(h, w, 3))


def test_color_roundtrip_exact_all_samplings():
    """decode_jpeg(encode_jpeg_color(img)) mirrors reconstruct_color
    bit-for-bit across every supported chroma sampling, on shapes that
    exercise partial edge MCUs in both axes. Iterates the module's OWN
    _SAMPLINGS allowlist (review fix r8) so coverage widens with the
    envelope instead of silently lagging it — this is what pins the
    3x/4x families (incl. the mixed (3,2)/(2,3) geometries)."""
    from dynamic_spark_spark.llmops.jpeg import (
        _SAMPLINGS,
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_color_progressive,
        reconstruct_color,
    )

    for h, w in [(1, 1), (17, 23), (9, 40)]:
        img = _color_img(h, w, seed=h * 100 + w)
        for samp in _SAMPLINGS:
            ref = reconstruct_color(img, sampling=samp)
            for enc in (encode_jpeg_color, encode_jpeg_color_progressive):
                dec = decode_jpeg(enc(img, sampling=samp))
                assert dec is not None and dec.shape == (h, w, 3), (samp, enc.__name__)
                assert np.array_equal(dec, ref), (h, w, samp, enc.__name__)


def test_color_chroma_qtable_honored():
    """A coarser chroma table (DQT id 1) must be read from the stream and
    applied to Cb/Cr only — the layout real encoders emit."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        reconstruct_color,
    )

    img = _color_img(19, 14)
    cq = np.full((8, 8), 24, dtype=np.int32)
    dec = decode_jpeg(encode_jpeg_color(img, chroma_qtable=cq))
    assert np.array_equal(dec, reconstruct_color(img, chroma_qtable=cq))


def test_color_restart_interval_roundtrip():
    """Restart intervals in interleaved scans count MCUs; every component's
    DC predictor resets at each RSTm (T.81 E.1.4)."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        reconstruct_color,
    )

    img = _color_img(33, 25)
    for ri in (1, 2, 5):
        dec = decode_jpeg(encode_jpeg_color(img, restart_interval=ri))
        assert np.array_equal(dec, reconstruct_color(img))


def test_color_error_bounds():
    """4:4:4 error is bounded by quantization through the color transform;
    flat images (DC-only blocks, constant chroma) are near-lossless even at
    4:2:0. (4:2:0 on NOISE is unboundedly lossy by design — chroma noise is
    what subsampling throws away — so no random-noise 4:2:0 bound.)"""
    from dynamic_spark_spark.llmops.jpeg import decode_jpeg, encode_jpeg_color

    img = _color_img(16, 16, seed=9)
    dec = decode_jpeg(encode_jpeg_color(img, sampling=(1, 1)))
    assert np.max(np.abs(dec.astype(int) - img)) <= 5 * int(DEFAULT_QTABLE[0, 0])
    flat = np.full((12, 10, 3), [200, 30, 117])
    dec = decode_jpeg(encode_jpeg_color(flat, sampling=(2, 2)))
    assert np.max(np.abs(dec.astype(int) - flat)) <= 2


def test_gray_and_color_tiers_dispatch():
    """decode_jpeg_gray stays a gray-only API (None on color streams);
    decode_jpeg handles both and matches the gray tier on gray streams."""
    from dynamic_spark_spark.llmops.jpeg import decode_jpeg, encode_jpeg_color

    color = encode_jpeg_color(_color_img(10, 12))
    assert decode_jpeg_gray(color) is None
    assert decode_jpeg(color).shape == (10, 12, 3)
    gray = encode_jpeg_gray(np.arange(117).reshape(9, 13) % 256)
    assert np.array_equal(decode_jpeg(gray), decode_jpeg_gray(gray))


def test_unsupported_color_forms_degrade_to_none():
    """Progressive color (SOF2, 3 components) and fractional sampling
    ratios are rejected outright — never mis-decoded."""
    from dynamic_spark_spark.llmops.jpeg import decode_jpeg, encode_jpeg_color

    stream = encode_jpeg_color(_color_img(16, 16))
    sof = stream.index(b"\xff\xc0")
    # flip SOF0 -> SOF2: progressive color must be rejected
    prog = stream[:sof] + b"\xff\xc2" + stream[sof + 2 :]
    assert decode_jpeg(prog) is None
    # patch component sampling to a fractional ratio: luma (2,2) with a
    # 3x-sampled Cb makes hmax=3, 3 % 2 != 0 -> reject before entropy decode
    hv = bytearray(stream)
    assert hv[sof + 11] == 0x22 and hv[sof + 14] == 0x11  # Y then Cb spec
    hv[sof + 14] = 0x31
    assert decode_jpeg(bytes(hv)) is None


def test_jpeg_color_bytes_deterministic_and_decodable():
    from dynamic_spark_spark.llmops.jpeg import decode_jpeg, jpeg_color_bytes

    a, b = jpeg_color_bytes(20, 14, 3), jpeg_color_bytes(20, 14, 3)
    assert a == b
    px = decode_jpeg(a)
    assert px is not None and px.shape == (14, 20, 3)


def test_duplicate_component_ids_rejected():
    """A stream whose SOF/SOS declare the same component id twice must
    return None, not collapse the by-id lookups into garbage pixels
    (r7 review finding). Also: the gray-only API rejects color at SOF
    parse, and reconstruct_color validates sampling like the encoder."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        reconstruct_color,
    )

    stream = encode_jpeg_color(_color_img(16, 16))
    sof = stream.index(b"\xff\xc0")
    dup = bytearray(stream)
    assert dup[sof + 13] == 2 and dup[sof + 16] == 3  # Cb, Cr component ids
    dup[sof + 16] = 2  # SOF now lists id 2 twice
    sos = bytes(dup).index(b"\xff\xda")
    assert dup[sos + 9] == 3  # SOS third component id
    dup[sos + 9] = 2  # SOS matches the duplicated SOF
    assert decode_jpeg(bytes(dup)) is None
    with pytest.raises(ValueError, match="sampling"):
        # (4,4) would put 18 blocks in an MCU (T.81 B.2.2 caps 10) and is
        # not in the allowlist; (4,1) et al. became VALID in r8
        reconstruct_color(_color_img(8, 8), sampling=(4, 4))


def test_zero_dimension_sof_degrades_to_none():
    """A crafted SOF declaring h==0 or w==0 must return None, not an empty
    pixel array (r7 advice): an empty decode would ship NaN feature vectors
    labeled 'jpeg-*-real' instead of degrading, violating the module's
    'degrade, never ship wrong pixels' contract."""
    from dynamic_spark_spark.llmops.jpeg import decode_jpeg, encode_jpeg_color
    from dynamic_spark_spark.llmops.multimodal import (
        jpeg_color_pixel_features,
        jpeg_pixel_features,
    )

    gray = encode_jpeg_gray(np.arange(256).reshape(16, 16) % 256)
    color = encode_jpeg_color(_color_img(16, 16))
    for stream, decoders in ((gray, (decode_jpeg_gray, decode_jpeg)), (color, (decode_jpeg,))):
        sof = stream.index(b"\xff\xc0")
        # SOF body: precision at sof+4, then big-endian u16 h then w
        for off in (5, 7):
            z = bytearray(stream)
            z[sof + off] = z[sof + off + 1] = 0
            for dec in decoders:
                assert dec(bytes(z)) is None
    # the feature tiers see the None and degrade instead of emitting NaNs
    zg = bytearray(gray)
    s = gray.index(b"\xff\xc0")
    zg[s + 5] = zg[s + 6] = 0
    assert jpeg_pixel_features(bytes(zg)) is None
    zc = bytearray(color)
    s = color.index(b"\xff\xc0")
    zc[s + 5] = zc[s + 6] = 0
    assert jpeg_color_pixel_features(bytes(zc)) is None


def test_progressive_color_roundtrip_exact():
    """Progressive color: interleaved DC scans + per-component AC scans
    decode bit-exact against the SAME reconstruction truth as baseline
    color (identical quantized coefficients). Shapes chosen so the luma
    non-interleaved sub-grid is strictly narrower than the MCU grid
    (w=8 at 4:2:0: 1 real block per luma row, 2 per MCU row)."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        encode_jpeg_color_progressive,
        reconstruct_color,
    )

    for h, w in [(8, 8), (17, 23), (16, 9)]:
        img = _color_img(h, w, seed=h * 37 + w)
        for samp in ((1, 1), (2, 2), (2, 1)):
            dec = decode_jpeg(encode_jpeg_color_progressive(img, sampling=samp))
            assert dec is not None and dec.shape == (h, w, 3)
            assert np.array_equal(dec, reconstruct_color(img, sampling=samp))


def test_progressive_color_restart_and_custom_script():
    """Restart intervals (MCU-counted in DC scans, block-counted in AC
    scans) and a caller scan script both roundtrip; invalid scripts are
    refused like the grayscale encoder refuses them."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        encode_jpeg_color_progressive,
        reconstruct_color,
    )

    img = _color_img(25, 18, seed=5)
    for ri in (1, 2, 7):
        dec = decode_jpeg(encode_jpeg_color_progressive(img, restart_interval=ri))
        assert np.array_equal(dec, reconstruct_color(img))
    ok = [(0, 0, 0, 1), (0, 0, 1, 0), (1, 5, 0, 1), (6, 63, 0, 1),
          (1, 5, 1, 0), (6, 63, 1, 0)]
    dec = decode_jpeg(encode_jpeg_color_progressive(img, script=ok))
    assert np.array_equal(dec, reconstruct_color(img))
    with pytest.raises(ValueError):
        encode_jpeg_color_progressive(img, script=[(1, 63, 0, 0), (0, 0, 0, 0)])


def test_progressive_color_malformed_degrades():
    """Interleaved AC scans are illegal (T.81 G.1.1.1.1): patching an AC
    scan's SOS to claim 3 components must reject, and gray-only decode
    still refuses progressive color at header parse."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        encode_jpeg_color_progressive,
    )

    stream = encode_jpeg_color_progressive(_color_img(16, 16))
    assert decode_jpeg_gray(stream) is None
    # find the first single-component SOS (AC scan): FF DA len=8 ns=1
    pos = stream.index(b"\xff\xda\x00\x08\x01")
    bad = bytearray(stream)
    bad[pos + 4] = 3  # lie: Ns=3 on an AC scan (length now inconsistent)
    assert decode_jpeg(bytes(bad)) is None
    for cut in (30, len(stream) // 2, len(stream) - 3):
        out = decode_jpeg(stream[:cut])
        assert out is None or isinstance(out, np.ndarray)


def test_noninterleaved_baseline_color_decodes():
    """Baseline color as THREE single-component scans (T.81 A.2.2 — legal,
    occasionally emitted) decodes bit-exact against the same reconstruction
    truth as the interleaved form. Stream hand-assembled from the module's
    own building blocks; each scan walks the component's own block grid
    with block-counted restart intervals."""
    from dynamic_spark_spark.llmops import jpeg as J

    img = _color_img(17, 23, seed=2)
    for samp, ri in (((2, 2), 0), ((2, 1), 0), ((1, 1), 3), ((2, 2), 2)):
        hs, vs = samp
        yqz, cbqz, crqz, h, w, mcux, mcuy, header = J._color_encode_frontend(
            img, samp, J.DEFAULT_QTABLE, None, ri, 0xC0, J._AC_BITS, J._AC_VALS
        )
        stream = header
        for cid, hc, vc, qz in ((1, hs, vs, yqz), (2, 1, 1, cbqz), (3, 1, 1, crqz)):
            idx = J._subgrid_index(h, w, hc, vc, hs, vs, mcux)
            sub = qz[idx]
            stream += J._seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))
            stream += J._join_restart_chunks(
                [
                    J._encode_baseline_chunk(sub, b0, b1)
                    for b0, b1 in J._restart_ranges(len(idx), ri)
                ]
            )
        stream += b"\xff\xd9"
        dec = J.decode_jpeg(stream)
        assert dec is not None, (samp, ri)
        assert np.array_equal(dec, J.reconstruct_color(img, sampling=samp)), (samp, ri)
    # two scans (incomplete component set) must still reject
    partial = header + J._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + b"\xff\xd9"
    assert J.decode_jpeg(partial) is None


def test_appn_com_segments_transparent_and_header_parse():
    """Real crawl JPEGs carry EXIF (APP1), comments (COM), and other APPn
    segments; the decoder's marker walk must skip them all, and
    parse_image_header must recover dims from color SOFs through them."""
    from dynamic_spark_spark.llmops.jpeg import (
        _seg,
        decode_jpeg,
        encode_jpeg_color,
        jpeg_color_bytes,
        reconstruct_color,
    )
    from dynamic_spark_spark.llmops.multimodal import parse_image_header

    img = _color_img(14, 21, seed=8)
    stream = encode_jpeg_color(img)
    # inject EXIF-ish APP1, a COM, and APP13 right after SOI
    extra = (
        _seg(0xE1, b"Exif\x00\x00" + bytes(range(40)))
        + _seg(0xFE, b"a comment with \xff\x00 bytes inside")
        + _seg(0xED, b"Photoshop 3.0\x00" + b"\x01" * 17)
    )
    fat = stream[:2] + extra + stream[2:]
    dec = decode_jpeg(fat)
    assert np.array_equal(dec, reconstruct_color(img))
    mime, pw, ph = parse_image_header(fat)
    assert (mime, pw, ph) == ("image/jpeg", 21, 14)
    mime, pw, ph = parse_image_header(jpeg_color_bytes(19, 11, 4))
    assert (mime, pw, ph) == ("image/jpeg", 19, 11)


def test_lying_dimensions_guarded():
    """A corrupt SOF declaring a multi-gigapixel frame must return None at
    header parse instead of allocating GB-scale coefficient arrays and
    spinning block loops until the entropy data runs out (decode-side
    resource guard, MAX_DECODE_PIXELS)."""
    import struct

    from dynamic_spark_spark.llmops.jpeg import decode_jpeg

    stream = bytearray(encode_jpeg_gray(np.arange(64).reshape(8, 8)))
    sof = bytes(stream).index(b"\xff\xc0")
    stream[sof + 5 : sof + 9] = struct.pack(">HH", 0xFFFF, 0xFFFF)
    import time

    t0 = time.perf_counter()
    assert decode_jpeg(bytes(stream)) is None
    assert time.perf_counter() - t0 < 1.0  # header-parse cost, not decode


def test_stripped_dri_rejected_not_misdecoded():
    """Zeroing out a restart stream's DRI segment (2-byte corruption) must
    reject: with interval 0 the decoder would otherwise consume RSTm marker
    bytes as entropy bits and shear every block after the first boundary
    (r7 review finding — the cadence check only guarded interval > 0)."""
    from dynamic_spark_spark.llmops.jpeg import decode_jpeg

    img = np.random.RandomState(4).randint(0, 256, size=(24, 24))
    stream = bytearray(encode_jpeg_gray(img, restart_interval=2))
    dri = bytes(stream).index(b"\xff\xdd")
    # keep the segment but declare interval 0
    stream[dri + 4 : dri + 6] = b"\x00\x00"
    assert decode_jpeg(bytes(stream)) is None
    # removing the DRI segment entirely must also reject
    no_dri = bytes(stream[:dri]) + bytes(stream[dri + 6 :])
    assert decode_jpeg(no_dri) is None


# ---------------------------------------------------------------------------
# CMYK / YCCK tier (r8) — Adobe 4-component frames
# ---------------------------------------------------------------------------


def test_cmyk_roundtrip_bit_exact_all_forms():
    """decode == the encoder's own reconstruction for BOTH transforms
    (direct CMYK, YCCK), every supported sampling, baseline AND
    progressive, with and without restart intervals — the same
    bit-exactness pin every other tier in this module carries."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        encode_jpeg_cmyk,
        encode_jpeg_cmyk_progressive,
        reconstruct_cmyk,
    )

    rng = np.random.RandomState(31)
    for h, w in ((1, 1), (8, 8), (9, 13), (21, 17)):
        img = rng.randint(0, 256, size=(h, w, 4))
        for tf, samps in ((0, [(1, 1)]), (2, [(1, 1), (2, 1), (1, 2), (2, 2)])):
            for samp in samps:
                ref = reconstruct_cmyk(img, sampling=samp, transform=tf)
                assert ref.shape == (h, w, 3)
                for ri in (0, 2):
                    for enc in (encode_jpeg_cmyk, encode_jpeg_cmyk_progressive):
                        dec = decode_jpeg(
                            enc(img, sampling=samp, transform=tf, restart_interval=ri)
                        )
                        assert dec is not None and np.array_equal(dec, ref), (
                            enc.__name__,
                            h,
                            w,
                            tf,
                            samp,
                            ri,
                        )


def test_cmyk_contracts_and_degrades():
    """The 4-component contract edges: the gray API rejects CMYK streams at
    header cost; a 4-component frame claiming the YCbCr transform (1) is
    malformed and degrades; stripping the APP14 marker means 'non-Adobe
    writer', whose components are TRUE ink values per the libjpeg
    convention (only the Adobe marker implies inverted storage) — pinned
    with flat-ink images whose DC-only blocks survive the roundtrip
    exactly, including the review repro: a no-marker pure-black ink image
    must decode black, not white."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        decode_jpeg_gray,
        encode_jpeg_cmyk,
    )

    img = np.random.RandomState(5).randint(0, 256, size=(12, 10, 4))
    stream = encode_jpeg_cmyk(img, transform=0)
    assert decode_jpeg_gray(stream) is None
    # transform byte 1 on a 4-component frame: reject, never guess
    bad = bytearray(stream)
    bad[bad.index(b"Adobe") + 11] = 1
    assert decode_jpeg(bytes(bad)) is None

    def strip_app14(s: bytes) -> bytes:
        a = s.index(b"\xff\xee")
        seg_len = int.from_bytes(s[a + 2 : a + 4], "big")
        return s[:a] + s[a + 2 + seg_len :]

    # craft a stream whose STORED bytes are the true inks t: the encoder
    # stores 255 - x, so encode x = 255 - t, then strip the marker
    def non_adobe_stream(t):
        x = 255 - np.full((16, 16, 4), t, dtype=np.int64)
        return strip_app14(encode_jpeg_cmyk(x, transform=0))

    black = decode_jpeg(non_adobe_stream(np.array([0, 0, 0, 255])))
    assert np.unique(black).tolist() == [0]  # full K = black, not white
    white = decode_jpeg(non_adobe_stream(np.array([0, 0, 0, 0])))
    assert np.unique(white).tolist() == [255]  # no ink = white paper
    # the SAME stored bytes flip meaning with the marker: a no-ink Adobe
    # stream stores all-255, which a non-Adobe reading takes as ALL-max
    # ink — white with the marker, black without it
    adobe_stream = encode_jpeg_cmyk(np.zeros((16, 16, 4), dtype=np.int64), transform=0)
    assert np.unique(decode_jpeg(adobe_stream)).tolist() == [255]
    assert np.unique(decode_jpeg(strip_app14(adobe_stream))).tolist() == [0]


def test_cmyk_encoder_validation():
    """Invalid encoder inputs raise at encode time (a bad stream that
    decodes cleanly to wrong pixels is the failure mode to prevent)."""
    import pytest

    from dynamic_spark_spark.llmops.jpeg import encode_jpeg_cmyk

    img4 = np.zeros((8, 8, 4), dtype=np.int64)
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(np.zeros((8, 8, 3)))  # not 4 components
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(img4, transform=1)  # YCbCr is a 3-comp transform
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(img4, transform=0, sampling=(2, 2))  # CMYK is 1:1
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(img4, sampling=(5, 1))  # outside T.81 1..4 range
    with pytest.raises(ValueError):
        # YCCK codes K at luma factors: H*V > 4 busts the 10-block MCU
        # bound even though (4,2) is valid for the 3-component tier
        encode_jpeg_cmyk(img4, transform=2, sampling=(4, 2))


def test_cmyk_flat_ink_reconstructs_exactly():
    """A flat ink patch survives the full YCCK pipeline losslessly (DC-only
    blocks quantize exactly), pinning the inversion/ink arithmetic against
    hand-computed RGB: pure 50% K over zero CMY must come back as the
    uniform gray the naive conversion prescribes."""
    from dynamic_spark_spark.llmops.jpeg import decode_jpeg, encode_jpeg_cmyk

    img = np.zeros((16, 16, 4), dtype=np.int64)
    img[..., 3] = 128  # K=128: stored s_k=127 -> RGB = round(255*127/255)=127
    dec = decode_jpeg(encode_jpeg_cmyk(img, transform=2, sampling=(2, 2)))
    assert dec is not None
    assert np.unique(dec).tolist() == [127]


def test_jpeg_cmyk_bytes_deterministic_and_decodable():
    """The corpus generator's YCCK payloads are stable across calls and
    decode to exactly the encoder's reconstruction of the pattern — the
    same pin jpeg_color_bytes carries."""
    from dynamic_spark_spark.llmops.jpeg import (
        decode_jpeg,
        jpeg_cmyk_bytes,
        reconstruct_cmyk,
    )

    a, b = jpeg_cmyk_bytes(13, 9, 41), jpeg_cmyk_bytes(13, 9, 41)
    assert a == b
    yy, xx = np.mgrid[0:9, 0:13]
    cmyk = np.stack(
        [
            (41 * 31 + yy * 7 + xx * 3) % 256,
            (41 * 17 + yy * 5 + xx * 11) % 256,
            (41 * 13 + yy * 3 + xx * 7) % 256,
            (41 * 7 + yy * 11 + xx * 5) % 256,
        ],
        axis=-1,
    )
    assert np.array_equal(
        decode_jpeg(a), reconstruct_cmyk(cmyk, sampling=(2, 2), transform=2)
    )
