"""zstd codec: per-layer pins + whole-frame properties + CLI interop.

Layer order mirrors the module: backward bitstream, FSE normalized
counts, FSE streams, Huffman, then complete frames. The sandbox ships
a real ``zstd`` CLI (v1.5.7), so since r11 the cross-implementation
check is DIRECT: CLI-written frames decode here bit-exactly at several
levels (every entropy mode pinned, multi-frame/skippable lacing
included), and this encoder's frames decode under the CLI — on top of
the structural per-layer round trips and the driver keys' closed-form
oracles.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from dynamic_spark_spark.llmops.zstd import (
    _BackwardReader,
    _BackwardWriter,
    _FseDecodeTable,
    _FseDecoder,
    _FseEncodeTable,
    _HufTable,
    fse_read_ncount,
    fse_write_ncount,
    huf_build_weights,
    huf_decode_1stream,
    huf_encode_1stream,
    huf_read_weights,
    huf_weights_bytes,
    libzstd_handle,
    zstd_compress,
    zstd_decompress,
)


def test_backward_bitstream_roundtrip():
    bw = _BackwardWriter()
    vals = [(5, 3), (0, 1), (7, 4), (1, 1), (255, 8), (3, 2), (0, 5)]
    for v, nb in vals:
        bw.write(v, nb)
    br = _BackwardReader(bw.bytes())
    for v, nb in reversed(vals):
        assert br.read(nb) == v


def test_backward_reader_windowed_matches_bigint_reference():
    """r13: _BackwardReader moved from one whole-stream big int (every
    read shifted it — O(stream²) per block, 98% of a real ORC decode's
    profile) to a sliding 8-byte window. The read/peek semantics must
    stay BIT-IDENTICAL, including the zero-padded overshoot — pinned
    here against a naive big-int reference over randomized streams and
    randomized read/peek widths (1..56 plus the >56 exact path)."""
    rng = random.Random(99)

    class _Ref:
        def __init__(self, data):
            self.acc = int.from_bytes(data, "little")
            self.nbits = len(data) * 8 - 8 + data[-1].bit_length() - 1
            self.overflowed = False

        def peek(self, nbits):
            if nbits <= self.nbits:
                return (self.acc >> (self.nbits - nbits)) & (
                    (1 << nbits) - 1
                )
            return (self.acc << (nbits - self.nbits)) & ((1 << nbits) - 1)

        def read(self, nbits):
            if nbits == 0:
                return 0
            val = self.peek(nbits)
            if nbits > self.nbits:
                self.nbits = 0
                self.overflowed = True
            else:
                self.nbits -= nbits
            return val

    for _ in range(200):
        n = rng.randint(1, 400)
        data = bytes(rng.randrange(256) for _ in range(n - 1)) + bytes(
            [rng.randrange(1, 256)]
        )
        br = _BackwardReader(data)
        ref = _Ref(data)
        while not ref.overflowed and ref.nbits > 0:
            w = rng.choice((1, 2, 3, 5, 8, 11, 16, 31, 56, 60))
            if rng.random() < 0.3:
                assert br.peek(w) == ref.peek(w), (w, data.hex())
            assert br.read(w) == ref.read(w), (w, data.hex())
            assert br.nbits == ref.nbits
            assert br.overflowed == ref.overflowed
        # post-overflow reads stay zero-padded and equal too
        assert br.read(7) == ref.read(7)


def test_ncount_roundtrip_randomized():
    rng = random.Random(1)
    checked = 0
    for _ in range(300):
        log = rng.randint(5, 9)
        size = 1 << log
        nsym = rng.randint(2, 30)
        norm = [0] * nsym
        remaining = size
        for s in range(nsym - 1):
            if remaining <= 0:
                break
            v = rng.randint(0, min(remaining, size // 2))
            if v == 0 and rng.random() < 0.3 and remaining >= 1:
                norm[s] = -1
                remaining -= 1
            else:
                norm[s] = v
                remaining -= v
        norm[-1] += remaining
        if norm[-1] < 0:
            continue
        total = sum(abs(n) if n != -1 else 1 for n in norm)
        if total != size:
            continue
        data = fse_write_ncount(norm, log)
        norm2, log2, _ = fse_read_ncount(data, 0, 255)
        a, b = list(norm), list(norm2)
        while a and a[-1] == 0:
            a.pop()
        while b and b[-1] == 0:
            b.pop()
        assert log2 == log and a == b
        checked += 1
    assert checked > 100


def test_fse_stream_roundtrip_randomized():
    rng = random.Random(2)
    for _ in range(150):
        log = rng.randint(5, 9)
        size = 1 << log
        nsym = rng.randint(2, 10)
        norm = [1] * nsym
        remaining = size - nsym
        for s in range(nsym):
            v = rng.randint(0, remaining)
            norm[s] += v
            remaining -= v
        norm[0] += remaining
        dt = _FseDecodeTable(norm, log)
        et = _FseEncodeTable(norm, log)
        syms = [rng.randrange(nsym) for _ in range(rng.randint(1, 300))]
        bw = _BackwardWriter()
        state = et.init_state(syms[-1])
        for s in reversed(syms[:-1]):
            state = et.encode(state, s, bw)
        bw.write(state, log)
        br = _BackwardReader(bw.bytes())
        dec = _FseDecoder(dt, br)
        out = []
        for i in range(len(syms)):
            out.append(dec.peek())
            if i < len(syms) - 1:
                dec.update(br)
        assert out == syms


def test_huffman_roundtrip_randomized():
    rng = random.Random(3)
    for _ in range(150):
        n = rng.randint(10, 2000)
        alpha = rng.randint(2, 120)
        skew = rng.choice([1, 3, 1000])
        data = bytes(
            rng.choices(
                range(alpha),
                weights=[1 + (i % 7) * skew for i in range(alpha)],
                k=n,
            )
        )
        freqs = dict(Counter(data))
        if len(freqs) < 2:
            continue
        weights = huf_build_weights(freqs)
        if max(weights) >= 128:
            continue  # direct description range
        t = _HufTable(weights)
        desc = huf_weights_bytes(weights)
        w2, consumed = huf_read_weights(desc)
        assert consumed == len(desc) and w2 == weights
        assert huf_decode_1stream(huf_encode_1stream(data, t), t, n) == data


def test_zstd_frame_shapes():
    cases = [
        b"",
        b"a",
        b"hello world " * 50,
        os.urandom(500),  # incompressible: raw block
        b"abcabcabcabc" * 1000,
        bytes(range(256)) * 20,
        b"x" * 200_000,  # multi-block (128 KiB block size)
    ]
    for data in cases:
        frame = zstd_compress(data)
        assert zstd_decompress(frame) == data, len(data)
    # compression actually compresses compressible input
    rep = b"the quick brown fox " * 5000
    assert len(zstd_compress(rep)) < len(rep) // 10


def test_zstd_degrades():
    frame = zstd_compress(b"degrade sweep payload text. " * 300)
    assert zstd_decompress(b"") is None
    assert zstd_decompress(None) is None
    assert zstd_decompress(b"\x28\xb5\x2f\xfdgarbage") is None
    t0 = time.monotonic()
    for cut in range(1, len(frame), 7):
        zstd_decompress(frame[:cut])  # must not raise
    for pos in range(0, len(frame), 3):
        m = bytearray(frame)
        m[pos] ^= 0xFF
        zstd_decompress(bytes(m))  # must not raise
    assert time.monotonic() - t0 < 10.0


def test_zstd_declared_size_bomb():
    """A frame DECLARING a huge content size is refused before any
    block decodes."""
    import struct

    bomb = (
        b"\x28\xb5\x2f\xfd" + b"\xe0" + struct.pack("<Q", 1 << 50)
        + (1 | (0 << 1) | (4 << 3)).to_bytes(3, "little") + b"tiny"
    )
    t0 = time.monotonic()
    assert zstd_decompress(bomb) is None
    assert time.monotonic() - t0 < 0.5


def test_zstd_rle_block_and_repeat_offsets():
    """Highly repetitive input exercises RLE-ish matches and the
    repeat-offset path the encoder emits for back-to-back same-offset
    sequences."""
    data = (b"A" * 400 + b"B" * 400) * 50 + b"ABAB" * 300
    frame = zstd_compress(data)
    assert zstd_decompress(frame) == data
    assert len(frame) < len(data) // 20


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_zstd_random_roundtrip(data):
    assert zstd_decompress(zstd_compress(data)) == data


@settings(max_examples=40, deadline=None)
@given(
    st.binary(min_size=1, max_size=24),
    st.integers(min_value=1, max_value=2000),
)
def test_zstd_periodic_roundtrip(unit, reps):
    data = (unit * reps)[:50_000]
    assert zstd_decompress(zstd_compress(data)) == data


def test_xxh64_reference_vectors_and_checksum():
    """XXH64 pinned to the published reference vectors, and the frame
    checksum must catch payload corruption the entropy layers decode
    'successfully'."""
    from dynamic_spark_spark.llmops.zstd import xxh64, zstd_compress, zstd_decompress

    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"", 1) == 0xD5AFBA1336A3BE4B
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B

    frame = bytearray(zstd_compress(b"checksum guard payload " * 40))
    assert zstd_decompress(bytes(frame)) is not None
    frame[-1] ^= 0xFF  # corrupt the stored checksum itself
    assert zstd_decompress(bytes(frame)) is None


# ---------------------------------------------------------------------------
# real-libzstd cross-validation (the second independent implementation)
# ---------------------------------------------------------------------------

import shutil
import subprocess

import pytest

_ZSTD_CLI = shutil.which("zstd")

needs_cli = pytest.mark.skipif(
    _ZSTD_CLI is None,
    reason="named dep missing: zstd CLI — pure-Python self-streams "
    "remain oracle-proven; CLI cross-validation needs the binary",
)


def _cli_compress(data: bytes, level: int = 3) -> bytes:
    return subprocess.run(
        [_ZSTD_CLI, f"-{level}", "-c"], input=data,
        capture_output=True, check=True,
    ).stdout


def _cli_decompress(data: bytes) -> bytes:
    return subprocess.run(
        [_ZSTD_CLI, "-d", "-c"], input=data, capture_output=True, check=True,
    ).stdout


def _log_corpus() -> bytes:
    """Structured multi-block corpus: at level >= 9 libzstd reuses
    sequence tables across its 128 KiB blocks (Repeat_Mode) and emits
    treeless literals — the cross-block state this decoder must carry."""
    line = (
        b"2026-08-16T00:00:%02d INFO request id=%06d "
        b"path=/api/v1/items status=200 bytes=%05d\n"
    )
    return b"".join(line % (i % 60, i, (i * 37) % 90000) for i in range(8000))


@needs_cli
def test_cli_written_frames_decode_bit_exact():
    """Frames written by real libzstd (v1.5+) at several levels decode
    bit-exactly through the pure-Python walker — text, runs, random
    (incompressible -> raw blocks), and empty payloads."""
    rng = random.Random(42)
    words = [
        "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
        "spark", "engine", "corpus", "training", "data", "zstd", "frame",
    ]
    text = (" ".join(rng.choice(words) for _ in range(60000))).encode()
    payloads = [text, b"a" * 50000, rng.randbytes(5000), b"", _log_corpus()]
    for payload in payloads:
        for level in (1, 3, 9, 19):
            frame = _cli_compress(payload, level)
            assert zstd_decompress(frame) == payload, (len(payload), level)


@needs_cli
def test_cli_decodes_our_frames():
    """The reverse direction: this encoder's frames decode under real
    libzstd — both implementations accept each other's output."""
    rng = random.Random(7)
    for payload in [
        b"", b"interop " * 4000, bytes(range(256)) * 600, rng.randbytes(3000),
    ]:
        assert _cli_decompress(zstd_compress(payload)) == payload


@needs_cli
def test_all_entropy_modes_pinned_on_cli_fixtures():
    """Every RFC 8878 table form libzstd emits is exercised and pinned:
    predefined FSE distributions, RLE tables, in-stream FSE tables,
    Repeat_Mode reuse, FSE-compressed Huffman weights, and treeless
    literals. Each fixture decodes bit-exactly AND reports the mode."""
    from dynamic_spark_spark.llmops.zstd import zstd_frame_stats

    logs = _log_corpus()
    cases = [
        # small, highly-compressible -> predefined distributions
        (b"hello hello hello world world zstd zstd zstd " * 4, 3,
         {"seq:predef"}),
        # structured logs, default level -> in-stream FSE + RLE tables
        (logs, 3, {"seq:fse", "seq:rle", "weights:fse"}),
        # structured logs, level 9 -> Repeat_Mode + treeless literals
        (logs, 9, {"seq:repeat", "lit:treeless"}),
    ]
    for payload, level, want in cases:
        out, stats = zstd_frame_stats(_cli_compress(payload, level))
        assert out == payload
        assert want <= stats, (level, sorted(stats))
    # direct weight descriptions come from this repo's own encoder:
    # skewed literals with few LZ matches so Huffman-compressing pays
    rng = random.Random(5)
    skewed = bytes(rng.choices(b"aaaaaabbbccde", k=4000))
    out, stats = zstd_frame_stats(zstd_compress(skewed))
    assert out == skewed
    assert "weights:direct" in stats


@needs_cli
def test_repeat_offsets_and_window_span_blocks():
    """Multi-block frames where matches and repeat-offset history cross
    the 128 KiB block boundary — the frame-scoped state a per-block
    decoder gets wrong. 600 KiB of period-64 data forces cross-block
    back-references at every level."""
    unit = bytes(range(64))
    payload = unit * 9600  # 600 KiB, offsets resolve across blocks
    for level in (1, 3, 9):
        assert zstd_decompress(_cli_compress(payload, level)) == payload


def test_dictionary_frames_refused():
    """A nonzero Dictionary_ID must be refused (no dictionary support),
    not skipped-and-misdecoded."""
    frame = bytearray(zstd_compress(b"payload " * 50))
    # FHD at byte 4: set DID_flag=1 and splice a 1-byte nonzero DID in
    fhd = frame[4]
    frame[4] = fhd | 0x01
    frame.insert(5, 0x07)
    assert zstd_decompress(bytes(frame)) is None


def test_fse_weight_stream_malformed_inputs_never_raise():
    """FSE-compressed weight headers (hdr < 128) on garbage payloads:
    the decoder returns None, never raises."""
    rng = random.Random(99)
    base = zstd_compress(b"fuzz seed payload " * 64)
    for _ in range(200):
        mut = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        out = zstd_decompress(bytes(mut))
        assert out is None or isinstance(out, bytes)


@needs_cli
def test_multi_frame_concat_and_skippable_frames():
    """Real multi-frame streams (RFC 8878 §3): pzstd-style frame
    concatenation and skippable frames (0x184D2A50..5F + u32 size, the
    seekable format's index carrier). The CLI and the pure-Python
    concat decoder must agree on the same laced stream; trailing
    garbage and truncated skippables refuse."""
    import struct as _s

    from dynamic_spark_spark.llmops.zstd import zstd_decompress_concat

    a = b"first frame payload " * 500
    b = b"second, different payload " * 300
    fa = _cli_compress(a, 3)
    fb = _cli_compress(b, 19)
    skip = _s.pack("<I", 0x184D2A53) + _s.pack("<I", 12) + b"seek-index!!"
    stream = fa + skip + fb
    assert _cli_decompress(stream) == a + b  # CLI accepts the lacing
    assert zstd_decompress_concat(stream) == a + b
    # leading and trailing skippables too
    assert zstd_decompress_concat(skip + fa + skip) == a
    # our own encoder's frames concatenate the same way
    assert zstd_decompress_concat(
        zstd_compress(a) + zstd_compress(b)
    ) == a + b
    # refusals: trailing garbage, truncated skippable, empty input
    assert zstd_decompress_concat(stream + b"xx") is None
    assert zstd_decompress_concat(skip[:6]) is None
    assert zstd_decompress_concat(b"") is None
    # single-frame entry point keeps its one-frame contract
    assert zstd_decompress(fa) == a


@needs_cli
def test_dictionary_frames_decode(tmp_path):
    """Trained-dictionary frames (RFC 8878 §5): `zstd --train` builds a
    real dictionary over a corpus of small similar documents, `zstd -D`
    writes dictionary frames, and the pure-Python decoder reproduces
    every payload — entropy tables seeded from the dictionary
    (Repeat_Mode/treeless in the FIRST block), repeat offsets replaced,
    match window prefixed with the dictionary content. Refusals: a
    frame naming a dictionary decodes to None without it or with a
    wrong-id one. Raw-content dictionaries (no magic) work as pure
    window prefixes."""
    from dynamic_spark_spark.llmops.zstd import zstd_decompress_dict

    rng = random.Random(1)
    words = [
        "the", "service", "request", "handler", "returned", "status",
        "payload", "document", "spark", "engine", "training",
    ]
    samples = tmp_path / "samples"
    samples.mkdir()
    docs = []
    for i in range(200):
        t = (
            f"doc {i}: "
            + " ".join(rng.choice(words) for _ in range(rng.randint(30, 80)))
        ).encode()
        docs.append(t)
        (samples / f"{i}.txt").write_bytes(t)
    dict_path = tmp_path / "dict.bin"
    subprocess.run(
        [_ZSTD_CLI, "--train", *[str(samples / f"{i}.txt") for i in range(200)],
         "-o", str(dict_path), "--maxdict=4096"],
        capture_output=True, check=True,
    )
    dictionary = dict_path.read_bytes()
    assert dictionary[:4] == b"\x37\xa4\x30\xec"

    def dict_compress(doc):
        return subprocess.run(
            [_ZSTD_CLI, "-D", str(dict_path), "-3", "-c"], input=doc,
            capture_output=True, check=True,
        ).stdout

    for doc in docs[:30]:
        assert zstd_decompress_dict(dict_compress(doc), dictionary) == doc
    frame = dict_compress(docs[0])
    # refusals: absent dictionary, wrong dictionary id
    assert zstd_decompress(frame) is None
    bad = bytearray(dictionary)
    bad[4] ^= 0xFF
    assert zstd_decompress_dict(frame, bytes(bad)) is None
    # raw-content dictionary: any bytes act as a window prefix
    raw_frame = subprocess.run(
        [_ZSTD_CLI, "-D", str(samples / "0.txt"), "-3", "-c"],
        input=docs[1], capture_output=True, check=True,
    ).stdout
    assert zstd_decompress_dict(raw_frame, docs[0]) == docs[1]
    # and mutation sweeps over a dict frame never raise
    for _ in range(150):
        m = bytearray(frame)
        for _ in range(rng.randint(1, 4)):
            m[rng.randrange(len(m))] = rng.randrange(256)
        out = zstd_decompress_dict(bytes(m), dictionary)
        assert out is None or isinstance(out, bytes)


# ---------------------------------------------------------------------------
# the fixture writer: in-process libzstd, one tier
# ---------------------------------------------------------------------------

needs_libzstd = pytest.mark.skipif(
    libzstd_handle() is None,
    reason="named dep missing: libzstd shared library",
)


@needs_libzstd
def test_writer_frames_carry_checksum_bit():
    """Both writer entry points emit the content checksum on every frame
    (FHD bit 2), so every fixture exercises the decoder's XXH64 check, and
    the frames decode under the pure decoder and the CLI alike."""
    from dynamic_spark_spark.llmops import zstd as z

    payloads = [b"", b"alpha", b"beta" * 4000]
    expected = payloads + payloads[2:]
    for level in (1, 3, 9, 19):
        frames = z.zstd_compress_real_many(payloads, level)
        frames.append(z.zstd_compress_real(payloads[2], level))
        assert len(frames) == 4
        for frame in frames:
            assert frame[:4] == z.ZSTD_MAGIC
            assert frame[4] & 0x4
        assert [z.zstd_decompress(f) for f in frames] == expected
        if _ZSTD_CLI is not None:
            assert [_cli_decompress(f) for f in frames] == expected
    assert z.zstd_compress_real_many([]) == []


def test_writer_raises_without_libzstd(monkeypatch):
    """No silent fallback: without libzstd the writer fails loudly and
    names the library."""
    from dynamic_spark_spark.llmops import zstd as z

    monkeypatch.setattr(z, "libzstd_handle", lambda: None)
    with pytest.raises(RuntimeError, match="libzstd"):
        z.zstd_compress_real_many([b"alpha"])
    with pytest.raises(RuntimeError, match="libzstd"):
        z.zstd_compress_real(b"alpha")


@needs_libzstd
def test_lib_tier_agrees_with_cli_and_pure_decoder():
    """Lib-tier frames at several levels decode bit-exactly under BOTH
    the pure-Python walker and the CLI — the same cross-implementation
    triangle the CLI fixtures pin, now for the in-process writer."""
    from dynamic_spark_spark.llmops import zstd as z

    rng = random.Random(13)
    payloads = [
        b"",
        b"a" * 100_000,
        bytes(rng.randrange(256) for _ in range(5_000)),
        ("unicode éü text, repeated. " * 500).encode(),
    ]
    for level in (1, 3, 9, 19):
        got = z.zstd_compress_real_many(payloads, level)
        for raw, frame in zip(payloads, got):
            assert z.zstd_decompress_concat(frame, 1 << 22) == raw
            if _ZSTD_CLI is not None:
                assert _cli_decompress(frame) == raw
