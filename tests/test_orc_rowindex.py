"""ORC row-group index and bloom-filter tiers: liborc (pyarrow) writes
files across a knob matrix and the byte-walking audits must (a) parse
the ROW_INDEX / BLOOM_FILTER_UTF8 streams, (b) prove them against the
decoded rows, and (c) refuse tampered variants. The driver key repeats
the chain against orc-java (Spark) written files."""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.orc as po
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dynamic_spark_spark.llmops.orc_raw import (
    _bloom_test,
    _orc_column_stripes,
    _parse_bloom_index,
    orc_bloom_long_hash,
    orc_murmur3_hash64,
    parse_orc_meta,
    read_orc_bloom_filter,
    read_orc_row_index,
)


def _write(table, **kw):
    buf = io.BytesIO()
    kw.setdefault("row_index_stride", 2000)
    kw.setdefault("stripe_size", 200 * 1024)
    po.write_table(table, buf, **kw)
    return buf.getvalue()


def _nn(vals):
    return [v for v in vals if v is not None]


def _global(audit):
    rows = sum(d["rows"] for d in audit)
    mins = [d["min"] for d in audit if d["min"] is not None]
    maxs = [d["max"] for d in audit if d["max"] is not None]
    return rows, (min(mins) if mins else None), (max(maxs) if maxs else None)


_N = 50000
_XS = [i if i % 7 else None for i in range(_N)]
_SS = [f"doc-{i % 997:05d}" if i % 11 else None for i in range(_N)]
_FS = [float(i) * 0.25 if i % 5 else None for i in range(_N)]


@pytest.mark.parametrize(
    "comp", ["zstd", "zlib", "snappy", "lz4", "uncompressed"]
)
def test_rowindex_audit_matrix(comp):
    t = pa.table({
        "x": pa.array(_XS, pa.int64()),
        "s": _SS,
        "f": _FS,
    })
    raw = _write(t, compression=comp)
    for col, vals in [("x", _XS), ("s", _SS), ("f", _FS)]:
        audit = read_orc_row_index(raw, col)
        assert audit is not None, (comp, col)
        rows, gmin, gmax = _global(audit)
        assert rows == _N
        exp_min, exp_max = min(_nn(vals)), max(_nn(vals))
        if col == "s":
            exp_min, exp_max = exp_min.encode(), exp_max.encode()
        assert gmin == exp_min and gmax == exp_max


def test_rowindex_dictionary_strings():
    t = pa.table({"s": _SS})
    raw = _write(t, dictionary_key_size_threshold=1.0)
    audit = read_orc_row_index(raw, "s")
    assert audit is not None
    assert sum(d["rows"] for d in audit) == _N


def test_rowindex_all_null_group():
    # a leading all-null run wider than the stride: its row groups must
    # carry no min/max and numberOfValues 0
    vals = [None] * 5000 + list(range(3000))
    t = pa.table({"x": pa.array(vals, pa.int64())})
    raw = _write(t)
    audit = read_orc_row_index(raw, "x")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert (rows, gmin, gmax) == (8000, 0, 2999)


def test_rowindex_tamper_stats_refused():
    t = pa.table({"x": pa.array(range(20000), pa.int64())})
    raw = _write(t, compression="uncompressed")
    assert read_orc_row_index(raw, "x") is not None
    stripes = _orc_column_stripes(raw, parse_orc_meta(raw), "x",
                                  want_index=True)[1]
    # the uncompressed ROW_INDEX stream sits verbatim in the file: find
    # it and flip bytes — each flip must either refuse or leave the
    # audited answer intact (a flip may land in unparsed padding)
    ri = stripes[0]["row_index"]
    off = raw.find(ri)
    assert off > 0
    intact = 0
    for delta in range(0, len(ri), 7):
        b = bytearray(raw)
        b[off + delta] ^= 0x20
        got = read_orc_row_index(bytes(b), "x")
        if got is not None:
            rows, gmin, gmax = _global(got)
            assert (rows, gmin, gmax) == (20000, 0, 19999)
            intact += 1
    # most flips must actually have been caught, not survived
    assert intact < len(range(0, len(ri), 7)) // 2


def test_stripe_stats_audited_and_tamper_refused():
    # the Metadata section (per-STRIPE statistics) is part of the same
    # audit: corrupting it must refuse even when the row index is clean
    from dynamic_spark_spark.llmops.orc_raw import _orc_stripe_stats

    t = pa.table({"x": pa.array(range(20000), pa.int64())})
    raw = _write(t, compression="uncompressed")
    sstats = _orc_stripe_stats(raw, parse_orc_meta(raw))
    assert sstats is not None and len(sstats) >= 1
    assert read_orc_row_index(raw, "x") is not None
    blob = sstats[0][1]  # column id 1 = x
    off = raw.find(blob)
    assert off > 0
    caught = 0
    for delta in range(len(blob)):
        b = bytearray(raw)
        b[off + delta] ^= 0x10
        got = read_orc_row_index(bytes(b), "x")
        if got is None:
            caught += 1
        else:
            rows, gmin, gmax = _global(got)
            assert (rows, gmin, gmax) == (20000, 0, 19999)
    assert caught > 0


def test_stripe_stats_framing_tamper_refused():
    # an ADVERTISED metadata section whose protobuf framing is erased
    # (outer tag flip) must refuse, not silently skip the stripe tier:
    # 'absent' and 'erased by tampering' are different things
    from dynamic_spark_spark.llmops.orc_raw import proto_fields

    t = pa.table({"x": pa.array(range(20000), pa.int64())})
    raw = _write(t, compression="uncompressed")
    ps_len = raw[-1]
    flen = mlen = None
    for fid, wt, val in proto_fields(raw[-1 - ps_len : -1]):
        if fid == 1 and wt == 0:
            flen = val
        elif fid == 5 and wt == 0:
            mlen = val
    assert mlen
    end = len(raw) - 1 - ps_len - flen
    start = end - mlen
    b = bytearray(raw)
    b[start] = 0x12  # outer StripeStatistics tag 0x0A -> unknown field
    assert read_orc_row_index(bytes(b), "x") is None


def test_bloom_zero_false_negatives_and_fp_sanity():
    xs = [i - 15000 for i in range(30000)]  # negatives, zero, positives
    ss = [f"w-{i % 313}" for i in range(30000)]
    t = pa.table({"x": pa.array(xs, pa.int64()), "s": ss})
    raw = _write(t, bloom_filter_columns=[1, 2], bloom_filter_fpp=0.05)
    for col in ("x", "s"):
        audit = read_orc_bloom_filter(raw, col)
        assert audit is not None, col
        assert sum(d["checked"] for d in audit) == 30000
    # absent values mostly test negative (fpp 0.05): the filter is not
    # just all-ones
    stripes = _orc_column_stripes(raw, parse_orc_meta(raw), "x",
                                  want_index=True)[1]
    k, bits = _parse_bloom_index(stripes[0]["bloom_utf8"])[0]
    fp = sum(
        1 for v in range(10**9, 10**9 + 200)
        if _bloom_test(bits, k, orc_bloom_long_hash(v))
    )
    assert fp < 60


def test_bloom_tamper_cleared_bit_refused():
    t = pa.table({"x": pa.array(range(20000), pa.int64())})
    raw = _write(t, compression="uncompressed", bloom_filter_columns=[1])
    assert read_orc_bloom_filter(raw, "x") is not None
    stripes = _orc_column_stripes(raw, parse_orc_meta(raw), "x",
                                  want_index=True)[1]
    bf = stripes[0]["bloom_utf8"]
    off = raw.find(bf)
    assert off > 0
    # clear ONE set bit inside the first filter's bitset: some value
    # that hashed there becomes a false negative → audit refuses (or,
    # if the flip landed outside a probed position, stays intact)
    refused = 0
    probes = 0
    for delta in range(0, len(bf), 11):
        if bf[delta] == 0:
            continue
        probes += 1
        b = bytearray(raw)
        b[off + delta] = 0  # clear all bits of that byte
        if read_orc_bloom_filter(bytes(b), "x") is None:
            refused += 1
    assert probes > 0 and refused > probes // 2


def test_bloom_absent_refused():
    t = pa.table({"x": pa.array(range(1000), pa.int64())})
    raw = _write(t)  # no bloom_filter_columns
    assert read_orc_bloom_filter(raw, "x") is None
    assert read_orc_row_index(raw, "x") is not None


def test_hashes_pinned():
    # freeze the two hash functions against self-derived vectors so an
    # accidental arithmetic change cannot slip by: the arithmetic-shift
    # (Hive-variant) long hash and Murmur3 hash64 seed 104729
    # stability pins (computed once, must never change: they encode
    # orc-java compatibility proven by the writer differential tests).
    # hash(0) == 0 is the Hive-variant signature: step 1 yields -1,
    # the ARITHMETIC >>24 of -1 is -1 again, and -1 ^ -1 == 0 — a
    # logical-shift implementation produces a nonzero value here.
    assert orc_bloom_long_hash(0) == 0
    assert orc_bloom_long_hash(1) == 0x5BCA7C69B794F8CE
    assert orc_bloom_long_hash(-1) == 0x5BCA868437950D03
    assert orc_murmur3_hash64(b"") == 0x74A18DC8F20ADB48
    assert orc_murmur3_hash64(b"ORC") == 0x6A6DBECF8396A153


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    ints=st.lists(st.one_of(st.integers(-(2**62), 2**62 - 1), st.none()),
                  min_size=1, max_size=500),
    comp=st.sampled_from(["zstd", "snappy", "uncompressed"]),
    stride=st.sampled_from([1000, 10000]),
    bloom=st.booleans(),
)
def test_rowindex_generative(ints, comp, stride, bloom):
    t = pa.table({"i": pa.array(ints, pa.int64())})
    kw = {"compression": comp, "row_index_stride": stride}
    if bloom:
        kw["bloom_filter_columns"] = [1]
    raw = _write(t, **kw)
    audit = read_orc_row_index(raw, "i")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert rows == len(ints)
    nn = _nn(ints)
    if nn:
        assert gmin == min(nn) and gmax == max(nn)
    else:
        assert gmin is None and gmax is None
    if bloom:
        ba = read_orc_bloom_filter(raw, "i")
        assert ba is not None
        assert sum(d["checked"] for d in ba) == len(nn)


def test_rowindex_sparkwritten(spark, tmp_path):
    # orc-java writes the row index by default and blooms on request;
    # the same audit chain must hold on its layout (incl. doc_id 0 —
    # the value that catches a logical-shift long hash)
    out = str(tmp_path / "oi")
    (
        spark.range(0, 30000)
        .selectExpr("id AS doc_id", "concat('t-', id % 911) AS s")
        .coalesce(1).write.mode("overwrite")
        .option("orc.bloom.filter.columns", "doc_id,s")
        .option("orc.row.index.stride", "5000")
        .orc(out)
    )
    import glob

    f = glob.glob(out + "/*.orc")[0]
    raw = open(f, "rb").read()
    audit = read_orc_row_index(raw, "doc_id")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert (rows, gmin, gmax) == (30000, 0, 29999)
    for col in ("doc_id", "s"):
        ba = read_orc_bloom_filter(raw, col)
        assert ba is not None, col
        assert sum(d["checked"] for d in ba) == 30000
