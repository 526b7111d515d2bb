"""Page-index (OffsetIndex/ColumnIndex — PARQUET-922) and page-CRC
(PARQUET-1539) tiers of the raw parquet reader: pyarrow writes files
across a writer-knob matrix and the byte-walking audit must (a) parse
both index structures, (b) prove them against the pages they describe,
and (c) refuse every tampered variant. The driver key repeats the chain
against parquet-mr (Spark) written files."""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_meta
from dynamic_spark_spark.llmops.parquet_raw import (
    read_parquet_column,
    read_parquet_page_index,
)


def _write(table, **kw):
    buf = io.BytesIO()
    kw.setdefault("write_page_index", True)
    kw.setdefault("write_page_checksum", True)
    pq.write_table(table, buf, **kw)
    return buf.getvalue()


def _nn(vals):
    return [v for v in vals if v is not None]


def _global(audit):
    rows = sum(ch["rows"] for ch in audit)
    mins = [ch["min"] for ch in audit if ch["min"] is not None]
    maxs = [ch["max"] for ch in audit if ch["max"] is not None]
    return rows, (min(mins) if mins else None), (max(maxs) if maxs else None)


@pytest.mark.parametrize("comp", ["none", "snappy", "gzip", "zstd"])
@pytest.mark.parametrize("version", ["1.0", "2.0"])
def test_pageindex_audit_matrix(comp, version):
    n = 20000
    xs = [i if i % 7 else None for i in range(n)]
    ss = [f"string-value-{i % 997:05d}" if i % 11 else None
          for i in range(n)]
    fs = [float(i) * 0.5 if i % 5 else None for i in range(n)]
    i32 = [(i * 37) % 100000 - 50000 for i in range(n)]
    t = pa.table({
        "x": pa.array(xs, pa.int64()),
        "s": ss,
        "f": fs,
        "i32": pa.array(i32, pa.int32()),
    })
    raw = _write(t, compression=comp, data_page_version=version,
                 data_page_size=2048, row_group_size=7000)
    for col, vals in [("x", xs), ("f", fs), ("i32", i32)]:
        audit = read_parquet_page_index(raw, col)
        assert audit is not None, col
        rows, gmin, gmax = _global(audit)
        assert rows == n
        assert gmin == min(_nn(vals)) and gmax == max(_nn(vals))
    # binary stats may be truncated: bound semantics only
    audit = read_parquet_page_index(raw, "s")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert rows == n
    assert gmin <= min(_nn(ss)).encode() and gmax >= max(_nn(ss)).encode()


def test_pageindex_multi_page_counts():
    t = pa.table({"x": pa.array(range(20000), pa.int64())})
    raw = _write(t, data_page_size=2048, row_group_size=7000,
                 use_dictionary=False)
    audit = read_parquet_page_index(raw, "x")
    assert audit is not None and len(audit) == 3  # 3 row groups
    assert sum(ch["pages"] for ch in audit) > 3  # multiple pages each
    assert [ch["rows"] for ch in audit] == [7000, 7000, 6000]


def test_pageindex_null_page():
    # one row group entirely null -> a "null page": no values, empty
    # stat bytes, and the audit must still balance its row count
    t = pa.table({"x": pa.array([None] * 500, pa.int64())})
    t2 = pa.table({"x": pa.array([1, 2, 3] * 100, pa.int64())})
    raw = _write(pa.concat_tables([t, t2]), row_group_size=500)
    audit = read_parquet_page_index(raw, "x")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert rows == 800 and gmin == 1 and gmax == 3
    assert audit[0]["min"] is None and audit[0]["max"] is None


def test_pageindex_truncated_binary_bounds():
    # >64-byte strings: parquet-cpp truncates ColumnIndex min/max, so
    # the audit enforces the pruning bound contract, not equality
    ss = [("z" * 80) + f"{i:06d}" for i in range(2000)]
    raw = _write(pa.table({"s": ss}), data_page_size=1024,
                 use_dictionary=False)
    audit = read_parquet_page_index(raw, "s")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert rows == 2000
    assert gmin <= min(ss).encode() and gmax >= max(ss).encode()


def test_pageindex_absent_refused():
    raw = _write(pa.table({"x": pa.array(range(100), pa.int64())}),
                 write_page_index=False)
    assert read_parquet_page_index(raw, "x") is None


def test_pageindex_out_of_scope_types_refused():
    t = pa.table({
        "u": pa.array(range(100), pa.uint64()),
        "b": pa.array([True, False] * 50),
        "h": pa.array(np.arange(100, dtype=np.float16)),
    })
    raw = _write(t)
    for col in ("u", "b", "h"):
        assert read_parquet_page_index(raw, col) is None, col


def test_pageindex_tamper_min_value_refused():
    t = pa.table({"x": pa.array(range(10000), pa.int64())})
    raw = _write(t, data_page_size=2048, use_dictionary=False)
    assert read_parquet_page_index(raw, "x") is not None
    chunks = parse_parquet_meta(raw).chunks
    ci_off, ci_len = chunks[0].ci_off, chunks[0].ci_len
    for delta in range(ci_len):
        b = bytearray(raw)
        b[ci_off + delta] ^= 0x40
        got = read_parquet_page_index(bytes(b), "x")
        if got is not None:
            # a flip that survives must leave the audited answer intact
            rows, gmin, gmax = _global(got)
            assert (rows, gmin, gmax) == (10000, 0, 9999)


def test_pageindex_tamper_offset_index_refused():
    t = pa.table({"x": pa.array(range(10000), pa.int64())})
    raw = _write(t, data_page_size=2048, use_dictionary=False)
    chunks = parse_parquet_meta(raw).chunks
    oi_off, oi_len = chunks[0].oi_off, chunks[0].oi_len
    for delta in range(oi_len):
        b = bytearray(raw)
        b[oi_off + delta] ^= 0x40
        got = read_parquet_page_index(bytes(b), "x")
        if got is not None:
            rows, gmin, gmax = _global(got)
            assert (rows, gmin, gmax) == (10000, 0, 9999)


def test_page_crc_detects_body_corruption():
    t = pa.table({"x": pa.array(range(10000), pa.int64()),
                  "s": [f"v{i % 313}" for i in range(10000)]})
    raw = _write(t, compression="snappy")
    assert read_parquet_column(raw, "x") == list(range(10000))
    # flip one byte inside the first data page's body: the per-page
    # CRC-32 must refuse the page (and therefore the column and the
    # index audit built on it)
    chunks = parse_parquet_meta(raw).chunks
    x_chunk = next(c for c in chunks if c.path == "x")
    start = (x_chunk.dict_off if x_chunk.dict_off is not None
             else x_chunk.data_off)
    b = bytearray(raw)
    b[start + 40] ^= 0xFF  # past the ~30-byte header, inside the body
    assert read_parquet_column(bytes(b), "x") is None
    assert read_parquet_page_index(bytes(b), "x") is None


def test_crc_optional_files_still_read():
    # a writer that omits the crc field (pre-2.7 layout) is still read:
    # verification is evidence-gated, not mandatory
    t = pa.table({"x": pa.array([5, None, 7], pa.int64())})
    raw = _write(t, write_page_checksum=False, write_page_index=False)
    assert read_parquet_column(raw, "x") == [5, 7]


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    ints=st.lists(st.one_of(st.integers(-(2**62), 2**62 - 1), st.none()),
                  min_size=1, max_size=400),
    use_dict=st.booleans(),
    version=st.sampled_from(["1.0", "2.0"]),
    comp=st.sampled_from(["none", "snappy", "zstd"]),
    page=st.sampled_from([256, 1024, 1 << 20]),
)
def test_pageindex_generative(ints, use_dict, version, comp, page):
    t = pa.table({"i": pa.array(ints, pa.int64())})
    raw = _write(t, use_dictionary=use_dict, data_page_version=version,
                 compression=comp, data_page_size=page)
    audit = read_parquet_page_index(raw, "i")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert rows == len(ints)
    nn = _nn(ints)
    if nn:
        assert gmin == min(nn) and gmax == max(nn)
    else:
        assert gmin is None and gmax is None


def test_parquet_bloom_sparkwritten(spark, tmp_path):
    # parquet-mr is the only in-sandbox writer of split-block bloom
    # filters; the audit must hold on its layout: zero false negatives
    # over every value, honest refusal where no filter exists, and
    # refusal when a bitset byte is cleared
    from dynamic_spark_spark.llmops.parquet_raw import (
        _parse_bloom_header,
        _sbbf_test,
        read_parquet_bloom_filter,
    )
    from dynamic_spark_spark.llmops.zstd import xxh64
    import struct

    out = str(tmp_path / "bloom")
    (
        spark.range(0, 20000)
        .selectExpr("id AS doc_id", "concat('t-', id % 911) AS s")
        .coalesce(1).write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "20000")
        .parquet(out)
    )
    import glob

    f = glob.glob(out + "/*.parquet")[0]
    raw = open(f, "rb").read()
    audit = read_parquet_bloom_filter(raw, "doc_id")
    assert audit is not None
    assert sum(ch["checked"] for ch in audit) == 20000
    # no filter was requested for s: honest refusal
    assert read_parquet_bloom_filter(raw, "s") is None
    # fp sanity: absent values mostly test negative (ndv-sized filter)
    ch = next(c for c in parse_parquet_meta(raw).chunks
              if c.path == "doc_id")
    nb, start = _parse_bloom_header(raw, ch.bloom_off)
    bits = raw[start : start + nb]
    fp = sum(
        1 for v in range(10**9, 10**9 + 300)
        if _sbbf_test(bits, nb, xxh64(struct.pack("<q", v)))
    )
    assert fp < 90
    # tamper: clearing a set bitset byte must surface a false negative.
    # The decoded values and their hashes are tamper-invariant, so hash
    # once and probe the tampered bitset directly — same property,
    # without re-running the full audit per flip
    hashes = [xxh64(struct.pack("<q", v)) for v in range(20000)]
    assert all(_sbbf_test(bits, nb, h) for h in hashes)
    refused = 0
    probes = 0
    for delta in range(0, nb, max(nb // 64, 1)):
        if bits[delta] == 0:
            continue
        probes += 1
        tampered = bits[:delta] + b"\x00" + bits[delta + 1 :]
        if not all(_sbbf_test(tampered, nb, h) for h in hashes):
            refused += 1
    assert probes > 0 and refused > probes // 2
    # and the full audit path refuses one representative tamper
    first_set = next(d for d in range(nb) if bits[d])
    b = bytearray(raw)
    b[start + first_set] = 0
    assert read_parquet_bloom_filter(bytes(b), "doc_id") is None


def test_pageindex_sparkwritten(spark, tmp_path):
    # parquet-mr writes both the page index and per-page CRCs by
    # default; the same audit chain must hold on its layout
    out = str(tmp_path / "pi")
    spark.range(0, 30000).selectExpr(
        "id AS doc_id", "concat('t-', id % 911) AS s"
    ).coalesce(1).write.mode("overwrite").parquet(out)
    import glob

    f = glob.glob(out + "/*.parquet")[0]
    raw = open(f, "rb").read()
    audit = read_parquet_page_index(raw, "doc_id")
    assert audit is not None
    rows, gmin, gmax = _global(audit)
    assert (rows, gmin, gmax) == (30000, 0, 29999)
    # parquet-mr wrote crc fields: corruption inside a page body refuses
    chunks = parse_parquet_meta(raw).chunks
    dc = next(c for c in chunks if c.path == "doc_id")
    start = dc.dict_off if dc.dict_off is not None else dc.data_off
    b = bytearray(raw)
    b[start + 60] ^= 0x01
    assert read_parquet_page_index(bytes(b), "doc_id") is None
