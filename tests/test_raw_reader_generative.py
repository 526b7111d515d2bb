"""Generative differential sweeps for the raw parquet/ORC readers:
hypothesis draws random column data and writer knobs, pyarrow writes
the file, and the byte-walking readers must reproduce exactly what
pyarrow itself reads back — the property form of the fixture matrices."""

from __future__ import annotations

import io
import struct

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dynamic_spark_spark.llmops.orc_raw import read_orc_column
from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column

_ints = st.lists(
    st.one_of(st.integers(-(2**63), 2**63 - 1), st.none()),
    min_size=1, max_size=300,
)
_strs = st.lists(
    st.one_of(st.text(max_size=40), st.none()), min_size=1, max_size=300
)
_floats = st.lists(
    st.one_of(
        st.floats(allow_nan=False, width=64),
        st.none(),
    ),
    min_size=1, max_size=300,
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    ints=_ints, strs=_strs,
    use_dict=st.booleans(),
    version=st.sampled_from(["1.0", "2.0"]),
    comp=st.sampled_from(["none", "snappy", "gzip", "zstd", "lz4"]),
)
def test_parquet_reader_matches_pyarrow_generative(
    ints, strs, use_dict, version, comp
):
    n = min(len(ints), len(strs))
    table = pa.table({
        "i": pa.array(ints[:n], type=pa.int64()),
        "s": pa.array(strs[:n], type=pa.string()),
    })
    buf = io.BytesIO()
    pq.write_table(
        table, buf, use_dictionary=use_dict, data_page_version=version,
        compression=comp,
    )
    raw = buf.getvalue()
    assert read_parquet_column(raw, "i") == [
        v for v in ints[:n] if v is not None
    ]
    assert read_parquet_column(raw, "s") == [
        s.encode("utf-8") for s in strs[:n] if s is not None
    ]


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    ints=_ints, strs=_strs, floats=_floats,
    comp=st.sampled_from(["uncompressed", "zlib", "snappy", "zstd", "lz4"]),
)
def test_orc_reader_matches_pyarrow_generative(ints, strs, floats, comp):
    from pyarrow import orc

    n = min(len(ints), len(strs), len(floats))
    table = pa.table({
        "i": pa.array(ints[:n], type=pa.int64()),
        "s": pa.array(strs[:n], type=pa.string()),
        "f": pa.array(floats[:n], type=pa.float64()),
    })
    buf = io.BytesIO()
    orc.write_table(table, buf, compression=comp)
    raw = buf.getvalue()
    assert read_orc_column(raw, "i") == [
        v for v in ints[:n] if v is not None
    ]
    assert read_orc_column(raw, "s") == [
        s.encode("utf-8") for s in strs[:n] if s is not None
    ]
    got_f = read_orc_column(raw, "f")
    want_f = [v for v in floats[:n] if v is not None]
    # exact bit equality for doubles (-0.0 vs 0.0 distinguished)
    assert got_f is not None and len(got_f) == len(want_f)
    for g, w in zip(got_f, want_f):
        assert struct.pack("<d", g) == struct.pack("<d", w)


# ---------------------------------------------------------------------------
# nested (repetition-level) tier — r12
# ---------------------------------------------------------------------------

from dynamic_spark_spark.llmops.parquet_raw import (  # noqa: E402
    read_parquet_list_column,
)

#: the def-level lattice in one fixture: null list, empty list, null
#: element, plain values, a long list (forces real rep-level runs)
_LATTICE = [
    [1.5, 2.5], None, [], [3.25, None, 4.0], [None], [5.0] * 300, [], None,
    [6.125],
]


def test_list_reader_def_level_lattice_all_writer_knobs():
    """Null lists, empty lists, and null elements across v1/v2 pages,
    dictionary on/off, all four supported page codecs, and both the
    compliant (3-level, 'element') and legacy pyarrow ('item') LIST
    spellings — 64 writer combinations, all byte-identical to the
    input."""
    for version in ("1.0", "2.6"):
        for dpv in ("1.0", "2.0"):
            for use_dict in (True, False):
                for comp in ("none", "snappy", "gzip", "zstd"):
                    for compliant in (True, False):
                        t = pa.table({
                            "x": pa.array(
                                _LATTICE, type=pa.list_(pa.float64())
                            )
                        })
                        buf = io.BytesIO()
                        pq.write_table(
                            t, buf, version=version,
                            data_page_version=dpv,
                            use_dictionary=use_dict, compression=comp,
                            use_compliant_nested_type=compliant,
                        )
                        got = read_parquet_list_column(buf.getvalue(), "x")
                        assert got == _LATTICE, (
                            version, dpv, use_dict, comp, compliant,
                        )


def test_list_reader_multipage_records():
    """Tiny data pages force many pages per chunk; rows are split at
    rep==0 across the whole chunk, so records that land against page
    boundaries still reassemble — v1 and v2 page layouts both."""
    ints = [list(range(i % 7)) or None for i in range(2000)]
    for version, dpv in (("1.0", "1.0"), ("2.6", "2.0")):
        t = pa.table({"x": pa.array(ints, type=pa.list_(pa.int64()))})
        buf = io.BytesIO()
        pq.write_table(
            t, buf, data_page_size=512, version=version,
            data_page_version=dpv,
        )
        assert read_parquet_list_column(buf.getvalue(), "x") == ints


def test_list_reader_required_outer_and_element():
    """Non-nullable list of non-nullable elements shrinks the def-level
    lattice (max_def == rep_def); the reader must not look for the
    missing levels."""
    fld = pa.field(
        "x",
        pa.list_(pa.field("element", pa.float32(), nullable=False)),
        nullable=False,
    )
    dd = [[1.0, 2.0], [], [3.5]]
    t = pa.table({"x": pa.array(dd, type=fld.type)}).cast(pa.schema([fld]))
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "x") == dd


def test_list_reader_string_elements_and_refusals():
    sd = [["ab", "c"], None, [], ["s%d" % i for i in range(50)]]
    t = pa.table({"x": pa.array(sd, type=pa.list_(pa.string()))})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    want = [None if r is None else [s.encode() for s in r] for r in sd]
    assert read_parquet_list_column(buf.getvalue(), "x") == want
    # list<struct>: more than one leaf under the repeated node — refused
    t = pa.table({
        "x": pa.array(
            [[{"a": 1, "b": 2}]],
            type=pa.list_(pa.struct([("a", pa.int64()), ("b", pa.int64())])),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "x") is None
    # flat column through the list entry point — no repeated leaf: refused
    t = pa.table({"x": pa.array([1, 2, 3], type=pa.int64())})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "x") is None


def test_list_reader_refuses_single_field_struct_elements():
    """r12 advisor (parquet_raw.py:1047): a single-FIELD struct element
    yields exactly ONE listlike scalar leaf, so the r12 resolver decoded
    it as list<scalar> — silently dropping the struct layer and
    misreading field-null as element-null. The unified reader resolves
    the chain through _record_steps (steps LIST→STRUCT→FIELD→VALUE, not
    LIST→VALUE) and refuses; the record assembly reads it correctly."""
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_record_column,
    )

    rows = [[{"a": 1}, None], None, [], [{"a": None}], [{"a": 7}, {"a": 8}]]
    t = pa.table({
        "x": pa.array(rows, type=pa.list_(pa.struct([("a", pa.int64())])))
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "x") is None
    assert read_parquet_record_column(buf.getvalue(), "x") == rows


def test_inline_repeated_zero_occurrence_is_empty_list():
    """r12 advisor (parquet_raw.py:1294): parquet-format's compat rules
    treat an unannotated (protobuf-origin) repeated field as a REQUIRED
    list of required elements — zero occurrences is an EMPTY list, never
    a null one. The inline-repeated step's wrapper threshold now sits
    one below the repeated def level, so def == rep_def - 1 takes the
    empty branch. Pinned at step level (no current writer emits the
    legacy spelling) for both the repeated leaf and the repeated
    group."""
    from dynamic_spark_spark.llmops.parquet_footer import _Tree
    from dynamic_spark_spark.llmops.parquet_raw import (
        _apply_entry,
        _record_steps,
        _UNSET,
    )

    # top-level repeated scalar leaf: d=1, zero occurrences → def=0
    leaf = _Tree("x", 1, 2, 1, 1, 0, None, 0, "x")
    steps = _record_steps([leaf])
    assert steps == [("LIST", 0, 1), ("VALUE", leaf)]
    records = [_UNSET]
    vi = _apply_entry(records, 0, steps, 0, [0], [], 0)
    assert vi == 0 and records[0] == []
    # ... and one occurrence consumes a value into the list
    records = [_UNSET]
    vi = _apply_entry(records, 0, steps, 1, [0], [41], 0)
    assert vi == 1 and records[0] == [41]

    # repeated GROUP under an optional struct: def==1 means "struct
    # defined, no occurrence" → {"msgs": []} (never None)
    v = _Tree("v", 1, 0, 2, 1, 0, None, 0, "s.msgs.v")
    msgs = _Tree("msgs", None, 2, 2, 1, 0, None, 0, "s.msgs")
    sroot = _Tree("s", None, 1, 1, 0, 0, None, 0, "s")
    sroot.children = [msgs]
    msgs.children = [v]
    steps = _record_steps([sroot, msgs, v])
    records = [_UNSET]
    vi = _apply_entry(records, 0, steps, 1, [0], [], 0)
    assert vi == 0 and records[0] == {"msgs": []}
    # def==0: the OPTIONAL struct itself is null — attributed there
    records = [_UNSET]
    vi = _apply_entry(records, 0, steps, 0, [0], [], 0)
    assert vi == 0 and records[0] is None


def test_list_struct_null_element_cross_leaf_disagreement_refused(
    monkeypatch,
):
    """r12 advisor (parquet_raw.py:1671): at a slot the FIRST leaf marks
    as a null element (def < elem_def), a disagreeing second leaf
    carrying def == elem_def (field-null, consumes no value) keeps the
    value counts balanced — the r12 reader silently accepted the
    inconsistent streams. Now every leaf must agree on element
    nullness."""
    import dynamic_spark_spark.llmops.parquet_raw as praw

    rows = [[None], [{"a": 1, "b": 2}]]
    t = pa.table({
        "x": pa.array(
            rows,
            type=pa.list_(pa.struct([("a", pa.int64()), ("b", pa.int64())])),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    assert praw.read_parquet_list_struct_column(raw, "x") == rows

    # lie about leaf b: upgrade its null-element def (2) to elem_def (3)
    # — "element present, field null" — balanced counts, corrupt levels
    real = praw._collect_column_levels

    def fake(raw_, chunks, path, leaf):
        got = real(raw_, chunks, path, leaf)
        if got is not None and path.endswith(".b"):
            reps, defs, vals = got
            defs = [3 if d == 2 else d for d in defs]
            return reps, defs, vals
        return got

    monkeypatch.setattr(praw, "_collect_column_levels", fake)
    assert praw.read_parquet_list_struct_column(raw, "x") is None


def test_float16_logical_type_decodes_as_half_floats():
    """FLOAT16 (r13): the one LogicalType with no legacy ConvertedType
    twin — FLBA(2) cells holding IEEE halves, what fp16 embedding dumps
    carry. The schema walk records the LogicalType union tag (field 10)
    and every tier (flat, record assembly, list, dictionary pages)
    surfaces floats, exactly float(np.float16) — not raw 2-byte cells."""
    import numpy as np

    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_column,
        read_parquet_record_column,
    )

    vals = np.array(
        [1.5, -2.25, 0.0, 65504.0, 6.1e-5, float("inf")], np.float16
    )
    want = [float(v) for v in vals]
    for use_dict in (True, False):
        t = pa.table({"x": pa.array(vals)})
        buf = io.BytesIO()
        pq.write_table(t, buf, use_dictionary=use_dict)
        assert read_parquet_column(buf.getvalue(), "x") == want, use_dict
        assert read_parquet_record_column(buf.getvalue(), "x") == want
    # list<float16> — the fp16 embeddings shape
    rows = [[np.float16(0.5), np.float16(1.25)], None, [],
            [np.float16(-7.0)]]
    t = pa.table({"e": pa.array(rows, pa.list_(pa.float16()))})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "e") == [
        [0.5, 1.25], None, [], [-7.0],
    ]
    # nullable flat halves flow through def levels
    t = pa.table({"x": pa.array(
        [np.float16(3.5), None, np.float16(-0.5)], pa.float16()
    )})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_record_column(buf.getvalue(), "x") == [
        3.5, None, -0.5,
    ]


def test_unsigned_int_annotations_reinterpret_the_sign_bit():
    """UINT_32/UINT_64 (ConvertedType 13/14, r13 probe): the physical
    int32/int64 carries an UNSIGNED reinterpretation — the raw
    two's-complement decode returned -1 where the writer stored
    2^32-1 / 2^64-1. Flat, record, list, and dictionary paths all
    mask; UINT_8/16 never set the carrier's sign bit and were already
    exact."""
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_column,
        read_parquet_record_column,
    )

    cases = [
        (pa.uint32(), [0, 2**32 - 1, 7, 2**31]),
        (pa.uint64(), [1, 2**64 - 1, 2**63, 0]),
        (pa.uint8(), [0, 255, 128]),
        (pa.uint16(), [0, 65535]),
    ]
    for typ, want in cases:
        for use_dict in (True, False):
            t = pa.table({"x": pa.array(want, typ)})
            buf = io.BytesIO()
            pq.write_table(t, buf, use_dictionary=use_dict)
            assert read_parquet_column(buf.getvalue(), "x") == want
            assert read_parquet_record_column(buf.getvalue(), "x") == want
    t = pa.table({"e": pa.array(
        [[2**64 - 1, 1], None, []], pa.list_(pa.uint64())
    )})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "e") == [
        [2**64 - 1, 1], None, [],
    ]


def test_list_struct_truncated_leaf_stream_refused(monkeypatch):
    """r13 review finding #1: a truncated leaf-b level stream whose
    record count still agrees (a dropped CONTINUATION slot) must refuse
    — without the shared-repeated-chain rep-stream identity check it
    assembled ragged element dicts with leaf b's key missing
    entirely."""
    import dynamic_spark_spark.llmops.parquet_raw as praw

    rows = [[{"a": 1, "b": 2.5}, {"a": 3, "b": 4.5}], [{"a": 9, "b": 0.5}]]
    t = pa.table({
        "x": pa.array(
            rows,
            type=pa.list_(pa.struct([("a", pa.int64()),
                                     ("b", pa.float64())])),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    assert praw.read_parquet_list_struct_column(raw, "x") == rows
    assert praw.read_parquet_record_column(raw, "x") == rows

    real = praw._collect_column_levels

    def fake(raw_, chunks, path, leaf):
        got = real(raw_, chunks, path, leaf)
        if got is not None and path.endswith(".b"):
            reps, defs, vals = got
            # drop row 0's second slot (a rep!=0 continuation) and its
            # value: record count (rep==0 entries) is unchanged
            assert reps[1] != 0
            return reps[:1] + reps[2:], defs[:1] + defs[2:], vals[:1] + vals[2:]
        return got

    monkeypatch.setattr(praw, "_collect_column_levels", fake)
    assert praw.read_parquet_list_struct_column(raw, "x") is None
    assert praw.read_parquet_record_column(raw, "x") is None


def test_nested_column_paths_resolve_through_the_tree():
    """r13 review finding #2: the pre-delegate tiers accepted dotted
    nested paths via schema-prefix matching; the tree resolver must
    keep that contract. struct-null rows surface as None through the
    leaf's absolute def levels."""
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_record_column,
        read_parquet_struct_column,
    )

    rows = [{"inner": [1.5, None]}, None, {"inner": None}, {"inner": []}]
    t = pa.table({
        "s": pa.array(
            rows, type=pa.struct([("inner", pa.list_(pa.float64()))])
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    # the nested list column addressed by its dotted path: outer-null
    # and inner-null both read as None (the pre-r13 tier's semantics)
    assert read_parquet_list_column(raw, "s.inner") == [
        [1.5, None], None, None, [],
    ]
    # dotted paths to record subtrees work too
    assert read_parquet_record_column(raw, "s.inner") == [
        [1.5, None], None, None, [],
    ]
    # flat struct fields under a dotted group
    t = pa.table({
        "g": pa.array(
            [{"st": {"a": 1}}, {"st": None}],
            type=pa.struct([("st", pa.struct([("a", pa.int64())]))]),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_struct_column(buf.getvalue(), "g.st") == [
        {"a": 1}, None,
    ]


def test_float16_nonconforming_carrier_refuses(monkeypatch):
    """r13 review finding #4: a FLOAT16 annotation on anything but
    FLBA(2) is a nonconforming file — refuse instead of handing
    mislabeled bytes on."""
    import numpy as np

    import dynamic_spark_spark.llmops.parquet_raw as praw

    t = pa.table({"x": pa.array(np.array([1.5, 2.5], np.float16))})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    real = praw.parse_parquet_meta

    def fake(raw_):
        meta = real(raw_)
        if meta is None:
            return None
        for leaf in meta.schema.values():
            if leaf.logical == praw._LOGICAL_FLOAT16:
                leaf.tlen = 4  # lie: FLBA(4) under a FLOAT16 tag
        for node in meta.tree:
            if node.logical == praw._LOGICAL_FLOAT16:
                node.tlen = 4
        return meta

    monkeypatch.setattr(praw, "parse_parquet_meta", fake)
    assert praw.read_parquet_column(raw, "x") is None
    assert praw.read_parquet_record_column(raw, "x") is None


def test_list_reader_never_reads_flat_entry_points():
    """The scalar readers keep their refusal semantics: a repeated leaf
    is not flat, so the general reader returns None for it rather than
    misparsing the rep-levels block."""
    t = pa.table({"x": pa.array(_LATTICE, type=pa.list_(pa.float64()))})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    assert read_parquet_column(raw, "x") is None
    assert read_parquet_column(raw, "x.list.element") is None


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(), st.integers(-(2**63), 2**63 - 1)
                ),
                max_size=20,
            ),
        ),
        min_size=1, max_size=120,
    ),
    use_dict=st.booleans(),
    dpv=st.sampled_from(["1.0", "2.0"]),
    comp=st.sampled_from(["none", "snappy", "gzip", "zstd"]),
    page=st.sampled_from([512, 1024 * 1024]),
)
def test_list_reader_generative(rows, use_dict, dpv, comp, page):
    t = pa.table({"x": pa.array(rows, type=pa.list_(pa.int64()))})
    buf = io.BytesIO()
    pq.write_table(
        t, buf, use_dictionary=use_dict, data_page_version=dpv,
        compression=comp, data_page_size=page,
    )
    assert read_parquet_list_column(buf.getvalue(), "x") == rows


# ---------------------------------------------------------------------------
# temporal tier (INT96 / TIMESTAMP / DATE) — r12
# ---------------------------------------------------------------------------

import datetime  # noqa: E402

from dynamic_spark_spark.llmops.parquet_raw import (  # noqa: E402
    read_parquet_date_column,
    read_parquet_timestamp_column,
)

_EPOCH = datetime.datetime(1970, 1, 1)
_TS_DATA = [
    datetime.datetime(1992, 4, 1, 12, 34, 56, 789012),
    datetime.datetime(1970, 1, 1, 0, 0, 0),
    datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),  # pre-epoch
    datetime.datetime(1998, 11, 30),
    None,
    datetime.datetime(2038, 1, 19, 3, 14, 7),
]
_TS_US = [
    None if v is None else (v - _EPOCH) // datetime.timedelta(microseconds=1)
    for v in _TS_DATA
]


def _nonnull(xs):
    return [x for x in xs if x is not None]


def test_timestamp_reader_pyarrow_conventions():
    """pyarrow writes TIMESTAMP_MICROS/MILLIS annotated INT64 — both
    upscale to the same epoch micros, including pre-epoch instants and
    nulls; plain INT64 without the annotation is refused."""
    for unit, factor in (("us", 1), ("ms", 1000)):
        vals = _TS_US if unit == "us" else [
            None if v is None else (v // 1000) for v in _TS_US
        ]
        t = pa.table({
            "ts": pa.array(vals, type=pa.timestamp(unit)),
            "plain": pa.array(range(len(vals)), type=pa.int64()),
        })
        buf = io.BytesIO()
        pq.write_table(t, buf)
        raw = buf.getvalue()
        got = read_parquet_timestamp_column(raw, "ts")
        assert got == [v * factor for v in _nonnull(vals)], unit
        assert read_parquet_timestamp_column(raw, "plain") is None


def test_date_reader_pyarrow_and_refusals():
    dates = [datetime.date(1992, 4, 1), None, datetime.date(1970, 1, 1),
             datetime.date(1969, 6, 15), datetime.date(2038, 1, 19)]
    days = [None if d is None else (d - datetime.date(1970, 1, 1)).days
            for d in dates]
    t = pa.table({
        "d": pa.array(dates, type=pa.date32()),
        "i": pa.array(range(len(dates)), type=pa.int32()),
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    assert read_parquet_date_column(raw, "d") == _nonnull(days)
    assert read_parquet_date_column(raw, "i") is None  # unannotated INT32
    assert read_parquet_timestamp_column(raw, "d") is None


def test_int96_reader_spark_written(spark, sf_dir):
    """Both Spark writer conventions
    (spark.sql.parquet.outputTimestampType INT96 — the default — and
    TIMESTAMP_MICROS) byte-decode to the same epoch micros as the
    source table."""
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from dynamic_spark_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("ts")
    ).limit(200)
    want = [
        (v["ts"] - _EPOCH) // datetime.timedelta(microseconds=1)
        for v in li.collect()
    ]
    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    try:
        for conv in ("INT96", "TIMESTAMP_MICROS"):
            spark.conf.set(conf, conv)
            from tests.conftest import dss_mkdtemp
            out = dss_mkdtemp("dss_int96_")
            li.coalesce(1).write.mode("overwrite").parquet(out)
            f = glob.glob(out + "/*.parquet")[0]
            got = read_parquet_timestamp_column(open(f, "rb").read(), "ts")
            assert sorted(got) == sorted(want), conv
    finally:
        spark.conf.set(conf, prev)


def test_nested_keys_null_elements_vs_oracle(spark, tmp_path):
    """The def-level lattice END TO END through both registered nested
    keys on a corpus WITH null elements, null lists, and empty lists:
    a null element must surface as a true SQL NULL (the r12 review
    finding: a plain float list coerces None to NaN in pandas, and the
    oracle's unnest yields NULL for the same slot — hash mismatch)."""
    import duckdb

    from dynamic_spark_spark.registry import ORACLE, load_all_queries
    from tests.oracle_harness import compare

    rows = [[0.5, None, 1.5], None, [], [2.5], [None], [3.5, 4.5]]
    t = pa.table({
        "vec_id": pa.array(range(len(rows)), type=pa.int64()),
        "embedding": pa.array(rows, type=pa.list_(pa.float32())),
        "label": pa.array([0] * len(rows), type=pa.int32()),
    })
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    q = load_all_queries()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    oracle_pdf = con.execute(ORACLE["scan_parquet_raw_nested"]).df()
    assert oracle_pdf["component"].isna().sum() == 2  # the null elements
    for name in ("scan_parquet_raw_nested", "scan_orc_raw_nested"):
        compare(name, q[name](spark, str(tmp_path)), oracle_pdf)


def test_list_struct_reader_lattice_and_writers(spark, sf_dir):
    """list<struct<scalar...>> multi-leaf Dremel assembly: null lists,
    empty lists, null ELEMENTS (all leaves agree at once), null FIELDS
    (per-leaf defs), across v1/v2 pages × dict on/off × codecs — and a
    Spark-written (parquet-mr) file as the second writer."""
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_list_struct_column,
    )

    struct_t = pa.struct(
        [("a", pa.int64()), ("b", pa.string()), ("c", pa.float64())]
    )
    rows = [
        [{"a": 1, "b": "x", "c": 1.5}, {"a": None, "b": "y", "c": None}],
        None,
        [],
        [None],
        [{"a": 7, "b": None, "c": 2.25}],
        [{"a": i, "b": f"s{i}", "c": i * 0.5} for i in range(50)],
    ]
    want = [
        None if r is None else [
            None if e is None else {
                "a": e["a"],
                "b": e["b"].encode() if e["b"] is not None else None,
                "c": e["c"],
            }
            for e in r
        ]
        for r in rows
    ]
    for dpv in ("1.0", "2.0"):
        for use_dict in (True, False):
            for comp in ("snappy", "zstd"):
                t = pa.table({"x": pa.array(rows, type=pa.list_(struct_t))})
                buf = io.BytesIO()
                pq.write_table(t, buf, data_page_version=dpv,
                               use_dictionary=use_dict, compression=comp)
                got = read_parquet_list_struct_column(buf.getvalue(), "x")
                assert got == want, (dpv, use_dict, comp)
    # refusals: a single-leaf list is the list reader's job, and deeper
    # nesting stays out of scope
    t = pa.table({"x": pa.array([[1.0]], type=pa.list_(pa.float64()))})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_struct_column(buf.getvalue(), "x") is None
    t = pa.table({
        "x": pa.array([[[1]]], type=pa.list_(pa.list_(pa.int64())))
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_struct_column(buf.getvalue(), "x") is None
    assert read_parquet_list_column(buf.getvalue(), "x") is None

    # Spark (parquet-mr) as the second writer
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column
    from dynamic_spark_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            F.struct(F.col("doc_id").alias("a"), F.lit("x").alias("b")),
            F.struct(
                (F.col("doc_id") * 2).alias("a"),
                F.lit(None).cast("string").alias("b"),
            ),
        ).alias("pairs"),
    ).limit(100)
    want_by_id = {
        r["doc_id"]: [
            {"a": e["a"],
             "b": e["b"].encode() if e["b"] is not None else None}
            for e in r["pairs"]
        ]
        for r in d.collect()
    }
    from tests.conftest import dss_mkdtemp
    out = dss_mkdtemp("dss_lstruct_")
    d.coalesce(1).write.mode("overwrite").parquet(out)
    raw = open(glob.glob(out + "/*.parquet")[0], "rb").read()
    ids = read_parquet_column(raw, "doc_id")
    got = read_parquet_list_struct_column(raw, "pairs")
    assert got is not None and len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[i] == want_by_id[vid]


def test_map_columns_decode_as_key_value_structs(spark, sf_dir):
    """Parquet MAPs are `repeated group key_value {key, value}` — a
    multi-child repeated group IS its own element (element-null
    impossible, elem_def at the repeated node), so the struct assembly
    reads maps as lists of {key, value} dicts. pyarrow and Spark
    writers both."""
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_list_struct_column,
    )

    maps = [
        [("k1", 1), ("k2", None), ("k3", 3)],
        None,
        [],
        [("only", 42)],
    ]
    want = [
        None if r is None else [
            {"key": k.encode(), "value": v} for k, v in r
        ]
        for r in maps
    ]
    t = pa.table({"m": pa.array(maps, type=pa.map_(pa.string(), pa.int64()))})
    for dpv in ("1.0", "2.0"):
        buf = io.BytesIO()
        pq.write_table(t, buf, data_page_version=dpv)
        assert read_parquet_list_struct_column(buf.getvalue(), "m") == want

    import glob
    import tempfile

    from pyspark.sql import functions as F

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column
    from dynamic_spark_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.create_map(
            F.lit("id"), F.col("doc_id"),
            F.lit("double"), F.col("doc_id") * 2,
        ).alias("m"),
    ).limit(50)
    from tests.conftest import dss_mkdtemp
    out = dss_mkdtemp("dss_map_")
    d.coalesce(1).write.mode("overwrite").parquet(out)
    raw = open(glob.glob(out + "/*.parquet")[0], "rb").read()
    ids = read_parquet_column(raw, "doc_id")
    got = read_parquet_list_struct_column(raw, "m")
    assert got is not None and len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[i] == [
            {"key": b"id", "value": vid},
            {"key": b"double", "value": vid * 2},
        ]


def test_parquet_flat_struct_column(spark, sf_dir):
    """Flat struct<scalar...> (no repetition): multi-bit def levels
    only, the struct node's level separating struct-null rows from
    field-null values — pyarrow writer knobs plus a Spark-written
    (parquet-mr) struct column."""
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_struct_column,
    )

    structs = [
        {"a": 1, "b": "x", "c": 1.5},
        None,
        {"a": None, "b": "y", "c": None},
        {"a": 7, "b": None, "c": 2.25},
    ] * 50
    want = [
        None if r is None else {
            "a": r["a"],
            "b": r["b"].encode() if r["b"] is not None else None,
            "c": r["c"],
        }
        for r in structs
    ]
    st = pa.struct(
        [("a", pa.int64()), ("b", pa.string()), ("c", pa.float64())]
    )
    for dpv in ("1.0", "2.0"):
        for comp in ("snappy", "zstd"):
            t = pa.table({"s": pa.array(structs, type=st)})
            buf = io.BytesIO()
            pq.write_table(t, buf, data_page_version=dpv, compression=comp)
            got = read_parquet_struct_column(buf.getvalue(), "s")
            assert got == want, (dpv, comp)
    # REQUIRED struct of REQUIRED fields: no def levels at all
    fld = pa.field(
        "s", pa.struct([pa.field("a", pa.int64(), nullable=False)]),
        nullable=False,
    )
    t = pa.table(
        {"s": pa.array([{"a": 1}, {"a": 2}], type=fld.type)}
    ).cast(pa.schema([fld]))
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_struct_column(buf.getvalue(), "s") == [
        {"a": 1}, {"a": 2},
    ]
    # refusals: deeper groups and flat columns
    t = pa.table({
        "s": pa.array(
            [{"inner": {"x": 1}}],
            type=pa.struct([("inner", pa.struct([("x", pa.int64())]))]),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_struct_column(buf.getvalue(), "s") is None

    # Spark (parquet-mr) second writer
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column
    from dynamic_spark_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct(
            F.col("doc_id").alias("a"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("even")).alias("b"),
        ).alias("s"),
    ).limit(80)
    from tests.conftest import dss_mkdtemp
    out = dss_mkdtemp("dss_pstruct_")
    d.coalesce(1).write.mode("overwrite").parquet(out)
    raw = open(glob.glob(out + "/*.parquet")[0], "rb").read()
    ids = read_parquet_column(raw, "doc_id")
    got = read_parquet_struct_column(raw, "s")
    assert got is not None and len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[i] == {
            "a": vid, "b": b"even" if vid % 2 == 0 else None,
        }


def test_struct_readers_refuse_nested_and_colliding_shapes():
    """r12 review findings: the struct assemblers must REFUSE shapes
    they cannot represent instead of silently flattening, colliding, or
    dropping fields."""
    from dynamic_spark_spark.llmops.parquet_raw import (
        read_parquet_list_struct_column,
        read_parquet_struct_column,
    )

    # list<struct<a, inner:struct<a>>>: both leaves end in 'a' — the
    # old code keyed both onto 'a' (inner silently winning)
    t = pa.table({
        "x": pa.array(
            [[{"a": 1, "inner": {"a": 99}}]],
            type=pa.list_(pa.struct([
                ("a", pa.int64()),
                ("inner", pa.struct([("a", pa.int64())])),
            ])),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_struct_column(buf.getvalue(), "x") is None
    # non-colliding nested struct: silently flattened before — refuse
    t = pa.table({
        "x": pa.array(
            [[{"a": 1, "inner": {"b": 2}}]],
            type=pa.list_(pa.struct([
                ("a", pa.int64()),
                ("inner", pa.struct([("b", pa.int64())])),
            ])),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_struct_column(buf.getvalue(), "x") is None
    # map<string, struct<x>>: struct-valued map entries — refuse
    t = pa.table({
        "x": pa.array(
            [[("k", {"v": 5})]],
            type=pa.map_(pa.string(), pa.struct([("v", pa.int64())])),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_struct_column(buf.getvalue(), "x") is None
    # struct with a list-typed field: the flat struct reader used to
    # silently DROP the field — refuse
    t = pa.table({
        "s": pa.array(
            [{"a": 1, "lst": [1, 2]}],
            type=pa.struct([
                ("a", pa.int64()), ("lst", pa.list_(pa.int64())),
            ]),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_struct_column(buf.getvalue(), "s") is None


# ---------------------------------------------------------------------------
# multi-level repetition (list<list<...>>) — r12
# ---------------------------------------------------------------------------

from dynamic_spark_spark.llmops.parquet_raw import (  # noqa: E402
    read_parquet_nested_column,
)

_LL_LATTICE = [
    [[1, 2], [], None, [3, None]],
    None,
    [],
    [None],
    [[None]],
    [[5] * 100, [6]],
]


def test_multi_level_nested_lattice(spark, sf_dir):
    """list<list<int>> through the general single-leaf assembly: null
    outer, empty outer, null inner, empty inner, null elements — the
    full two-threshold def lattice across page versions and codecs —
    plus depth 3, depth 1 (must agree with the dedicated list reader),
    and a Spark-written file."""
    t = pa.table({
        "x": pa.array(_LL_LATTICE, type=pa.list_(pa.list_(pa.int64())))
    })
    for dpv in ("1.0", "2.0"):
        for comp in ("snappy", "zstd"):
            buf = io.BytesIO()
            pq.write_table(t, buf, data_page_version=dpv, compression=comp)
            got = read_parquet_nested_column(buf.getvalue(), "x")
            assert got == _LL_LATTICE, (dpv, comp)
    # depth 3
    lll = [[[[1], [2, None]], None, []], None, [[]], [[[3]]]]
    t = pa.table({
        "x": pa.array(lll, type=pa.list_(pa.list_(pa.list_(pa.int64()))))
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_nested_column(buf.getvalue(), "x") == lll
    # depth 1: general path agrees with the dedicated reader
    data = [[1.5, 2.5], None, [], [3.25, None]]
    t = pa.table({"x": pa.array(data, type=pa.list_(pa.float64()))})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    assert read_parquet_nested_column(raw, "x") == data
    assert read_parquet_nested_column(raw, "x") == read_parquet_list_column(
        raw, "x"
    )

    # Spark (parquet-mr) second writer
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column
    from dynamic_spark_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            F.array(F.col("doc_id"), F.col("doc_id") * 2),
            F.array(F.col("doc_id") + 1),
        ).alias("nested"),
    ).limit(60)
    from tests.conftest import dss_mkdtemp
    out = dss_mkdtemp("dss_ll_")
    d.coalesce(1).write.mode("overwrite").parquet(out)
    raw = open(glob.glob(out + "/*.parquet")[0], "rb").read()
    ids = read_parquet_column(raw, "doc_id")
    got = read_parquet_nested_column(raw, "nested")
    assert got is not None and len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[i] == [[vid, vid * 2], [vid + 1]]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.lists(
                        st.one_of(
                            st.none(), st.integers(-(2**40), 2**40)
                        ),
                        max_size=6,
                    ),
                ),
                max_size=5,
            ),
        ),
        min_size=1, max_size=80,
    ),
    dpv=st.sampled_from(["1.0", "2.0"]),
    page=st.sampled_from([512, 1024 * 1024]),
)
def test_multi_level_nested_generative(rows, dpv, page):
    t = pa.table({"x": pa.array(rows, type=pa.list_(pa.list_(pa.int64())))})
    buf = io.BytesIO()
    pq.write_table(t, buf, data_page_version=dpv, data_page_size=page)
    assert read_parquet_nested_column(buf.getvalue(), "x") == rows


def test_multi_level_nested_never_raises():
    import random as _random

    t = pa.table({
        "x": pa.array(_LL_LATTICE, type=pa.list_(pa.list_(pa.int64())))
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = bytearray(buf.getvalue())
    rng = _random.Random(31)
    for _ in range(300):
        m = bytearray(raw)
        for _ in range(rng.randint(1, 6)):
            m[rng.randrange(len(m))] = rng.randrange(256)
        got = read_parquet_nested_column(bytes(m), "x")
        assert got is None or isinstance(got, list)
    for cut in (1, 9, len(raw) // 2, len(raw) - 2):
        got = read_parquet_nested_column(bytes(raw[:cut]), "x")
        assert got is None or isinstance(got, list)


def test_nested_reader_refuses_struct_wrappers():
    """r12 third-review finding: a single-FIELD struct also yields one
    leaf, and decoding it as a list chain would erase the struct layer
    and conflate struct-null with field-null — the lattice-shape
    validation must refuse all three repro shapes."""
    def wt(rows, typ):
        buf = io.BytesIO()
        pq.write_table(pa.table({"x": pa.array(rows, type=typ)}), buf)
        return buf.getvalue()

    assert read_parquet_nested_column(
        wt([[{"a": 1}, None, {"a": None}]],
           pa.list_(pa.struct([("a", pa.int64())]))), "x"
    ) is None
    assert read_parquet_nested_column(
        wt([[[{"a": 1}], None]],
           pa.list_(pa.list_(pa.struct([("a", pa.int64())])))), "x"
    ) is None
    assert read_parquet_nested_column(
        wt([[{"b": [1, 2]}, {"b": None}, None]],
           pa.list_(pa.struct([("b", pa.list_(pa.int64()))]))), "x"
    ) is None


# ---------------------------------------------------------------------------
# full Dremel record assembly — r12
# ---------------------------------------------------------------------------

from dynamic_spark_spark.llmops.parquet_raw import (  # noqa: E402
    read_parquet_record_column,
)


def _norm_pylist(v):
    """pyarrow to_pylist → the raw readers' conventions (str → bytes,
    map entry tuples → {key, value} dicts)."""
    if isinstance(v, str):
        return v.encode()
    if isinstance(v, list):
        return [_norm_pylist(x) for x in v]
    if isinstance(v, tuple) and len(v) == 2:
        return {"key": _norm_pylist(v[0]), "value": _norm_pylist(v[1])}
    if isinstance(v, dict):
        return {
            k: _norm_pylist(x) if x is not None else None
            for k, x in v.items()
        }
    return v


_RECORD_SHAPES = [
    ("scalar", [1, None, 3], pa.int64()),
    ("list", [[1.5, None], None, [], [2.5]], pa.list_(pa.float64())),
    ("list_list",
     [[[1, 2], [], None, [3, None]], None, [], [None], [[None]]],
     pa.list_(pa.list_(pa.int64()))),
    ("struct", [{"a": 1, "b": "x"}, None, {"a": None, "b": None}],
     pa.struct([("a", pa.int64()), ("b", pa.string())])),
    ("list_struct",
     [[{"a": 1, "b": "x"}, None], None, [], [{"a": None, "b": None}]],
     pa.list_(pa.struct([("a", pa.int64()), ("b", pa.string())]))),
    ("map", [[("k1", 1), ("k2", None)], None, [], [("o", 9)]],
     pa.map_(pa.string(), pa.int64())),
    ("list_struct_list",
     [[{"a": 1, "b": [1, 2]}, {"a": 2, "b": None}, None], None, [],
      [{"a": None, "b": []}]],
     pa.list_(pa.struct([("a", pa.int64()), ("b", pa.list_(pa.int64()))]))),
    ("list_list_struct", [[[{"a": 1}], None, []], None, [[{"a": None}]]],
     pa.list_(pa.list_(pa.struct([("a", pa.int64())])))),
    ("struct_mixed",
     [{"lst": [1, 2], "inner": {"x": "s"}}, None,
      {"lst": None, "inner": None}],
     pa.struct([("lst", pa.list_(pa.int64())),
                ("inner", pa.struct([("x", pa.string())]))])),
    ("map_struct", [[("k", {"v": 5, "w": [1]})], None, [("e", None)]],
     pa.map_(pa.string(), pa.struct(
         [("v", pa.int64()), ("w", pa.list_(pa.int64()))]))),
]


def test_record_assembly_all_shapes_and_formats():
    """Every composition through ONE engine — and the cross-FORMAT
    triangle: the same rows written as parquet and as ORC must decode
    identically through read_parquet_record_column and
    read_orc_nested_column (two independent container walks agreeing
    with each other and with pyarrow)."""
    import pyarrow.orc as po

    from dynamic_spark_spark.llmops.orc_raw import read_orc_nested_column

    for name, rows, typ in _RECORD_SHAPES:
        t = pa.table({"x": pa.array(rows, type=typ)})
        want = [
            _norm_pylist(v) if v is not None else None
            for v in t.column("x").to_pylist()
        ]
        buf = io.BytesIO()
        pq.write_table(t, buf)
        got_pq = read_parquet_record_column(buf.getvalue(), "x")
        assert got_pq == want, name
        obuf = io.BytesIO()
        po.write_table(t, obuf, compression="zstd")
        got_orc = read_orc_nested_column(obuf.getvalue(), "x")
        assert got_orc == want, name
        assert got_pq == got_orc, name


def test_record_assembly_writer_knobs_and_spark(spark, sf_dir):
    deep = [
        [{"a": i, "b": [i, None, i * 2]} for i in range(j % 4)] or None
        for j in range(500)
    ]
    typ = pa.list_(pa.struct(
        [("a", pa.int64()), ("b", pa.list_(pa.int64()))]
    ))
    t = pa.table({"x": pa.array(deep, type=typ)})
    want = [
        _norm_pylist(v) if v is not None else None
        for v in t.column("x").to_pylist()
    ]
    for dpv in ("1.0", "2.0"):
        for comp in ("snappy", "zstd"):
            buf = io.BytesIO()
            pq.write_table(t, buf, data_page_version=dpv, compression=comp,
                           data_page_size=512)
            got = read_parquet_record_column(buf.getvalue(), "x")
            assert got == want, (dpv, comp)

    # Spark (parquet-mr) second writer on a lists-of-structs-of-lists
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column
    from dynamic_spark_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            F.struct(
                F.col("doc_id").alias("a"),
                F.array(F.col("doc_id"), F.col("doc_id") * 3).alias("b"),
            ),
        ).alias("deep"),
    ).limit(50)
    from tests.conftest import dss_mkdtemp
    out = dss_mkdtemp("dss_record_")
    d.coalesce(1).write.mode("overwrite").parquet(out)
    raw = open(glob.glob(out + "/*.parquet")[0], "rb").read()
    ids = read_parquet_column(raw, "doc_id")
    got = read_parquet_record_column(raw, "deep")
    assert got is not None and len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[i] == [{"a": vid, "b": [vid, vid * 3]}]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.fixed_dictionaries({
                        "a": st.one_of(st.none(),
                                       st.integers(-(2**40), 2**40)),
                        "b": st.one_of(
                            st.none(),
                            st.lists(st.one_of(st.none(),
                                               st.integers(0, 9)),
                                     max_size=4),
                        ),
                    }),
                ),
                max_size=4,
            ),
        ),
        min_size=1, max_size=60,
    ),
    dpv=st.sampled_from(["1.0", "2.0"]),
)
def test_record_assembly_generative(rows, dpv):
    typ = pa.list_(pa.struct(
        [("a", pa.int64()), ("b", pa.list_(pa.int64()))]
    ))
    t = pa.table({"x": pa.array(rows, type=typ)})
    want = [
        _norm_pylist(v) if v is not None else None
        for v in t.column("x").to_pylist()
    ]
    buf = io.BytesIO()
    pq.write_table(t, buf, data_page_version=dpv)
    assert read_parquet_record_column(buf.getvalue(), "x") == want


def test_record_assembly_never_raises():
    import random as _random

    t = pa.table({
        "x": pa.array(
            [[{"a": 1, "b": [1]}], None],
            type=pa.list_(pa.struct(
                [("a", pa.int64()), ("b", pa.list_(pa.int64()))]
            )),
        )
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = bytearray(buf.getvalue())
    rng = _random.Random(51)
    for _ in range(300):
        m = bytearray(raw)
        for _ in range(rng.randint(1, 6)):
            m[rng.randrange(len(m))] = rng.randrange(256)
        got = read_parquet_record_column(bytes(m), "x")
        assert got is None or isinstance(got, list)
    for cut in (1, 9, len(raw) // 2, len(raw) - 2):
        got = read_parquet_record_column(bytes(raw[:cut]), "x")
        assert got is None or isinstance(got, list)


def test_record_assembly_conversions_and_compat_rules(spark, sf_dir):
    """r12 fourth-review findings: (a) DECIMAL and TIMESTAMP_MILLIS
    leaves align with the ORC reader's conventions so the cross-format
    triangle compares like with like; (b) INT96 (Spark's default
    timestamp convention) decodes inside nested shapes; (c) the
    parquet-format backward-compat naming/annotation rules — a legacy
    'array'-named single-field repeated group IS the element struct,
    and an UNANNOTATED group with a repeated child is a struct with an
    inline list, not a list wrapper."""
    import datetime
    import decimal

    import pyarrow.orc as po

    from dynamic_spark_spark.llmops.orc_raw import read_orc_nested_column
    from dynamic_spark_spark.llmops.parquet_footer import _Tree
    from dynamic_spark_spark.llmops.parquet_raw import (
        _record_steps,
        read_parquet_column,
    )

    rows = [
        {"d": decimal.Decimal("1.23"), "t": datetime.datetime(2020, 1, 1)},
        None,
        {"d": None, "t": None},
        {"d": decimal.Decimal("-99.99"),
         "t": datetime.datetime(1969, 12, 31, 23, 59, 59)},
    ]
    typ = pa.struct([("d", pa.decimal128(5, 2)), ("t", pa.timestamp("ms"))])
    t = pa.table({"x": pa.array(rows, type=typ)})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    gp = read_parquet_record_column(buf.getvalue(), "x")
    obuf = io.BytesIO()
    po.write_table(t, obuf)
    go = read_orc_nested_column(obuf.getvalue(), "x")
    assert gp == go and gp is not None
    assert gp[0] == {"d": decimal.Decimal("1.23"), "t": 1577836800000000}

    # Spark-written INT96 timestamps inside an array<struct<...>>
    from pyspark.sql import functions as F

    from dynamic_spark_spark.sources.readers import load_table
    from tests.conftest import dss_mkdtemp

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.array(F.struct(F.col("l_shipdate").alias("ts"))).alias("deep"),
    ).limit(40)
    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    out = dss_mkdtemp("dss_int96deep_")
    try:
        li.coalesce(1).write.mode("overwrite").parquet(out)
    finally:
        spark.conf.set(conf, prev)
    import datetime as _dt
    import glob

    f = glob.glob(out + "/*.parquet")[0]
    raw = open(f, "rb").read()
    keys = read_parquet_column(raw, "l_orderkey")
    got = read_parquet_record_column(raw, "deep")
    assert got is not None and len(got) == len(keys) == 40
    # ground truth from the SAME file (an unordered limit() is not
    # stable across evaluations), via pyarrow — the third reader
    ref = pq.read_table(f).column("deep").to_pylist()
    epoch = _dt.datetime(1970, 1, 1)
    for row, ref_row in zip(got, ref):
        want_us = (
            ref_row[0]["ts"].replace(tzinfo=None) - epoch
        ) // _dt.timedelta(microseconds=1)
        assert row == [{"ts": want_us}]

    # interpretation rules on hand-built trees (no writer emits these
    # legacy spellings anymore, so the rule is pinned at step level)
    leaf = _Tree("v", 1, 0, 2, 1, 0, None, 0, "s.msgs.v")
    msgs = _Tree("msgs", None, 2, 2, 1, 0, None, 0, "s.msgs")
    sroot = _Tree("s", None, 1, 1, 0, 0, None, 0, "s")
    sroot.children = [msgs]
    msgs.children = [leaf]
    steps = _record_steps([sroot, msgs, leaf])
    # the inline repeated group's wrapper threshold sits BELOW its own
    # def level (r13, r12 advisor): an unannotated repeated field is a
    # REQUIRED list per the compat rules — zero occurrences is [], so
    # def == 1 (struct defined, no occurrence) takes the empty branch,
    # never the null one
    assert steps[:4] == [("STRUCT", 1), ("FIELD", "msgs"), ("LIST", 1, 2),
                         ("STRUCT", 2)]
    a = _Tree("a", 1, 0, 2, 1, 0, None, 0, "x.array.a")
    arr = _Tree("array", None, 2, 2, 1, 0, None, 0, "x.array")
    xr = _Tree("x", None, 1, 1, 0, 0, 3, 0, "x")
    xr.children = [arr]
    arr.children = [a]
    steps = _record_steps([xr, arr, a])
    assert steps[:3] == [("LIST", 1, 2), ("STRUCT", 2), ("FIELD", "a")]
    # annotated wrapper whose child is NOT repeated: annotation violated
    bad = _Tree("x", None, 1, 1, 0, 0, 3, 0, "x")
    child = _Tree("e", 1, 1, 2, 0, 0, None, 0, "x.e")
    bad.children = [child]
    assert _record_steps([bad, child]) is None
