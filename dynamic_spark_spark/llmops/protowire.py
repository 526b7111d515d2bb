"""Protobuf wire-format ingest — length-delimited message streams,
decoded for real.

The protobuf wire format (protobuf.dev/programming-guides/encoding,
public) is the RPC-adjacent record encoding event buses and ML feature
logs actually persist: varint-length-delimited messages (the
``writeDelimitedTo`` convention), each a sequence of
``(field_number << 3 | wire_type)`` tagged values. This module implements
the generic decoder every proto consumer relies on:

- all four live wire types: VARINT (0), I64 (1, fixed64), LEN (2),
  I32 (5, fixed32) — groups (3/4) are deprecated by the spec and refused;
- UNKNOWN-FIELD SKIPPING by wire type — the property that makes proto
  streams forward-compatible, and the first thing a hand-rolled decoder
  gets wrong (a skipped field must advance by its own length, never by
  guess);
- zigzag decode for the sint fields, IEEE bit-exact fixed64 doubles.

The key proves decode(encode(row)) against a closed-form oracle; a
pytest injects unknown fields mid-message and the decode must be
unchanged. Degrade-don't-die: never raises, lengths capped before
allocation, a malformed tag stops the walk at the last good message.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from dynamic_spark_spark.llmops.fixtures import require_rows
from dynamic_spark_spark.registry import query
from dynamic_spark_spark.sources.readers import load_table

#: per-message cap — the container discipline
PROTO_MSG_CAP = 4 << 20


def _uvarint_enc(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _uvarint_dec(data: bytes, pos: int) -> tuple[int, int]:
    """The one LEB128 varint decoder (protobuf, ORC, Avro, Thrift
    compact, parquet DELTA_BINARY_PACKED): ``(value, next_pos)``.
    Raises ValueError on a truncated varint or one past 10 bytes."""
    out = 0
    shift = 0
    while True:
        if pos >= len(data) or shift > 63:
            raise ValueError("varint")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _zigzag_dec(data: bytes, pos: int) -> tuple[int, int]:
    """Zigzag-signed form of :func:`_uvarint_dec`."""
    u, pos = _uvarint_dec(data, pos)
    return (u >> 1) ^ -(u & 1), pos


def proto_doc_bytes(doc_id: int, text: str) -> bytes:
    """One document message exercising every live wire type:
    field 1 ``doc_id`` (VARINT), field 2 ``text`` (LEN, UTF-8),
    field 3 ``n_chars`` (VARINT), field 4 ``score`` (I64 double =
    doc_id * 0.5), field 5 ``flag32`` (I32 fixed32 = doc_id mod 2^32)."""
    payload = text.encode("utf-8")
    out = bytearray()
    out += _uvarint_enc((1 << 3) | 0) + _uvarint_enc(doc_id)
    out += _uvarint_enc((2 << 3) | 2) + _uvarint_enc(len(payload)) + payload
    out += _uvarint_enc((3 << 3) | 0) + _uvarint_enc(len(text))
    out += _uvarint_enc((4 << 3) | 1) + struct.pack("<d", doc_id * 0.5)
    out += _uvarint_enc((5 << 3) | 5) + struct.pack("<I", doc_id & 0xFFFFFFFF)
    return bytes(out)


def proto_stream_bytes(records: list[tuple[int, str]]) -> bytes:
    """The ``writeDelimitedTo`` framing: varint message length, message."""
    out = bytearray()
    for doc_id, text in records:
        msg = proto_doc_bytes(doc_id, text)
        out += _uvarint_enc(len(msg)) + msg
    return bytes(out)


def proto_doc_decode(msg: bytes):
    """Decode one document message with the GENERIC field walk: known
    fields extracted, unknown fields skipped by their wire type. Returns
    ``(doc_id, text, n_chars, score, flag32)`` or None. Never raises
    past the caller's guard (ValueError on malformed input)."""
    pos = 0
    doc_id = text = n_chars = score = flag32 = None
    while pos < len(msg):
        tag, pos = _uvarint_dec(msg, pos)
        fid, wtype = tag >> 3, tag & 7
        if wtype == 0:
            val, pos = _uvarint_dec(msg, pos)
            if fid == 1:
                doc_id = val
            elif fid == 3:
                n_chars = val
        elif wtype == 1:
            if pos + 8 > len(msg):
                raise ValueError("i64")
            if fid == 4:
                (score,) = struct.unpack("<d", msg[pos : pos + 8])
            pos += 8
        elif wtype == 2:
            ln, pos = _uvarint_dec(msg, pos)
            if ln < 0 or ln > PROTO_MSG_CAP or pos + ln > len(msg):
                raise ValueError("len")
            if fid == 2:
                text = msg[pos : pos + ln].decode("utf-8")
            pos += ln
        elif wtype == 5:
            if pos + 4 > len(msg):
                raise ValueError("i32")
            if fid == 5:
                (flag32,) = struct.unpack("<I", msg[pos : pos + 4])
            pos += 4
        else:
            raise ValueError(f"wire type {wtype}")  # groups: deprecated
    if doc_id is None or text is None:
        raise ValueError("required fields")
    return doc_id, text, n_chars, score, flag32


def proto_stream_walk(raw: bytes, cap: int = PROTO_MSG_CAP):
    """Walk a length-delimited message stream; returns decoded tuples,
    stopping at the first malformed frame (framing lost ⇒ every later
    boundary is a guess). Never raises."""
    out = []
    if not raw:
        return out
    pos = 0
    try:
        while pos < len(raw):
            ln, pos = _uvarint_dec(raw, pos)
            if ln < 0 or ln > cap or pos + ln > len(raw):
                return out
            out.append(proto_doc_decode(raw[pos : pos + ln]))
            pos += ln
    except ValueError:
        return out
    return out


_PROTO_ORACLE = """
SELECT doc_id,
  coalesce(text, '') AS text,
  CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
  CAST(doc_id AS DOUBLE) * 0.5 AS score,
  CAST(doc_id % 4294967296 AS BIGINT) AS flag32
FROM documents
"""


def _proto_batches(batches):
    """The per-batch body of ``scan_protobuf_stream``: one message
    stream per batch, walked back; a walk that stops short raises
    :class:`~dynamic_spark_spark.llmops.fixtures.UndecodableInputError`."""
    import pandas as pd

    for pdf in batches:
        records = [
            (int(i), t if isinstance(t, str) else "")
            for i, t in zip(pdf["doc_id"], pdf["text"])
        ]
        rows = proto_stream_walk(proto_stream_bytes(records))
        yield pd.DataFrame(
            require_rows("scan_protobuf_stream", pdf, rows),
            columns=["doc_id", "text", "n_chars", "score", "flag32"],
        )


@query("scan_protobuf_stream", _PROTO_ORACLE, tag="scan")
def scan_protobuf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format ingest: each Arrow batch of documents is
    serialized into one varint-length-delimited message stream (every
    live wire type exercised — VARINT ids/counts, LEN text, fixed64
    double, fixed32), then walked back by the GENERIC tag-dispatch
    decoder. The oracle recomputes every field in closed form, so the
    hash match proves varint, zigzag framing, IEEE fixed64, and UTF-8
    length decoding per row; unknown-field forward-compatibility is
    pinned separately in pytest (injected alien fields must not move
    any known value). Per-row mapInPandas, zero shuffle — the event-bus
    archive shape."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _proto_batches,
        "doc_id long, text string, n_chars long, score double, flag32 long",
    )


def proto_fields(msg: bytes):
    """Generic field iterator: yields ``(field_number, wire_type,
    value)`` with ints for VARINT/I64/I32 and bytes for LEN — the
    walk every protobuf consumer builds on (and the reader ORC's
    protobuf-encoded metadata needs). Raises ValueError on malformed
    input; callers catch and degrade."""
    pos = 0
    while pos < len(msg):
        tag, pos = _uvarint_dec(msg, pos)
        fid, wtype = tag >> 3, tag & 7
        if wtype == 0:
            val, pos = _uvarint_dec(msg, pos)
        elif wtype == 1:
            if pos + 8 > len(msg):
                raise ValueError("i64")
            val = int.from_bytes(msg[pos : pos + 8], "little")
            pos += 8
        elif wtype == 2:
            ln, pos = _uvarint_dec(msg, pos)
            if ln < 0 or ln > PROTO_MSG_CAP or pos + ln > len(msg):
                raise ValueError("len")
            val = msg[pos : pos + ln]
            pos += ln
        elif wtype == 5:
            if pos + 4 > len(msg):
                raise ValueError("i32")
            val = int.from_bytes(msg[pos : pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"wire type {wtype}")
        yield fid, wtype, val


def parse_orc_tail(raw: bytes):
    """Parse an ORC file's tail from raw bytes (ORC spec §'Postscript'/
    'Footer', public): the 1-byte postscript length at the very end, the
    UNCOMPRESSED protobuf postscript (footerLength, compression kind,
    ``ORC`` magic in field 8000), then the footer protobuf —
    ``numberOfRows`` (field 6) and each StripeInformation's row count
    (field 5 inside the field-3 list). Only compression NONE is in
    scope (the footer is otherwise chunk-framed by the file codec —
    refuse, don't guess). Returns ``(number_of_rows, [stripe_rows])``
    or None. Never raises."""
    try:
        if not raw or len(raw) < 4:
            return None
        ps_len = raw[-1]
        if ps_len == 0 or 1 + ps_len > len(raw):
            return None
        ps = raw[-1 - ps_len : -1]
        footer_len = compression = None
        magic_ok = False
        for fid, wt, val in proto_fields(ps):
            if fid == 1 and wt == 0:
                footer_len = val
            elif fid == 2 and wt == 0:
                compression = val
            elif fid == 8000 and wt == 2:
                magic_ok = val == b"ORC"
        if not magic_ok or footer_len is None:
            return None
        if compression not in (None, 0):
            return None  # compressed footer: out of scope
        start = len(raw) - 1 - ps_len - footer_len
        if start < 0:
            return None
        footer = raw[start : start + footer_len]
        nrows = None
        stripe_rows: list[int] = []
        for fid, wt, val in proto_fields(footer):
            if fid == 6 and wt == 0:
                nrows = val
            elif fid == 3 and wt == 2:
                for sfid, swt, sval in proto_fields(val):
                    if sfid == 5 and swt == 0:
                        stripe_rows.append(sval)
        if nrows is None:
            return None
        return nrows, stripe_rows
    except Exception:
        return None


_ORC_FOOTER_ORACLE = """
SELECT doc_id % 8 AS p,
  CAST(COUNT(*) AS BIGINT) AS footer_rows,
  CAST(COUNT(*) AS BIGINT) AS stripe_rows
FROM documents GROUP BY doc_id % 8
"""


@query("scan_orc_footer", _ORC_FOOTER_ORACLE, tag="scan")
def scan_orc_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-bytes ORC metadata audit — the protobuf twin of the parquet
    footer key, and the payoff of the GENERIC wire walker: ORC's
    postscript and footer are protobuf messages, so the same
    tag-dispatch iterator that ingests event streams reads the second
    columnar format's metadata with no ORC library. The key writes the
    documents table partitioned by ``doc_id % 8`` (compression NONE so
    the footer is plain protobuf), re-scans the files as binary, and
    sums both the footer ``numberOfRows`` and the per-stripe row counts
    per partition value against closed-form counts — one hash match
    proves the postscript walk, the magic/compression validation, and
    the nested StripeInformation decode together. The only shuffle
    carries 8 partition aggregates."""
    from pyspark.sql import functions as F

    from dynamic_spark_spark.llmops.fixtures import (
        scan_files,
        staged_fixture_dir,
    )

    def write(path: str) -> None:
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", (F.col("doc_id") % 8).alias("p")
        )
        d.repartition(8, "p").write.mode("overwrite").option(
            "compression", "none"
        ).partitionBy("p").orc(path)

    out = staged_fixture_dir(spark, sf_dir, "orcfooter", write)
    per_file = scan_files(spark, "orcfooter", out, "*.orc",
                          "p long, footer_rows long, stripe_rows long",
                          _decode_orc_footer, partitioned=True)
    return per_file.groupBy("p").agg(
        F.sum("footer_rows").alias("footer_rows"),
        F.sum("stripe_rows").alias("stripe_rows"),
    )


def _decode_orc_footer(raw: bytes, p: int):
    import pandas as pd

    parsed = parse_orc_tail(raw)
    if parsed is None:
        return None
    return pd.DataFrame({"p": [p], "footer_rows": [parsed[0]],
                         "stripe_rows": [sum(parsed[1])]})
