"""TFRecord shard ingest — the training-data framing, walked for real.

TFRecord (TensorFlow's record format; public, `tensorflow/core/lib/io/
record_writer.cc`) is the length-delimited framing a large share of ML
training corpora actually ship in: each record is

    uint64 little-endian  length
    uint32 little-endian  masked CRC-32C of the 8 length bytes
    byte[length]          data
    uint32 little-endian  masked CRC-32C of the data

with Castagnoli CRC-32C (polynomial 0x1EDC6F41, reflected 0x82F63B78) and
the mask ``((crc >> 15) | (crc << 17)) + 0xA282EAD8 (mod 2^32)``. Both
checksums are verified on read; framing makes the stream SEQUENTIALLY
splittable the same way WARC/tar are — a reader can resynchronize only at
record boundaries it walked to, so the cluster split unit is the shard
file (which is why TFRecord corpora ship as many `.tfrecord-NNNNN-of-MMMMM`
shards — the layout note the key documents).

The walker obeys the container discipline of :mod:`llmops.containers`:
never raises, refuses lying/bomb lengths BEFORE allocation, verifies both
CRCs, degrades to the records that actually check out.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from dynamic_spark_spark.llmops.fixtures import map_rows, require_rows
from dynamic_spark_spark.registry import query
from dynamic_spark_spark.sources.readers import load_table

#: per-record cap — same resource-bomb discipline as ZIP_MEMBER_CAP
TFRECORD_CAP = 4 << 20

# CRC-32C (Castagnoli), reflected polynomial 0x82F63B78 — table-driven.
_CRC32C_TABLE = np.zeros(256, dtype=np.uint32)
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ (0x82F63B78 if _c & 1 else 0)
    _CRC32C_TABLE[_i] = _c


def crc32c(data: bytes) -> int:
    """Pure-Python table-driven CRC-32C (Castagnoli) — the checksum
    TFRecord, iSCSI, and ext4 all use; kept independent of zlib's CRC-32
    (different polynomial)."""
    tab = _CRC32C_TABLE
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ int(tab[(crc ^ b) & 0xFF])
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's masked CRC: rotate right 15, add the mask constant —
    the transform that keeps a CRC of a CRC from looking valid."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def tfrecord_bytes(payloads: list[bytes]) -> bytes:
    """Write a TFRecord stream: length + masked length-CRC + data +
    masked data-CRC per record (the exact record_writer.cc layout)."""
    out = bytearray()
    for data in payloads:
        hdr = struct.pack("<Q", len(data))
        out += hdr
        out += struct.pack("<I", masked_crc32c(hdr))
        out += data
        out += struct.pack("<I", masked_crc32c(data))
    return bytes(out)


def tfrecord_walk(raw: bytes, cap: int = TFRECORD_CAP):
    """Walk a TFRecord stream and return ``(offset, length, crc_ok,
    data)`` per record. Never raises; a lying length (past the cap or the
    buffer) or a corrupt LENGTH crc stops the walk (once framing is
    untrustworthy every later boundary is a guess — same refusal rule as
    the tar walker); a bad DATA crc flags that record ``crc_ok=False``
    but keeps walking (framing is still sound)."""
    out = []
    if not raw:
        return out
    pos = 0
    n = len(raw)
    while pos + 12 <= n:
        hdr = raw[pos : pos + 8]
        (length,) = struct.unpack("<Q", hdr)
        (len_crc,) = struct.unpack("<I", raw[pos + 8 : pos + 12])
        if masked_crc32c(hdr) != len_crc:
            break  # framing lost: refuse the tail, keep what checked out
        if length > cap or pos + 12 + length + 4 > n:
            break  # bomb or truncated record: refuse before slicing
        data = raw[pos + 12 : pos + 12 + length]
        (data_crc,) = struct.unpack(
            "<I", raw[pos + 12 + length : pos + 16 + length]
        )
        out.append(
            (pos, length, masked_crc32c(data) == data_crc, data)
        )
        pos += 16 + length
    return out


_TFRECORD_ORACLE = """
SELECT doc_id,
  CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS rec_len,
  TRUE AS crc_ok,
  coalesce(text, '') AS text
FROM documents
"""

_TFRECORD_SCHEMA = "doc_id long, rec_len long, crc_ok boolean, text string"


def _tfrecord_batches(batches):
    """The per-batch body of ``scan_tfrecord``: one TFRecord stream per
    batch, walked back; a walk that stops short raises
    :class:`~dynamic_spark_spark.llmops.fixtures.UndecodableInputError`."""
    import pandas as pd

    for pdf in batches:
        payloads = [
            (t if isinstance(t, str) else "").encode("utf-8")
            for t in pdf["text"]
        ]
        walk = require_rows(
            "scan_tfrecord", pdf, tfrecord_walk(tfrecord_bytes(payloads))
        )
        rows = [
            (int(doc_id), length, crc_ok, data.decode("utf-8"))
            for (_off, length, crc_ok, data), doc_id in zip(walk, pdf["doc_id"])
        ]
        yield pd.DataFrame(rows, columns=["doc_id", "rec_len", "crc_ok", "text"])


@query("scan_tfrecord", _TFRECORD_ORACLE, tag="scan")
def scan_tfrecord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord shard ingest: batch the scan's documents into per-task
    TFRecord streams worker-side (REAL masked-CRC-32C framing), walk each
    stream back with the verifying reader, and emit the recovered
    records. A hash match against the closed-form oracle proves the
    write → frame-walk → double-CRC-verify chain lossless per document —
    with the CRC-32C implementation itself pinned against published test
    vectors in pytest. The batching matters: unlike the per-document
    archive keys, ONE stream carries a whole Arrow batch of records, so
    the walk is exercised across record boundaries, not just on
    singletons. The oracle's ``rec_len`` is byte-based
    (``octet_length(encode(...))``), so a non-ASCII corpus stays green
    (r10 ADVICE). Per-row mapInPandas, no shuffle; shard-per-task is exactly
    how a cluster reads `.tfrecord-NNNNN-of-MMMMM` layouts."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(_tfrecord_batches, _TFRECORD_SCHEMA)


_TFRECORD_STREAM_ORACLE = """
SELECT doc_id,
  CAST(octet_length(encode(CAST(doc_id AS VARCHAR) || '|'
                           || coalesce(text, ''))) AS BIGINT) AS rec_len,
  TRUE AS crc_ok,
  coalesce(text, '') AS text
FROM documents
"""


@query("stream_tfrecord_ingest", _TFRECORD_STREAM_ORACLE, tag="streaming")
def stream_tfrecord_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord ingest as a REAL stream — the continuous-training-data
    intake shape: multi-record TFRecord streams are staged as blobs (one
    stream per Arrow batch of documents, so records cross boundaries
    inside each blob), an availableNow file stream picks them up, and
    :func:`tfrecord_walk` verifies BOTH masked CRCs per record INSIDE the
    stream (stateless mapInPandas on the streaming frame). Document
    identity is recovered from the record's own payload (``doc_id|text``
    framing) — the honest posture where nothing outside the bytes
    identifies the record. The oracle recomputes the framed length and
    text in closed form, so the driver hash-proves the streamed
    frame-walk against SQL. Scale shape: stateless stream transform (no
    state store, no watermark); drain width = file parallelism, the
    continuously-arriving-shard layout."""
    import shutil
    import tempfile

    import pandas as pd

    from dynamic_spark_spark.streaming.core import drain, file_stream

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="dss_tfrecstream_src_")
    try:
        def stage(batches):
            for pdf in batches:
                payloads = [
                    (f"{int(i)}|" + (t if isinstance(t, str) else "")).encode(
                        "utf-8"
                    )
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ]
                if payloads:
                    yield pd.DataFrame(
                        {"value": [tfrecord_bytes(payloads)]}
                    )

        staged = d.mapInPandas(stage, "value binary")
        staged.write.mode("overwrite").parquet(src)

        def parse(blob):
            rows = []
            for _off, length, crc_ok, data in tfrecord_walk(bytes(blob)):
                did, _, body = data.decode("utf-8").partition("|")
                rows.append((int(did), length, crc_ok, body))
            return rows

        stream = file_stream(spark, src, staged.schema)
        parsed = map_rows(
            stream, "stream_tfrecord_ingest", _TFRECORD_SCHEMA, parse
        )
        return drain(parsed, "stream_tfrecord_ingest", src)
    finally:
        shutil.rmtree(src, ignore_errors=True)
