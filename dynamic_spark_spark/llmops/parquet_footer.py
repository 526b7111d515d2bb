"""Parquet footer parse — byte-level verification of the engine's own
storage format.

Everything in this engine rides on parquet; this module proves the repo
can read the format's METADATA layer from raw bytes, with no parquet
library: the ``PAR1`` magic frame, the little-endian footer length, and
the Thrift **compact protocol** encoding of ``FileMetaData``
(parquet-format/src/main/thrift/parquet.thrift, public). That is the
layer a 100-TB operator actually debugs — row-group sizing, rows per
file, pruning effectiveness — and reading it independently of the reader
under test is how you audit a corrupted shard.

The compact-protocol walker is general (all 13 wire types, nested
structs/lists/maps, zigzag varints) but extracts only what the key
checks: file ``num_rows`` (field 3) and each ``RowGroup.num_rows``
(field 3 inside the field-4 list). Degrade-don't-die: never raises,
bounded by input length and a struct-depth cap.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_spark_spark.llmops.protowire import _uvarint_dec
from dynamic_spark_spark.registry import query

_MAX_DEPTH = 24


class _Compact:
    """Thrift compact-protocol reader (public spec:
    thrift/doc/specs/thrift-compact-protocol.md). Raises ValueError on
    malformed input; the entry point catches and degrades."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def varint(self) -> int:
        out, self.pos = _uvarint_dec(self.data, self.pos)
        return out

    def zigzag(self) -> int:
        v = self.varint()
        return (v >> 1) ^ -(v & 1)

    def skip(self, wtype: int, depth: int) -> None:
        if depth > _MAX_DEPTH:
            raise ValueError("depth")
        if wtype in (1, 2):  # BOOL encoded in the field header
            return
        if wtype == 3:  # byte
            self.pos += 1
        elif wtype in (4, 5, 6):  # i16/i32/i64 zigzag varints
            self.zigzag()
        elif wtype == 7:  # double: 8 fixed bytes
            self.pos += 8
        elif wtype == 8:  # binary: varint length + bytes
            n = self.varint()
            if n < 0 or self.pos + n > len(self.data):
                raise ValueError("binary")
            self.pos += n
        elif wtype in (9, 10):  # list/set
            self.skip_list(depth)
        elif wtype == 11:  # map: varint size, then (if size) one kv-type byte
            size = self.varint()
            if size:
                kv = self.data[self.pos]
                self.pos += 1
                for _ in range(size):
                    self.skip(kv >> 4, depth + 1)
                    self.skip(kv & 0xF, depth + 1)
        elif wtype == 12:  # struct
            self.skip_struct(depth)
        else:
            raise ValueError(f"wire type {wtype}")
        if self.pos > len(self.data):
            raise ValueError("overrun")

    def list_header(self) -> tuple[int, int]:
        head = self.data[self.pos]
        self.pos += 1
        size = head >> 4
        if size == 15:
            size = self.varint()
        return size, head & 0xF

    def skip_list(self, depth: int) -> None:
        size, etype = self.list_header()
        for _ in range(size):
            self.skip(etype, depth + 1)

    def skip_struct(self, depth: int) -> None:
        last_fid = 0
        while True:
            fid, wtype = self.field_header(last_fid)
            if wtype == 0:
                return
            last_fid = fid
            self.skip(wtype, depth + 1)

    def field_header(self, last_fid: int) -> tuple[int, int]:
        if self.pos >= len(self.data):
            raise ValueError("eof")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0:
            return 0, 0  # STOP
        wtype = b & 0xF
        delta = b >> 4
        fid = last_fid + delta if delta else self.zigzag()
        return fid, wtype


def parse_parquet_footer(raw: bytes):
    """Parse a parquet file's footer: returns ``(num_rows,
    row_group_rows)`` where ``row_group_rows`` is the list of per-group
    ``num_rows`` — or None for anything malformed (bad magic, lying
    footer length, thrift decode failure). Never raises."""
    try:
        return _parse_inner(raw)
    except Exception:
        return None


def _parse_inner(raw: bytes):
    if not raw or len(raw) < 12:
        return None
    if raw[:4] != b"PAR1" or raw[-4:] != b"PAR1":
        return None
    (flen,) = struct.unpack("<I", raw[-8:-4])
    start = len(raw) - 8 - flen
    if flen <= 0 or start < 4:
        return None
    c = _Compact(raw, start)
    num_rows = None
    rg_rows: list[int] = []
    last_fid = 0
    while True:
        fid, wtype = c.field_header(last_fid)
        if wtype == 0:
            break
        last_fid = fid
        if fid == 3 and wtype == 6:  # FileMetaData.num_rows
            num_rows = c.zigzag()
        elif fid == 4 and wtype == 9:  # row_groups: list<RowGroup>
            size, etype = c.list_header()
            if etype != 12:
                return None
            for _ in range(size):
                rg_last = 0
                rg_n = None
                while True:
                    rfid, rtype = c.field_header(rg_last)
                    if rtype == 0:
                        break
                    rg_last = rfid
                    if rfid == 3 and rtype == 6:  # RowGroup.num_rows
                        rg_n = c.zigzag()
                    else:
                        c.skip(rtype, 0)
                if rg_n is None:
                    return None
                rg_rows.append(rg_n)
        else:
            c.skip(wtype, 0)
    if num_rows is None:
        return None
    return num_rows, rg_rows


_FOOTER_ORACLE = """
SELECT doc_id % 8 AS p,
  CAST(COUNT(*) AS BIGINT) AS footer_rows,
  CAST(COUNT(*) AS BIGINT) AS rg_rows
FROM documents GROUP BY doc_id % 8
"""


@query("scan_parquet_footer", _FOOTER_ORACLE, tag="scan")
def scan_parquet_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-bytes parquet footer audit: write the documents table
    partitioned by ``doc_id % 8``, re-scan the produced files as BINARY,
    and parse each footer's Thrift compact metadata BY HAND (PAR1 frame,
    footer length, FileMetaData walk). Per partition value the key sums
    both the file-level ``num_rows`` and the per-row-group ``num_rows``
    and the oracle checks both against the closed-form counts — so a
    hash match proves the varint/zigzag/field-header walk reads the real
    layout Spark's writer produced, independent of any parquet library.
    This is the 100-TB audit tool: when a shard is suspect, the footer
    is what you read first, and the reader that reads it must not be the
    reader under suspicion. The only shuffle carries 8 partition
    aggregates."""
    from dynamic_spark_spark.llmops.fixtures import (
        scan_files,
        staged_fixture_dir,
        write_documents_by_p8_parquet,
    )

    out = staged_fixture_dir(
        spark, sf_dir, "footer",
        lambda path: write_documents_by_p8_parquet(spark, sf_dir, path),
    )
    per_file = scan_files(spark, "footer", out, "*.parquet",
                          "p long, footer_rows long, rg_rows long",
                          _decode_footer, partitioned=True)
    return per_file.groupBy("p").agg(
        F.sum("footer_rows").alias("footer_rows"),
        F.sum("rg_rows").alias("rg_rows"),
    )


def _decode_footer(raw: bytes, p: int):
    import pandas as pd

    parsed = parse_parquet_footer(raw)
    if parsed is None:
        return None
    return pd.DataFrame({"p": [p], "footer_rows": [parsed[0]],
                         "rg_rows": [sum(parsed[1])]})
