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

:func:`parse_parquet_meta` is the ONE parse of that layer: file bytes →
one :class:`ParquetMeta` record (file and row-group row counts, the
schema tree, and one :class:`ParquetChunk` per ColumnChunk with its
codec, value count, page offsets, Statistics min/max and page-index and
bloom-filter pointers). Every raw parquet reader and audit
(:mod:`parquet_raw`) and the footer key here read that record, and each
reads its file's footer once. A ColumnChunk missing a field the thrift
marks required refuses the whole file: a reader handed fewer chunks
than the file has would return fewer rows without an error.

The compact-protocol walker is general (all 13 wire types, nested
structs/lists/maps, zigzag varints). Degrade-don't-die: never raises,
bounded by input length and a struct-depth cap.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

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
            self.binary()
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

    def binary(self) -> bytes:
        n = self.varint()
        end = self.pos + n
        if end > len(self.data):
            raise ValueError("binary")
        out = self.data[self.pos : end]
        self.pos = end
        return out

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

    def fields(self):
        """Yield ``(field id, wire type)`` for each field of the struct
        at ``pos`` up to its STOP; the caller reads or skips each value
        before asking for the next field."""
        last_fid = 0
        while True:
            fid, wtype = self.field_header(last_fid)
            if wtype == 0:
                return
            last_fid = fid
            yield fid, wtype

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


class ParquetChunk:
    """One ColumnChunk of the footer. ``path`` (dotted
    ``path_in_schema``), ``codec``, ``num_values`` and ``data_off`` are
    always set — the parse refuses a chunk without them. The rest are
    None when the writer left them out: ``dict_off`` (dictionary page),
    ``stat_min``/``stat_max`` (Statistics ``min_value``/``max_value``
    bytes, PLAIN per the physical type), ``stat_nulls`` (Statistics
    ``null_count``), ``oi_off``/``oi_len`` and
    ``ci_off``/``ci_len`` (OffsetIndex/ColumnIndex), and
    ``bloom_off``/``bloom_len`` (split-block bloom filter)."""

    __slots__ = ("path", "codec", "num_values", "data_off", "dict_off",
                 "stat_min", "stat_max", "stat_nulls", "oi_off", "oi_len",
                 "ci_off", "ci_len", "bloom_off", "bloom_len")

    def __init__(self) -> None:
        for name in self.__slots__:
            setattr(self, name, None)

    @property
    def first_page(self) -> int:
        """Where the chunk's page walk starts: the dictionary page sits
        BEFORE ``data_page_offset`` when present."""
        return self.dict_off if self.dict_off is not None else self.data_off


class ParquetMeta(NamedTuple):
    """A file's FileMetaData: ``schema`` maps each dotted leaf path to
    its :class:`_Leaf`, ``tree`` holds the root-child :class:`_Tree`
    nodes, and ``chunks`` every :class:`ParquetChunk` in file order."""

    num_rows: int
    row_group_rows: list
    schema: dict
    tree: list
    chunks: list


#: ColumnChunk (field id, wire type) → ParquetChunk attribute
_CHUNK_INTS = {(4, 6): "oi_off", (5, 5): "oi_len", (6, 6): "ci_off",
               (7, 5): "ci_len"}
#: ColumnMetaData (field id, wire type) → ParquetChunk attribute
_COLUMN_META_INTS = {(4, 5): "codec", (5, 6): "num_values",
                     (9, 6): "data_off", (11, 6): "dict_off",
                     (14, 6): "bloom_off", (15, 5): "bloom_len"}


def parse_parquet_meta(raw: bytes):
    """The one parse of a parquet file's metadata: the ``PAR1`` frame,
    the footer length, and the FileMetaData walk → :class:`ParquetMeta`,
    or None for anything malformed (bad magic, lying footer length,
    thrift decode failure, a schema that does not parse, a row group
    without ``num_rows``, a ColumnChunk without a required field).
    Never raises."""
    if not raw or len(raw) < 12 or raw[:4] != b"PAR1" or raw[-4:] != b"PAR1":
        return None
    (flen,) = struct.unpack("<I", raw[-8:-4])
    start = len(raw) - 8 - flen
    if flen <= 0 or start < 4:
        return None
    try:
        return _file_meta(_Compact(raw, start))
    except Exception:
        return None


def _file_meta(c: _Compact):
    num_rows = None
    rg_rows: list[int] = []
    schema: dict = {}
    tree: list = []
    chunks: list = []
    for fid, wtype in c.fields():
        if fid == 2 and wtype == 9:  # schema: list<SchemaElement>
            got = _parse_schema(c)
            if got is None:
                return None
            schema, tree = got
        elif fid == 3 and wtype == 6:  # num_rows
            num_rows = c.zigzag()
        elif fid == 4 and wtype == 9:  # row_groups: list<RowGroup>
            size, etype = c.list_header()
            if etype != 12:
                return None
            for _ in range(size):
                rows = _row_group(c, chunks)
                if rows is None:
                    return None
                rg_rows.append(rows)
        else:
            c.skip(wtype, 0)
    if num_rows is None:
        return None
    return ParquetMeta(num_rows, rg_rows, schema, tree, chunks)


def _row_group(c: _Compact, chunks: list):
    """One RowGroup: appends its ColumnChunks to ``chunks`` and returns
    its ``num_rows``, or None when a chunk or the row count is
    missing."""
    rows = None
    for fid, wtype in c.fields():
        if fid == 1 and wtype == 9:  # columns: list<ColumnChunk>
            size, etype = c.list_header()
            if etype != 12:
                return None
            for _ in range(size):
                chunk = _column_chunk(c)
                if chunk is None:
                    return None
                chunks.append(chunk)
        elif fid == 3 and wtype == 6:  # num_rows
            rows = c.zigzag()
        else:
            c.skip(wtype, 0)
    return rows


def _column_chunk(c: _Compact):
    """One ColumnChunk → :class:`ParquetChunk`, or None when a field
    parquet.thrift marks required is missing."""
    ch = ParquetChunk()
    for fid, wtype in c.fields():
        if (fid, wtype) in _CHUNK_INTS:
            setattr(ch, _CHUNK_INTS[fid, wtype], c.zigzag())
        elif fid == 3 and wtype == 12:  # meta_data: ColumnMetaData
            _column_meta(c, ch)
        else:
            c.skip(wtype, 0)
    if None in (ch.path, ch.codec, ch.num_values, ch.data_off):
        return None
    return ch


def _column_meta(c: _Compact, ch: ParquetChunk) -> None:
    for fid, wtype in c.fields():
        if (fid, wtype) in _COLUMN_META_INTS:
            setattr(ch, _COLUMN_META_INTS[fid, wtype], c.zigzag())
        elif fid == 3 and wtype == 9:  # path_in_schema: list<string>
            size, etype = c.list_header()
            if etype != 8:
                raise ValueError("path_in_schema")
            ch.path = ".".join(
                c.binary().decode("utf-8") for _ in range(size)
            )
        elif fid == 12 and wtype == 12:  # statistics: Statistics
            for sfid, stype in c.fields():
                if sfid == 3 and stype == 6:  # null_count
                    ch.stat_nulls = c.zigzag()
                elif sfid == 5 and stype == 8:  # max_value
                    ch.stat_max = c.binary()
                elif sfid == 6 and stype == 8:  # min_value
                    ch.stat_min = c.binary()
                else:
                    c.skip(stype, 0)
        else:
            c.skip(wtype, 0)


# ---------------------------------------------------------------------------
# schema tree
# ---------------------------------------------------------------------------


class _Leaf:
    """One leaf column from the schema tree, with the Dremel level
    bookkeeping the data pages are encoded against: ``max_def``/
    ``max_rep`` (every optional-or-repeated ancestor bumps def, every
    repeated ancestor bumps rep) and ``rep_def`` — the definition level
    OF the (single) repeated ancestor, the threshold that separates
    "this slot is an element" (def >= rep_def) from "the list is empty
    or null" (def < rep_def). ``flat`` marks the columns the scalar
    readers accept (no repeated ancestor, depth 1); ``listlike`` marks
    the ONE nested shape the list reader accepts (exactly one repeated
    ancestor, scalar leaf — the standard 3-level LIST and the legacy
    2-level form both reduce to it). ``converted`` is the legacy
    ConvertedType annotation (DATE=6, TIMESTAMP_MILLIS=9,
    TIMESTAMP_MICROS=10) the temporal tier dispatches on. ``elem_def``
    is the definition level OF the element node (the child of the
    repeated ancestor on this leaf's path — the leaf itself for
    ``list<scalar>``, the struct group for ``list<struct>``): a slot
    whose def is below it is a NULL ELEMENT, at-or-above it the element
    exists and per-leaf defs distinguish field-null from value."""

    __slots__ = ("typ", "optional", "tlen", "max_def", "max_rep",
                 "rep_def", "flat", "listlike", "converted", "elem_def",
                 "rep_defs", "logical")

    def __init__(self, typ, optional, tlen, max_def, max_rep, rep_def,
                 flat, listlike, converted, elem_def, rep_defs,
                 logical=None) -> None:
        self.typ = typ
        self.optional = optional
        self.tlen = tlen
        self.max_def = max_def
        self.max_rep = max_rep
        self.rep_def = rep_def
        self.flat = flat
        self.listlike = listlike
        self.converted = converted
        self.elem_def = elem_def
        #: def level of EVERY repeated ancestor, outermost first — the
        #: per-level thresholds the multi-level (list<list<...>>)
        #: assembly nests by; rep_def == rep_defs[-1] when any
        self.rep_defs = rep_defs
        #: which LogicalType union member is set (SchemaElement field
        #: 10; r13) — the tag only, no parameters: FLOAT16=15 is what
        #: the value decode dispatches on (fp16 has NO legacy
        #: ConvertedType, so ``converted`` can't carry it)
        self.logical = logical


class _Tree:
    """One PHYSICAL schema-tree node — what the full record assembly
    (:func:`read_parquet_record_column`) walks: groups keep their
    children in declaration order, and every node carries the def/rep
    levels accumulated on its path so boundary decisions (null vs
    empty vs value) read directly off the node."""

    __slots__ = ("name", "typ", "rep", "d", "r", "children", "tlen",
                 "conv", "scale", "path", "logical")

    def __init__(self, name, typ, rep, d, r, tlen, conv, scale,
                 path, logical=None) -> None:
        self.name = name
        self.typ = typ
        self.rep = rep or 0
        self.d = d
        self.r = r
        self.children: list = []
        self.tlen = tlen
        self.conv = conv
        self.scale = scale
        self.path = path
        self.logical = logical  # LogicalType union tag (FLOAT16=15)


def _parse_schema(c: _Compact):
    """Parse FileMetaData.schema (list<SchemaElement>, depth-first) into
    ``({dotted_path: _Leaf}, [root-child _Tree nodes])``. The scalar
    readers accept ``flat`` leaves only (flat REQUIRED columns carry NO
    levels, flat OPTIONAL carry def levels only — parquet-format.md);
    the list reader accepts ``listlike`` leaves; the record assembly
    walks the tree; everything else is refused explicitly instead of
    misparsed."""
    size, etype = c.list_header()
    if etype != 12:
        return None
    elems = []
    for _ in range(size):
        typ = rep = nch = None
        tlen = 0
        conv = None
        scale = 0
        name = None
        logical = None
        for fid, wtype in c.fields():
            if fid == 1 and wtype == 5:
                typ = c.zigzag()
            elif fid == 2 and wtype == 5:
                tlen = c.zigzag()
            elif fid == 3 and wtype == 5:
                rep = c.zigzag()
            elif fid == 4 and wtype == 8:
                name = c.binary().decode("utf-8")
            elif fid == 5 and wtype == 5:
                nch = c.zigzag()
            elif fid == 6 and wtype == 5:
                conv = c.zigzag()
            elif fid == 7 and wtype == 5:
                scale = c.zigzag()
            elif fid == 10 and wtype == 12:
                # LogicalType (r13): a thrift union — exactly one member
                # struct is set; its FIELD ID is the tag (FLOAT16=15,
                # the one type with no legacy ConvertedType twin).
                # Record the tag, skip the member's parameters.
                for lfid, lwtype in c.fields():
                    if logical is None:
                        logical = lfid
                    c.skip(lwtype, 0)
            else:
                c.skip(wtype, 0)
        elems.append((typ, rep, name, nch or 0, tlen, conv, scale,
                      logical))
    schema: dict[str, _Leaf] = {}
    roots: list[_Tree] = []
    if not elems:
        return schema, roots
    # depth-first walk: the root's num_children frames the tree; each
    # stack entry carries [children_left, path, def_level, rep_level,
    # rep_def, elem_def, is_repeated_node] where rep_def is the
    # definition level of the NEAREST repeated ancestor so far (0 when
    # none) and elem_def the def level of that ancestor's direct child
    # on this path (the element node)
    # stack frames additionally carry [8] the parent _Tree node (None
    # for root children) so the physical tree builds alongside the walk
    stack: list[list] = [[elems[0][3], [], 0, 0, 0, 0, False, (), None]]
    i = 1
    while i < len(elems):
        while stack and stack[-1][0] == 0:
            stack.pop()
        if not stack:
            break
        typ, rep, name, nch, tlen, conv, scale, logical = elems[i]
        i += 1
        stack[-1][0] -= 1
        path = stack[-1][1] + [name or ""]
        d, r, rd, ed, rds = (stack[-1][2], stack[-1][3], stack[-1][4],
                             stack[-1][5], stack[-1][7])
        if rep == 1:  # OPTIONAL
            d += 1
        elif rep == 2:  # REPEATED
            d += 1
            r += 1
            rd = d  # this node IS the repeated ancestor from here down
            rds = rds + (d,)
        if rep == 2:
            ed = d  # a repeated LEAF is its own element; a repeated
            #         GROUP's children refine this below
        elif stack[-1][6]:  # direct child of a single-child repeated
            ed = d  # group: the LIST element node
        tnode = _Tree(name or "", typ, rep, d, r, tlen, conv, scale,
                      ".".join(path), logical)
        parent = stack[-1][8]
        if parent is None:
            roots.append(tnode)
        else:
            parent.children.append(tnode)
        if nch:
            # a repeated group with ONE child is the 3-level LIST shape
            # (the child is the element node and sets elem_def); with
            # MANY children it is itself the element (the MAP/key_value
            # shape — element-null is impossible, elem_def stays at the
            # repeated node's level)
            stack.append(
                [nch, path, d, r, rd, ed, rep == 2 and nch == 1, rds,
                 tnode]
            )
        else:
            flat = r == 0 and len(path) == 1 and typ is not None
            listlike = r == 1 and typ is not None
            schema[".".join(path)] = _Leaf(
                typ, rep == 1, tlen, d, r, rd, flat, listlike, conv, ed,
                rds, logical,
            )
    return schema, roots


def parse_parquet_footer(raw: bytes):
    """Parse a parquet file's footer: returns ``(num_rows,
    row_group_rows)`` where ``row_group_rows`` is the list of per-group
    ``num_rows`` — or None for anything :func:`parse_parquet_meta`
    refuses. Never raises."""
    meta = parse_parquet_meta(raw)
    return None if meta is None else (meta.num_rows, meta.row_group_rows)


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
