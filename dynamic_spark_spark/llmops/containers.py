"""ZIP and tar container ingest — dataset archives, walked for real.

Training corpora are routinely distributed as ZIP archives (image sets,
scraped-document dumps, per-shard bundles). This module implements the
reader the way the crawl tier reads WARC: a REAL parser over the raw
bytes (APPNOTE.TXT / ISO 21320 layout, public) rather than a library
call, so malformed archives degrade instead of raising and every
allocation is bounded:

- :func:`zip_member_walk` — locate the end-of-central-directory record
  (bounded tail scan), walk the central directory entries, cross-check
  each against its local file header, inflate (or copy) the member under
  a hard size cap, and CRC-32-verify the content;
- :func:`scan_zip_members` — the registered key: per-document archives
  synthesized with the stdlib writer (one STORED and two DEFLATED
  members whose contents derive from ``documents.text``), walked by the
  real parser, hash-proven against a DuckDB oracle that computes the
  member inventory (names, methods, sizes, CRC validity) from closed
  form without touching ZIP;
- :func:`tar_member_walk` / :func:`scan_tar_members` — the ustar twin
  (octal fields, spaces-substituted header checksum, 512-byte block
  walk), the SEQUENTIAL framing that splits like WARC on a cluster.

Reference basis: the reference engine's source surface is generic
file-format plugins (docs/ScalaSparkCompute-sparkcompute.md:5-6 names
arbitrary Spark-expressible sources); archive ingest is the packaging
variant a dataset user hits first. Synthesis uses ``zipfile`` (writing
is not under test); the PARSER is hand-rolled because the read path is
the 100-TB surface and must obey the degrade-don't-die contract.
"""

from __future__ import annotations

import struct
import zlib
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from dynamic_spark_spark.llmops.fixtures import map_rows
from dynamic_spark_spark.registry import query
from dynamic_spark_spark.sources.readers import load_table

#: per-member decompressed cap — same resource-bomb discipline as the gzip
#: WARC walker; a member claiming/producing more is refused in O(cap).
ZIP_MEMBER_CAP = 4 << 20

_EOCD_SIG = b"PK\x05\x06"
_CDIR_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"
_EOCD64_SIG = b"PK\x06\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"


def _zip64_extra(extra: bytes, sent: list[bool]):
    """Parse the ZIP64 extended-information extra field (id 0x0001,
    APPNOTE 4.5.3). Strict writers store 8-byte values for ONLY the
    header fields at their 0xFFFFFFFF sentinel, in fixed order (uncomp,
    comp, local_off, disk); permissive writers in the wild store the
    FULL record (24 bytes, or 28 with the 4-byte disk number) no matter
    which fields overflowed — APPNOTE tolerates both, and reading the
    full form as if it were tight consumes e.g. uncomp_len as comp_len
    (the r10 ADVICE finding). ``sent`` flags which of (uncomp, comp,
    local_off) are at sentinel; returns their values in field order, or
    None when the data genuinely can't satisfy them."""
    needed = sum(sent)
    pos = 0
    while pos + 4 <= len(extra):
        fid, flen = struct.unpack("<HH", extra[pos : pos + 4])
        data = extra[pos + 4 : pos + 4 + flen]
        if len(data) < flen:
            return None
        if fid != 0x0001:
            pos += 4 + flen
            continue
        if flen == 8 * needed:  # tight form: sentinel fields only
            return list(struct.unpack(f"<{needed}Q", data))
        if flen in (24, 28):  # full record: index positionally
            vals = struct.unpack("<3Q", data[:24])
            return [vals[i] for i, s in enumerate(sent) if s]
        return None  # short or ambiguous layout: refuse, don't guess
    return None


def zip_member_walk(raw: bytes, cap: int = ZIP_MEMBER_CAP):
    """Walk a ZIP archive's central directory and return
    ``(name, method, uncomp_len, crc_ok, content)`` per member, or an
    empty list for anything malformed. Never raises. The walk is
    central-directory-driven (the authoritative index per APPNOTE), each
    entry is cross-checked against its local header, only STORED (0) and
    DEFLATED (8) members are materialized, and both the declared and the
    actual inflated sizes are capped."""
    out = []
    if not raw or len(raw) < 22:
        return out
    # EOCD: scan the last 64 KiB + 22 for the signature (comment may follow)
    tail_start = max(0, len(raw) - (22 + 0xFFFF))
    eocd = raw.rfind(_EOCD_SIG, tail_start)
    if eocd < 0 or eocd + 22 > len(raw):
        return out
    n_entries, cd_size, cd_off = struct.unpack(
        "<HI I", raw[eocd + 10 : eocd + 20]
    )
    if n_entries == 0xFFFF or cd_size == 0xFFFFFFFF or cd_off == 0xFFFFFFFF:
        # ZIP64 (APPNOTE 4.3.14): the locator sits immediately before the
        # EOCD and points at the 64-bit EOCD record carrying the real
        # count/size/offset that overflowed the classic 16/32-bit fields.
        loc = eocd - 20
        if loc < 0 or raw[loc : loc + 4] != _EOCD64_LOC_SIG:
            return out
        e64_off = struct.unpack("<Q", raw[loc + 8 : loc + 16])[0]
        if e64_off + 56 > len(raw) or raw[e64_off : e64_off + 4] != _EOCD64_SIG:
            return out
        n_entries, cd_size, cd_off = struct.unpack(
            "<QQQ", raw[e64_off + 32 : e64_off + 56]
        )
        if n_entries > 1 << 20:  # index-bomb guard: refuse absurd counts
            return out
    if cd_off + cd_size > eocd:
        return out
    pos = cd_off
    for _ in range(n_entries):
        if raw[pos : pos + 4] != _CDIR_SIG or pos + 46 > len(raw):
            return out  # corrupt index: refuse the whole archive
        method = struct.unpack("<H", raw[pos + 10 : pos + 12])[0]
        # +12..+16 are the DOS mod time/date, irrelevant to the walk
        crc, comp_len, uncomp_len, name_len, extra_len, comment_len = (
            struct.unpack("<I I I H H H", raw[pos + 16 : pos + 34])
        )
        local_off = struct.unpack("<I", raw[pos + 42 : pos + 46])[0]
        name_bytes = raw[pos + 46 : pos + 46 + name_len]
        if len(name_bytes) < name_len:
            return out
        extra_bytes = raw[pos + 46 + name_len : pos + 46 + name_len + extra_len]
        pos += 46 + name_len + extra_len + comment_len
        try:
            name = name_bytes.decode("utf-8")
        except UnicodeDecodeError:
            continue  # undecodable name: skip the member, keep walking
        # ZIP64 sentinels: the real 64-bit values live in the 0x0001 extra
        # field, holding ONLY the overflowed fields in spec order.
        sent = [
            uncomp_len == 0xFFFFFFFF,
            comp_len == 0xFFFFFFFF,
            local_off == 0xFFFFFFFF,
        ]
        if any(sent):
            vals = _zip64_extra(extra_bytes, sent)
            if vals is None:
                continue  # sentinel without its extra: refuse the member
            it = iter(vals)
            if sent[0]:
                uncomp_len = next(it)
            if sent[1]:
                comp_len = next(it)
            if sent[2]:
                local_off = next(it)
        if uncomp_len > cap or comp_len > cap:
            continue  # declared bomb: refuse the member
        # local header cross-check (its name/extra lengths are its own)
        if raw[local_off : local_off + 4] != _LOCAL_SIG or local_off + 30 > len(raw):
            continue
        lname_len, lextra_len = struct.unpack(
            "<HH", raw[local_off + 26 : local_off + 30]
        )
        data_start = local_off + 30 + lname_len + lextra_len
        comp = raw[data_start : data_start + comp_len]
        if len(comp) < comp_len:
            continue
        if method == 0:  # STORED
            content = comp
        elif method == 8:  # DEFLATED
            d = zlib.decompressobj(wbits=-15)
            try:
                content = d.decompress(comp, cap + 1)
            except zlib.error:
                continue
            if len(content) > cap:
                continue  # actual bomb: refuse
        else:
            continue  # unsupported method: skip, don't guess
        crc_ok = (
            len(content) == uncomp_len
            and (zlib.crc32(content) & 0xFFFFFFFF) == crc
        )
        out.append((name, method, uncomp_len, crc_ok, content))
    return out


def zip_archive_bytes(doc_id: int, text: str) -> bytes:
    """One document's synthesized dataset archive: a STORED text member,
    a DEFLATED metadata member, and a DEFLATED half-text member —
    deterministic bytes (fixed timestamp, fixed member order)."""
    import io
    import zipfile

    text = text or ""
    half = text[: (len(text) + 1) // 2]
    meta = f'{{"doc_id": {doc_id}, "n_chars": {len(text)}}}'
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data, method in [
            (f"doc_{doc_id}/text.txt", text, zipfile.ZIP_STORED),
            (f"doc_{doc_id}/meta.json", meta, zipfile.ZIP_DEFLATED),
            (f"doc_{doc_id}/half.txt", half, zipfile.ZIP_DEFLATED),
        ]:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = method
            zf.writestr(zi, data)
    return buf.getvalue()


def zip64_archive_bytes(doc_id: int, text: str) -> bytes:
    """The ZIP64 twin of :func:`zip_archive_bytes`: the same three members
    written with FULL ZIP64 structures — sentinel (0xFFFFFFFF/0xFFFF)
    sizes/offsets/counts in every classic field, the real 64-bit values in
    0x0001 extra fields, an EOCD64 record plus locator before the
    sentinel EOCD. Hand-rolled because the stdlib writer only emits ZIP64
    when a value actually overflows 4 GiB — this produces the >4 GiB
    archive LAYOUT at test size (the layout, not the bytes, is what the
    walker must handle at 100 TB). ``zipfile.ZipFile`` reads these back
    verbatim (cross-validated in tests), so the writer is honest ZIP64,
    not a private dialect."""
    text = text or ""
    half = text[: (len(text) + 1) // 2]
    meta = f'{{"doc_id": {doc_id}, "n_chars": {len(text)}}}'
    members = []
    for name, data, method in [
        (f"doc_{doc_id}/text.txt", text.encode("utf-8"), 0),
        (f"doc_{doc_id}/meta.json", meta.encode("utf-8"), 8),
        (f"doc_{doc_id}/half.txt", half.encode("utf-8"), 8),
    ]:
        if method == 8:
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            comp = c.compress(data) + c.flush()
        else:
            comp = data
        members.append((name.encode("utf-8"), method, data, comp))

    out = bytearray()
    local_offs = []
    for name_b, method, data, comp in members:
        local_offs.append(len(out))
        extra = struct.pack("<HHQQ", 0x0001, 16, len(data), len(comp))
        out += _LOCAL_SIG + struct.pack(
            "<HHHHHIIIHH",
            45, 0, method, 0, 0x21,
            zlib.crc32(data) & 0xFFFFFFFF,
            0xFFFFFFFF, 0xFFFFFFFF,
            len(name_b), len(extra),
        ) + name_b + extra + comp
    cd_off = len(out)
    for (name_b, method, data, comp), loc in zip(members, local_offs):
        extra = struct.pack(
            "<HHQQQ", 0x0001, 24, len(data), len(comp), loc
        )
        out += _CDIR_SIG + struct.pack(
            "<HHHHHHIIIHHHHHII",
            45, 45, 0, method, 0, 0x21,
            zlib.crc32(data) & 0xFFFFFFFF,
            0xFFFFFFFF, 0xFFFFFFFF,
            len(name_b), len(extra), 0, 0, 0, 0,
            0xFFFFFFFF,
        ) + name_b + extra
    cd_size = len(out) - cd_off
    e64_off = len(out)
    out += _EOCD64_SIG + struct.pack(
        "<QHHIIQQQQ", 44, 45, 45, 0, 0,
        len(members), len(members), cd_size, cd_off,
    )
    out += _EOCD64_LOC_SIG + struct.pack("<IQI", 0, e64_off, 1)
    out += _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF, 0xFFFFFFFF, 0xFFFFFFFF, 0
    )
    return bytes(out)


_ZIP_ORACLE = """
WITH members AS (
  SELECT doc_id,
    'doc_' || CAST(doc_id AS VARCHAR) || '/text.txt' AS name,
    0 AS method,
    length(coalesce(text, '')) AS uncomp_len
  FROM documents
  UNION ALL
  SELECT doc_id,
    'doc_' || CAST(doc_id AS VARCHAR) || '/meta.json',
    8,
    length('{"doc_id": ' || CAST(doc_id AS VARCHAR) || ', "n_chars": '
           || CAST(length(coalesce(text, '')) AS VARCHAR) || '}')
  FROM documents
  UNION ALL
  SELECT doc_id,
    'doc_' || CAST(doc_id AS VARCHAR) || '/half.txt',
    8,
    CAST(floor((length(coalesce(text, '')) + 1) / 2) AS BIGINT)
  FROM documents)
SELECT doc_id, name, CAST(method AS INT) AS method,
  CAST(uncomp_len AS BIGINT) AS uncomp_len, TRUE AS crc_ok
FROM members
"""

_ZIP_SCHEMA = (
    "doc_id long, name string, method int, uncomp_len long, crc_ok boolean"
)


def _zip_rows(archive, doc_id, text):
    """One document's member inventory from the walk of its synthesized
    ``archive``; None when the walk does not give back the three
    members the writer put in (the walker skips what it refuses)."""
    members = zip_member_walk(archive(int(doc_id), text))
    if len(members) != 3:
        return None
    return [(doc_id, name, method, ulen, ok)
            for name, method, ulen, ok, _content in members]


@query("scan_zip_members", _ZIP_ORACLE, tag="scan")
def scan_zip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-archive ingest: synthesize each document's ZIP worker-side,
    walk it with the REAL central-directory parser (EOCD tail scan, local
    header cross-check, bounded inflate, CRC-32 verify), and emit the
    member inventory. The DuckDB oracle computes names/methods/sizes from
    closed form and asserts ``crc_ok`` TRUE — so a hash match proves the
    store/deflate round trip AND the checksum chain per member, while the
    oracle itself never touches ZIP. ASCII members mean byte length ==
    char length on both engines. Per-row mapInPandas over the scan, no
    shuffle — archive-per-task is how a real cluster reads ZIP shards
    (ZIP's index-at-end makes whole-archive-per-task the correct split,
    unlike WARC's member streaming)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, "scan_zip_members", _ZIP_SCHEMA,
                    partial(_zip_rows, zip_archive_bytes))


@query("scan_zip64_members", _ZIP_ORACLE, tag="scan")
def scan_zip64_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP64 ingest — the >4 GiB-archive layout every 100-TB dataset
    bundle actually uses (classic ZIP fields saturate at 4 GiB/65535
    members; real shard archives overflow both). Same three members and
    the SAME closed-form oracle as ``scan_zip_members``, but every size,
    offset, and count travels through sentinel fields + 0x0001 extras +
    the EOCD64/locator chain — so a hash match proves the 64-bit walk end
    to end against an oracle that never touches ZIP. The walker resolves
    sentinels exactly where APPNOTE puts the real values; stdlib
    ``zipfile`` cross-reads the synthesized archives (tests), so this is
    interoperable ZIP64, not a dialect."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, "scan_zip64_members", _ZIP_SCHEMA,
                    partial(_zip_rows, zip64_archive_bytes))


# --- tar (ustar): the other archive framing datasets ship in ---------------

#: member-size cap for the tar walker (same discipline as ZIP_MEMBER_CAP;
#: tar sizes are DECLARED, so a lying header is refused before any slice).
TAR_MEMBER_CAP = 4 << 20


def _pax_records(data: bytes):
    """Parse PAX extended-header records (``"<len> key=value\\n"``,
    POSIX.1-2001 pax(1) format). Returns the key→value dict or None for
    anything malformed — a broken override must refuse the archive tail
    rather than silently mis-name the member that follows it."""
    out = {}
    pos = 0
    while pos < len(data):
        sp = data.find(b" ", pos)
        if sp < 0:
            return None
        try:
            ln = int(data[pos:sp])
        except ValueError:
            return None
        if ln <= 0 or pos + ln > len(data) or data[pos + ln - 1] != 0x0A:
            return None
        rec = data[sp + 1 : pos + ln - 1]
        eq = rec.find(b"=")
        if eq < 0:
            return None
        try:
            out[rec[:eq].decode("utf-8")] = rec[eq + 1 :].decode("utf-8")
        except UnicodeDecodeError:
            return None
        pos += ln
    return out


def _tar_size_field(field: bytes):
    """Decode a tar size field: octal per ustar, or GNU base-256 (high
    bit of the first byte set — how GNU tar stores >8 GiB sizes the
    11-octal-digit field cannot). Returns the size or None."""
    if field and field[0] & 0x80:
        val = field[0] & 0x7F
        for b in field[1:]:
            val = (val << 8) | b
        return val
    try:
        return int(field.rstrip(b" \x00") or b"0", 8)
    except ValueError:
        return None


def tar_member_walk(raw: bytes, cap: int = TAR_MEMBER_CAP):
    """Walk a ustar archive (POSIX.1-1988 layout, public): 512-byte
    headers with octal size fields and a spaces-substituted checksum,
    data in 512-byte blocks, terminated by two zero blocks. Long-name
    extensions are handled the way real dataset tarballs need them:
    GNU ``L`` members (content = the next member's name, for paths the
    100-byte field + 155-byte prefix cannot hold), PAX ``x`` extended
    headers (``path``/``size`` record overrides for the next member),
    and GNU base-256 size fields. Returns
    ``(name, size, typeflag, chksum_ok, content)`` per regular-file
    member; never raises; stops at the first malformed header (degrade,
    don't guess) and refuses declared sizes past the cap or the buffer."""
    out = []
    if not raw:
        return out
    pos = 0
    n = len(raw)
    pending_name = None
    pending_size = None
    while pos + 512 <= n:
        hdr = raw[pos : pos + 512]
        if hdr == b"\x00" * 512:  # end-of-archive marker
            break
        if hdr[257:262] != b"ustar":
            break
        size = _tar_size_field(hdr[124:136])
        declared_sum = _tar_size_field(hdr[148:155])
        if size is None or declared_sum is None:
            break
        typeflag = chr(hdr[156]) if hdr[156] else "0"
        if typeflag in ("0", "\x00") and pending_size is not None:
            size = pending_size  # PAX size override (the >8 GiB path)
        if size < 0 or size > cap or pos + 512 + size > n:
            break  # lying length: refuse the phantom member
        actual_sum = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        content = raw[pos + 512 : pos + 512 + size]
        if typeflag == "L":  # GNU longname: names the NEXT member
            try:
                pending_name = content.rstrip(b"\x00").decode("utf-8")
            except UnicodeDecodeError:
                break
        elif typeflag == "x":  # PAX extended header for the NEXT member
            recs = _pax_records(content)
            if recs is None:
                break
            if "path" in recs:
                pending_name = recs["path"]
            if "size" in recs:
                try:
                    pending_size = int(recs["size"])
                except ValueError:
                    break
        elif typeflag in ("g", "K"):
            pass  # PAX globals / GNU long-linkname: skip, keep walking
        elif typeflag in ("0", "\x00"):
            if pending_name is not None:
                name_s = pending_name
            else:
                name = hdr[:100].rstrip(b"\x00")
                prefix = hdr[345:500].rstrip(b"\x00")
                if prefix:
                    name = prefix + b"/" + name
                try:
                    name_s = name.decode("utf-8")
                except UnicodeDecodeError:
                    break
            out.append(
                (name_s, size, typeflag, actual_sum == declared_sum, content)
            )
            pending_name = None
            pending_size = None
        pos += 512 + ((size + 511) // 512) * 512
    return out


def tar_archive_bytes(doc_id: int, text: str) -> bytes:
    """The tar twin of :func:`zip_archive_bytes`: same three members,
    fixed mtime, strict ustar format — deterministic bytes."""
    import io
    import tarfile

    text = text or ""
    half = text[: (len(text) + 1) // 2]
    meta = f'{{"doc_id": {doc_id}, "n_chars": {len(text)}}}'
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in [
            (f"doc_{doc_id}/text.txt", text),
            (f"doc_{doc_id}/meta.json", meta),
            (f"doc_{doc_id}/half.txt", half),
        ]:
            ti = tarfile.TarInfo(name)
            payload = data.encode("utf-8")
            ti.size = len(payload)
            ti.mtime = 0
            tf.addfile(ti, io.BytesIO(payload))
    return buf.getvalue()


_TAR_ORACLE = """
WITH members AS (
  SELECT doc_id,
    'doc_' || CAST(doc_id AS VARCHAR) || '/text.txt' AS name,
    length(coalesce(text, '')) AS size
  FROM documents
  UNION ALL
  SELECT doc_id,
    'doc_' || CAST(doc_id AS VARCHAR) || '/meta.json',
    length('{"doc_id": ' || CAST(doc_id AS VARCHAR) || ', "n_chars": '
           || CAST(length(coalesce(text, '')) AS VARCHAR) || '}')
  FROM documents
  UNION ALL
  SELECT doc_id,
    'doc_' || CAST(doc_id AS VARCHAR) || '/half.txt',
    CAST(floor((length(coalesce(text, '')) + 1) / 2) AS BIGINT)
  FROM documents)
SELECT doc_id, name, CAST(size AS BIGINT) AS size, TRUE AS chksum_ok
FROM members
"""

_TAR_SCHEMA = "doc_id long, name string, size long, chksum_ok boolean"


def _tar_rows(walk, archive, doc_id, text):
    """The tar twin of :func:`_zip_rows`: ``walk`` is the key's
    (decompress and) tar walk; None unless it gives back all three
    members."""
    members = walk(archive(int(doc_id), text))
    if len(members) != 3:
        return None
    return [(doc_id, name, size, ok) for name, size, _tf, ok, _c in members]


@query("scan_tar_members", _TAR_ORACLE, tag="scan")
def scan_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar-shard ingest, the sequential-framing twin of
    ``scan_zip_members``: per-document ustar archives walked by the real
    header parser (octal fields, spaces-substituted checksum verify,
    512-block advance, lying-size refusal). The oracle asserts every
    member's name, size, and checksum validity from closed form. Unlike
    ZIP's index-at-end, tar streams — so on a real cluster it splits
    like WARC (sequential member walk per file slice), which is why both
    framings exist here. Per-row mapInPandas, no shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, "scan_tar_members", _TAR_SCHEMA,
                    partial(_tar_rows, tar_member_walk, tar_archive_bytes))


def longname_tar_bytes(doc_id: int, text: str, fmt: str) -> bytes:
    """A one-member tar whose path (134 chars) overflows the 100-byte
    ustar name field, written by the STDLIB in the requested dialect —
    ``gnu`` (an 'L' longname meta-member) or ``pax`` (an 'x' extended
    header with a ``path`` record). The stdlib is the writer and the
    hand-rolled walker is the reader, so the key cross-validates two
    independent implementations of both long-name encodings."""
    import io
    import tarfile

    payload = (text or "").encode("utf-8")
    buf = io.BytesIO()
    tf_fmt = tarfile.GNU_FORMAT if fmt == "gnu" else tarfile.PAX_FORMAT
    with tarfile.open(fileobj=buf, mode="w", format=tf_fmt) as tf:
        ti = tarfile.TarInfo(f"doc_{doc_id}/" + "d" * 120 + "/text.txt")
        ti.size = len(payload)
        ti.mtime = 0
        tf.addfile(ti, io.BytesIO(payload))
    return buf.getvalue()


_TAR_LONGNAME_ORACLE = """
SELECT doc_id, fmt,
  'doc_' || CAST(doc_id AS VARCHAR) || '/' || repeat('d', 120)
    || '/text.txt' AS name,
  CAST(length(coalesce(text, '')) AS BIGINT) AS size,
  TRUE AS chksum_ok
FROM documents
CROSS JOIN (VALUES ('gnu'), ('pax')) AS f(fmt)
"""


def _longname_rows(doc_id, text):
    """Both long-name dialects of one document; None unless each walk
    gives back its one member."""
    rows = []
    for fmt in ("gnu", "pax"):
        members = tar_member_walk(longname_tar_bytes(int(doc_id), text, fmt))
        if len(members) != 1:
            return None
        rows += [(doc_id, fmt, name, size, ok)
                 for name, size, _tf, ok, _c in members]
    return rows


@query("scan_tar_longnames", _TAR_LONGNAME_ORACLE, tag="scan")
def scan_tar_longnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-path tar ingest — the archive long tail real dataset tarballs
    hit immediately (any nested corpus path overflows ustar's 100-byte
    name field). Each document is packed twice by the STDLIB writer, once
    per long-name dialect: GNU ('L' meta-member carrying the next
    member's name) and PAX ('x' extended header with a ``path`` record,
    POSIX.1-2001). The hand-rolled walker must resolve BOTH to the same
    inventory, hash-proven against a closed-form oracle (``repeat()``
    reconstructs the 134-char path) that never touches tar. Per-row
    mapInPandas, no shuffle — same archive-per-task posture as the other
    container keys."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, "scan_tar_longnames",
        "doc_id long, fmt string, name string, size long, chksum_ok boolean",
        _longname_rows,
    )


def tgz_archive_bytes(doc_id: int, text: str) -> bytes:
    """``.tar.gz``: the tar archive as ONE gzip stream (unlike WARC's
    per-record members — a .tgz cannot be split without inflating from
    the start, which is exactly the scale caveat the key documents)."""
    import gzip

    return gzip.compress(tar_archive_bytes(doc_id, text), mtime=0)


def tgz_member_walk(raw: bytes, cap: int = TAR_MEMBER_CAP):
    """Inflate the single gzip stream (bomb-capped at 64x the tar cap —
    an archive of capped members can still be legitimately larger than
    one member) and walk the tar inside. Never raises."""
    import zlib

    if not raw or raw[:2] != b"\x1f\x8b":
        return []
    d = zlib.decompressobj(wbits=31)
    stream_cap = cap * 64
    try:
        data = d.decompress(raw, stream_cap + 1)
    except zlib.error:
        return []
    if len(data) > stream_cap or not d.eof:
        return []  # bomb or truncated stream: refuse
    return tar_member_walk(data, cap)


@query("scan_tgz_members", _TAR_ORACLE, tag="scan")
def scan_tgz_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.tar.gz`` ingest — the composition of the gzip inflate (bounded,
    single-stream) and the checksum-verified ustar walk, under the SAME
    oracle as the plain tar key: a hash match proves compress → inflate →
    header walk lossless per member. The documented scale caveat is the
    key's point: a .tgz is ONE deflate stream, so the parallelism unit is
    the ARCHIVE (one file per task), unlike gzip-member WARC where tasks
    can start at member boundaries — the reason crawl corpora frame
    per-record and dataset bundles ship many shards."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, "scan_tgz_members", _TAR_SCHEMA,
                    partial(_tar_rows, tgz_member_walk, tgz_archive_bytes))


def tbz_archive_bytes(doc_id: int, text: str) -> bytes:
    """``.tar.bz2``: the tar archive as one bzip2 stream (stdlib
    compressor; deterministic — bzip2 carries no timestamp). Level 1:
    synthesis is scaffolding for the WALKER under test, and the probe
    showed level 9 dominating the key's cost at 100x for identical
    coverage (the decompressor path is level-independent)."""
    import bz2

    return bz2.compress(tar_archive_bytes(doc_id, text), 1)


def tbz_member_walk(raw: bytes, cap: int = TAR_MEMBER_CAP):
    """Decompress the single bzip2 stream under the same 64x stream cap
    as the gzip twin (incremental decompressor so the cap is enforced
    BEFORE the allocation, not after) and walk the tar inside. Never
    raises."""
    import bz2

    if not raw or raw[:3] != b"BZh":
        return []
    d = bz2.BZ2Decompressor()
    stream_cap = cap * 64
    try:
        data = d.decompress(raw, stream_cap + 1)
    except (OSError, EOFError, ValueError):
        return []
    if len(data) > stream_cap or not d.eof:
        return []  # bomb or truncated stream: refuse
    return tar_member_walk(data, cap)


@query("scan_tbz_members", _TAR_ORACLE, tag="scan")
def scan_tbz_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.tar.bz2`` ingest under the SAME oracle as the plain-tar and
    .tgz keys — one hash match per codec proves each compress → bounded
    decompress → checksum-verified walk chain lossless. bzip2 matters at
    100 TB for the opposite reason gzip does: its block structure is what
    makes Hadoop's BZip2Codec SPLITTABLE, so .bz2 corpora parallelize
    below file granularity while .gz never does (``scan_text_bz2`` proves
    that codec path on Spark's own text source; HERE the archive is
    walked per-task like every container key)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, "scan_tbz_members", _TAR_SCHEMA,
                    partial(_tar_rows, tbz_member_walk, tbz_archive_bytes))


def txz_archive_bytes(doc_id: int, text: str) -> bytes:
    """``.tar.xz``: the tar archive as one xz/LZMA2 stream (stdlib;
    deterministic — xz carries no timestamp). Preset 1 for the same
    reason as the bz2 twin: the default preset 6 was 85%% of the key's
    100x probe cost while exercising nothing extra in the walker."""
    import lzma

    return lzma.compress(
        tar_archive_bytes(doc_id, text), format=lzma.FORMAT_XZ, preset=1
    )


def txz_member_walk(raw: bytes, cap: int = TAR_MEMBER_CAP):
    """The xz twin of :func:`tbz_member_walk`: incremental LZMADecompressor
    with the cap enforced via ``max_length`` before allocation. Never
    raises."""
    import lzma

    if not raw or raw[:6] != b"\xfd7zXZ\x00":
        return []
    d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
    stream_cap = cap * 64
    try:
        data = d.decompress(raw, stream_cap + 1)
    except (lzma.LZMAError, EOFError, ValueError):
        return []
    if len(data) > stream_cap or not d.eof:
        return []  # bomb or truncated stream: refuse
    return tar_member_walk(data, cap)


@query("scan_txz_members", _TAR_ORACLE, tag="scan")
def scan_txz_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.tar.xz`` ingest — the third compressed-tar codec under the one
    shared oracle (kernel sources, HF dataset dumps, and most mirrors
    ship .tar.xz today). xz is NOT splittable (one LZMA2 stream), so like
    .tgz the parallelism unit is the archive — the key documents that the
    right 100-TB layout is many shard archives, and proves the stdlib
    lzma chain under the same bomb-cap discipline as gzip/bzip2."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, "scan_txz_members", _TAR_SCHEMA,
                    partial(_tar_rows, txz_member_walk, txz_archive_bytes))


# --- XLSX: the office-format composition (ZIP + XML) -----------------------


def _xml_esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _xml_unesc(s: str) -> str:
    return (
        s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
    )


def xlsx_bytes(doc_id: int, text: str) -> bytes:
    """Minimal REAL XLSX (ECMA-376, public): the OPC ZIP container with
    content types, relationship parts, workbook, and one worksheet whose
    cells carry the document's data — text as ``inlineStr`` (XML-escaped)
    and numbers as ``<v>``. Deterministic bytes via the fixed-timestamp
    STORED members of :func:`zip_archive_bytes`'s writer conventions."""
    import io
    import zipfile

    text = text or ""
    half = text[: (len(text) + 1) // 2]
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        f'<row r="1">'
        f'<c r="A1" t="inlineStr"><is><t>{_xml_esc(text)}</t></is></c>'
        f'<c r="B1"><v>{doc_id}</v></c>'
        "</row>"
        f'<row r="2">'
        f'<c r="A2" t="inlineStr"><is><t>{_xml_esc(half)}</t></is></c>'
        f'<c r="B2"><v>{len(text)}</v></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    parts = [
        (
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        ),
        (
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        ),
        (
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
            ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>',
        ),
        (
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        ),
        ("xl/worksheets/sheet1.xml", sheet),
    ]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in parts:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
    return buf.getvalue()


_CELL_RE = None  # compiled lazily worker-side


def xlsx_cells(raw: bytes):
    """Parse the first worksheet out of an XLSX via the hand-rolled ZIP
    walker + a cell-level XML scan: ``(cell_ref, kind, value)`` with
    ``kind`` in {'s' (inlineStr), 'n' (numeric)}. Returns [] for
    anything malformed (bad ZIP, missing sheet, CRC failure) — the
    degrade-don't-die contract, inherited from the ZIP layer."""
    import re as _re

    global _CELL_RE
    if _CELL_RE is None:
        _CELL_RE = _re.compile(
            rb'<c r="([A-Z]+\d+)"(?:\s+t="(inlineStr)")?\s*>'
            rb"(?:<is><t>(.*?)</t></is>|<v>(.*?)</v>)</c>",
            _re.DOTALL,
        )
    sheet = None
    for name, _method, _ulen, crc_ok, content in zip_member_walk(raw):
        if name == "xl/worksheets/sheet1.xml" and crc_ok:
            sheet = content
            break
    if sheet is None:
        return []
    out = []
    for m in _CELL_RE.finditer(sheet):
        ref = m.group(1).decode("ascii")
        if m.group(2):  # inlineStr
            txt = m.group(3)
            if txt is None:
                return []
            out.append((ref, "s", _xml_unesc(txt.decode("utf-8"))))
        else:
            val = m.group(4)
            if val is None:
                return []
            out.append((ref, "n", val.decode("ascii")))
    return out


_XLSX_ORACLE = """
WITH cells AS (
  SELECT doc_id, 'A1' AS cell_ref, 's' AS kind,
    coalesce(text, '') AS val FROM documents
  UNION ALL
  SELECT doc_id, 'B1', 'n', CAST(doc_id AS VARCHAR) FROM documents
  UNION ALL
  SELECT doc_id, 'A2', 's',
    substr(coalesce(text, ''), 1,
           CAST(floor((length(coalesce(text, '')) + 1) / 2) AS INTEGER))
  FROM documents
  UNION ALL
  SELECT doc_id, 'B2', 'n',
    CAST(length(coalesce(text, '')) AS VARCHAR) FROM documents)
SELECT doc_id, cell_ref, kind, val FROM cells
"""


def _xlsx_rows(doc_id, text):
    """One workbook's cells; None unless the parse gives back the four
    cells :func:`xlsx_bytes` writes."""
    cells = xlsx_cells(xlsx_bytes(int(doc_id), text))
    if len(cells) != 4:
        return None
    return [(doc_id, ref, kind, val) for ref, kind, val in cells]


@query("scan_xlsx_cells", _XLSX_ORACLE, tag="scan")
def scan_xlsx_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX ingest — the office format every enterprise data drop
    arrives in, parsed as the COMPOSITION it actually is: an OPC ZIP
    container (walked by the same central-directory parser as
    ``scan_zip_members``, CRC-verified) holding XML worksheets (cell
    scan with entity unescaping). Each document synthesizes a real
    ECMA-376 workbook carrying its text as ``inlineStr`` cells and its
    numbers as ``<v>`` cells; the oracle recomposes the expected cell
    inventory in closed form and never touches ZIP or XML — a hash
    match proves deflate, CRC, XML escaping, and cell typing round-trip
    together. Per-row mapInPandas, workbook-per-task (ZIP index-at-end,
    same split unit as the archive keys)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, "scan_xlsx_cells",
        "doc_id long, cell_ref string, kind string, val string", _xlsx_rows,
    )


def tzst_archive_bytes(doc_id: int, text: str) -> bytes:
    """``.tar.zst``: the tar archive as one zstd frame, written by the
    in-process libzstd (:func:`llmops.zstd.zstd_compress_real`), so the
    walk proves this repo's decoder against genuine libzstd output —
    predefined tables, FSE weights and all."""
    from dynamic_spark_spark.llmops.zstd import zstd_compress_real

    return zstd_compress_real(tar_archive_bytes(doc_id, text), level=3)


def tzst_member_walk(raw: bytes, cap: int = TAR_MEMBER_CAP):
    """Decode the zstd frame sequence (declared sizes capped at 64× the
    member cap, same stream discipline as the gzip/bz2/xz twins) and
    walk the tar inside. Concat-aware: a real ``.tar.zst`` may be
    multiple frames (pzstd) with skippable frames between them. Never
    raises."""
    from dynamic_spark_spark.llmops.zstd import zstd_decompress_concat

    data = zstd_decompress_concat(raw, cap * 64)
    if data is None:
        return []
    return tar_member_walk(data, cap)


@query("scan_tzst_members", _TAR_ORACLE, tag="scan")
def scan_tzst_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.tar.zst`` ingest — the fourth compressed-tar codec under the
    one shared oracle, and the one modern mirrors are converging on.
    Unlike the gzip/bz2/xz twins (stdlib codecs), the DECODER here is
    the repo's own zstd implementation, and the frames come from the
    in-process libzstd, so the hash match proves the full entropy
    pipeline against genuine libzstd output, composed with the
    checksum-verified ustar walk. Same split-unit caveat as .tgz: one
    frame per archive, archive-per-task."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, "scan_tzst_members", _TAR_SCHEMA,
                    partial(_tar_rows, tzst_member_walk, tzst_archive_bytes))
