"""LZ4 block codec + Hadoop frame — cross-validated against the JVM.

LZ4 (lz4.org block format, public) is the throughput-codec tier of the
Hadoop world: ``mapreduce.output.fileoutputformat.compress.codec`` =
``Lz4Codec`` produces ``.lz4`` text shards, Kafka ships lz4 batches, and
Spark's shuffle defaults to lz4. The JVM implementation sits behind the
codec registry, so a PySpark-native engine that wants to AUDIT or repair
those bytes needs its own: this module implements the block format in
both directions plus the Hadoop ``BlockCompressorStream`` framing
(big-endian ``rawLen`` then ``chunkLen``-prefixed blocks).

The correctness story is the strongest kind — two independent
implementations forced to agree through real bytes, in BOTH directions:

- ``scan_text_lz4``: Spark's JVM codec WRITES ``.lz4`` text, the
  pure-Python decoder here reads the raw files back (binaryFile scan);
- ``sink_text_lz4``: the pure-Python ENCODER writes ``.lz4`` files, and
  Spark's JVM codec reads them back through the ordinary text source.

Both keys share one closed-form oracle, so the driver hash-proves each
direction end to end. Degrade-don't-die on the read path: truncated or
corrupt frames return None, offsets are validated, output is capped.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_spark_spark.llmops.fixtures import scan_files
from dynamic_spark_spark.operators.scans import _tmpdir
from dynamic_spark_spark.registry import query
from dynamic_spark_spark.sources.readers import load_table

#: decompressed cap per Hadoop block (the codec's own buffer is 256 KiB;
#: anything claiming far more is a bomb)
LZ4_BLOCK_CAP = 64 << 20


def lz4_block_decompress(src: bytes, max_out: int):
    """Raw LZ4 block decode (token, literals, 16-bit offsets, overlap
    copies). Returns None for malformed input or output past
    ``max_out``; never raises past its own guards."""
    try:
        out = bytearray()
        pos, n = 0, len(src)
        while pos < n:
            token = src[pos]
            pos += 1
            litlen = token >> 4
            if litlen == 15:
                while True:
                    b = src[pos]
                    pos += 1
                    litlen += b
                    if b != 255:
                        break
            if len(out) + litlen > max_out or pos + litlen > n:
                return None
            out += src[pos : pos + litlen]
            pos += litlen
            if pos >= n:
                break  # last literals: a block may end without a match
            offset = src[pos] | (src[pos + 1] << 8)
            pos += 2
            if offset == 0 or offset > len(out):
                return None  # lying offset: refuse
            mlen = token & 15
            if mlen == 15:
                while True:
                    b = src[pos]
                    pos += 1
                    mlen += b
                    if b != 255:
                        break
            mlen += 4
            if len(out) + mlen > max_out:
                return None
            start = len(out) - offset
            if offset >= mlen:  # disjoint: one bulk slice (r13)
                out += out[start : start + mlen]
            else:  # overlap: the match repeats every `offset` bytes
                pattern = bytes(out[start:])
                out += (pattern * ((mlen + offset - 1) // offset))[:mlen]
        return bytes(out)
    except IndexError:
        return None


def lz4_block_compress(src: bytes) -> bytes:
    """Greedy hash-table LZ4 block encoder (the reference algorithm's
    shape: 4-byte hashing, 16-bit offsets, 12-byte end guard). Output is
    valid for ANY conforming decoder — the sink key proves it against
    the JVM's."""
    n = len(src)
    out = bytearray()
    if n == 0:
        return b""
    table: dict[int, int] = {}
    anchor = 0
    pos = 0
    # spec: the last 5 bytes are always literals; matches must not reach
    # past n-12 for the fast-copy guarantee the reference encoder keeps
    limit = n - 12
    while pos <= limit:
        key = src[pos : pos + 4]
        # deterministic multiplicative hash (Python's hash() is seeded
        # per-process; encoder output must be reproducible)
        h = (int.from_bytes(key, "little") * 2654435761) & 0xFFFFFFFF
        cand = table.get(h)
        table[h] = pos
        if (
            cand is not None
            and pos - cand <= 0xFFFF
            and src[cand : cand + 4] == key
        ):
            # extend the match forward
            mlen = 4
            while (
                pos + mlen < n - 5 and src[cand + mlen] == src[pos + mlen]
            ):
                mlen += 1
            _emit(out, src, anchor, pos, pos - cand, mlen)
            pos += mlen
            anchor = pos
        else:
            pos += 1
    _emit_last(out, src, anchor)
    return bytes(out)


def _emit(out: bytearray, src: bytes, anchor: int, pos: int, offset: int, mlen: int) -> None:
    litlen = pos - anchor
    ml = mlen - 4
    token = (min(litlen, 15) << 4) | min(ml, 15)
    out.append(token)
    if litlen >= 15:
        rest = litlen - 15
        while rest >= 255:
            out.append(255)
            rest -= 255
        out.append(rest)
    out += src[anchor:pos]
    out += struct.pack("<H", offset)
    if ml >= 15:
        rest = ml - 15
        while rest >= 255:
            out.append(255)
            rest -= 255
        out.append(rest)


def _emit_last(out: bytearray, src: bytes, anchor: int) -> None:
    litlen = len(src) - anchor
    out.append(min(litlen, 15) << 4)
    if litlen >= 15:
        rest = litlen - 15
        while rest >= 255:
            out.append(255)
            rest -= 255
        out.append(rest)
    out += src[anchor:]


def hadoop_lz4_decompress(raw: bytes, cap: int = LZ4_BLOCK_CAP):
    """Decode a Hadoop ``BlockCompressorStream`` lz4 file: repeated
    ``[rawLen BE4][chunkLen BE4][lz4 block]...`` until the declared raw
    length is satisfied. Returns the decompressed bytes or None."""
    if raw is None:
        return None
    try:
        pos = 0
        out = bytearray()
        while pos < len(raw):
            if pos + 4 > len(raw):
                return None
            (rawlen,) = struct.unpack(">I", raw[pos : pos + 4])
            pos += 4
            if rawlen > cap:
                return None
            got = 0
            while got < rawlen:
                if pos + 4 > len(raw):
                    return None
                (chunklen,) = struct.unpack(">I", raw[pos : pos + 4])
                pos += 4
                if pos + chunklen > len(raw):
                    return None
                dec = lz4_block_decompress(
                    raw[pos : pos + chunklen], rawlen - got
                )
                if dec is None:
                    return None
                pos += chunklen
                out += dec
                got += len(dec)
        return bytes(out)
    except (struct.error, IndexError):
        return None


def hadoop_lz4_compress(data: bytes) -> bytes:
    """The writing twin: one Hadoop block per 256 KiB of input, one lz4
    chunk per block — the layout the JVM codec's reader expects."""
    out = bytearray()
    for start in range(0, max(len(data), 1), 256 << 10):
        blk = data[start : start + (256 << 10)]
        comp = lz4_block_compress(blk)
        out += struct.pack(">I", len(blk))
        out += struct.pack(">I", len(comp))
        out += comp
    return bytes(out)


_LZ4_TEXT_ORACLE = """
SELECT doc_id, text FROM documents WHERE text NOT LIKE '%|%'
 AND NOT contains(text, chr(10)) AND NOT contains(text, chr(13))
"""


@query("scan_text_lz4", _LZ4_TEXT_ORACLE, tag="scan")
def scan_text_lz4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-writes / Python-reads: Spark's Hadoop Lz4Codec compresses the
    text shards, then the raw ``.lz4`` files are re-scanned as BINARY and
    decoded by the pure-Python block decoder — two independent LZ4
    implementations forced to agree through the actual bytes, proven by
    the closed-form oracle. Same delimiter/newline exclusions as the
    gzip/bzip2 text keys. Scale note: Hadoop-framed lz4 is not
    splittable (no sync marks), so like gzip the parallelism unit is the
    file — lz4's role at 100 TB is shuffle/intermediate speed, not
    archival layout."""
    out = _tmpdir("dss_textlz4_")
    docs = load_table(spark, sf_dir, "documents").where(
        ~F.col("text").contains("|")
        & ~F.col("text").contains("\n")
        & ~F.col("text").contains("\r")
    )
    docs.select(
        F.concat_ws("|", F.col("doc_id").cast("string"), "text")
    ).write.mode("overwrite").option("compression", "lz4").text(out)

    return scan_files(spark, "textlz4", out, "*.lz4",
                      "doc_id long, text string", _decode_text_lz4)


def _decode_text_lz4(raw: bytes):
    import pandas as pd

    data = hadoop_lz4_decompress(raw)
    if data is None:
        return None
    rows = [line.partition("|") for line in data.decode("utf-8").splitlines()]
    return pd.DataFrame({"doc_id": [int(did) for did, _, _ in rows],
                         "text": [text for _, _, text in rows]})


@query("sink_text_lz4", _LZ4_TEXT_ORACLE, tag="sink")
def sink_text_lz4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python-writes / JVM-reads — the reverse direction: the pure-Python
    encoder (greedy hash-table matcher, Hadoop block framing) produces
    ``.lz4`` files on disk, and Spark's ordinary text source decodes them
    through the JVM codec. A hash match against the same oracle proves
    the encoder emits spec-conforming streams, not a private dialect the
    paired decoder happens to accept — the cross-implementation guarantee
    the FLAC/GIF codec tiers get from their closed-form oracles."""
    import os

    out = _tmpdir("dss_sinklz4_")
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(
            ~F.col("text").contains("|")
            & ~F.col("text").contains("\n")
            & ~F.col("text").contains("\r")
        )
        .select("doc_id", "text")
    )

    def write_shard(batches):
        import pandas as pd
        from pyspark import TaskContext

        # poor-man's commit protocol (r10 ADVICE): the shard name is
        # DERIVED from (partition id, batch index), so a retried or
        # speculatively-executed task overwrites its predecessor's
        # output instead of duplicating rows, and the write lands via a
        # task-attempt temp name + atomic rename so a killed attempt
        # never leaves a half-written shard visible to the reader
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        for i, pdf in enumerate(batches):
            lines = "".join(
                f"{int(d)}|{t}\n" for d, t in zip(pdf["doc_id"], pdf["text"])
            )
            payload = hadoop_lz4_compress(lines.encode("utf-8"))
            path = os.path.join(out, f"part-{pid:05d}-{i:05d}.lz4")
            tmp = f"{path}.{attempt}.tmp"
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, path)
            yield pd.DataFrame({"n": [len(pdf)]})

    # local[..] executors share the driver filesystem, so worker-side
    # writes land in one directory; on a real cluster this key would
    # write through a shared store (same caveat as every _tmpdir sink)
    docs.mapInPandas(write_shard, "n long").agg(F.sum("n")).collect()

    lines = spark.read.text(out)
    parts = F.split("value", r"\|", 2)
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("text"),
    )

