"""Page and chunk decompression for the raw parquet and ORC readers.

One function, :func:`decompress`, holds every codec decision of the raw
tier; :mod:`parquet_raw` and :mod:`orc_raw` map their codec enums through
:data:`PARQUET` and :data:`ORC` and call it. Which codec runs where:

* **snappy** runs in libsnappy through ``pyarrow.Codec``. It is parquet's
  default codec, and in the pure-Python tag walk it was about three
  quarters of the raw decoder's CPU. The varint preamble is read here
  first and passed as the exact output size: pyarrow pads a short
  output to the size it is asked for, while libsnappy given the exact
  size checks that the tags produce exactly that many bytes. A pyarrow
  built without libsnappy fails this import; there is no fallback.
  The pure-Python :func:`parquet_raw.snappy_decompress` stays as the
  reference the tests compare this path against; nothing calls it at
  runtime.
* **gzip** (parquet) and **deflate** (ORC ZLIB) run in the stdlib's
  zlib, which is already C. The stream must end exactly at the end of
  the input: a member whose trailer (and so its CRC-32) is cut, or that
  is followed by junk, is refused.
* **zstd** and **lz4_raw** run in this repo's pure decoders
  (:mod:`zstd`, :mod:`lz4_hadoop`). No measured workload decodes them,
  ORC chunks do not know their output size, and pyarrow's lz4_raw pads
  its output the same way its snappy does. zstd frames must also end
  exactly at the end of the input.
* **uncompressed** bytes pass through under the same size and cap rules.

LZO, BROTLI and parquet's Hadoop-framed legacy LZ4 have no decoder and
are refused: refuse, don't guess.
"""

from __future__ import annotations

import zlib

import pyarrow as pa

from dynamic_spark_spark.llmops.protowire import _uvarint_dec

#: parquet.thrift CompressionCodec → codec name (absent: refused)
PARQUET = {0: "uncompressed", 1: "snappy", 2: "gzip", 6: "zstd", 7: "lz4_raw"}
#: orc_proto CompressionKind → codec name for compressed chunks (NONE
#: streams are not chunk-framed; LZO is absent: refused)
ORC = {1: "deflate", 2: "snappy", 4: "lz4_raw", 5: "zstd"}

if not pa.Codec.is_available("snappy"):
    raise ImportError(
        "pyarrow was built without libsnappy, which the raw parquet/ORC "
        "readers use for snappy pages"
    )
_SNAPPY = pa.Codec("snappy")

#: zlib window bits: gzip member (header + deflate + trailer), raw deflate
_ZLIB_WBITS = {"gzip": 31, "deflate": -15}


def decompress(codec: str | None, data: bytes, size: int | None, cap: int):
    """``data`` compressed with ``codec`` → the decompressed bytes, or
    None when the codec is unknown, the input is malformed, the output
    would pass ``cap``, or ``size`` is given and the output is any other
    length. Never raises."""
    if size is not None and size > cap:
        return None
    limit = cap if size is None else size
    if codec == "uncompressed":
        out = data if len(data) <= limit else None
    elif codec == "snappy":
        out = _snappy(data, limit)
    elif codec in _ZLIB_WBITS:
        out = _zlib(data, _ZLIB_WBITS[codec], limit)
    elif codec == "zstd":
        from dynamic_spark_spark.llmops.zstd import zstd_decompress_concat

        out = zstd_decompress_concat(data, limit)
    elif codec == "lz4_raw":
        from dynamic_spark_spark.llmops.lz4_hadoop import lz4_block_decompress

        out = lz4_block_decompress(data, limit)
    else:
        return None
    if out is None or (size is not None and len(out) != size):
        return None
    return out


def _snappy(data: bytes, limit: int):
    """libsnappy, sized by the stream's own varint preamble (google/snappy
    format_description.txt) and never by the caller's size: asked for
    more bytes than the tags produce, pyarrow pads the output instead of
    failing."""
    try:
        total = _uvarint_dec(data, 0)[0]
    except ValueError:
        return None
    if total > limit:
        return None
    try:
        return _SNAPPY.decompress(data, decompressed_size=total, asbytes=True)
    except (pa.ArrowException, OSError):
        return None


def _zlib(data: bytes, wbits: int, limit: int):
    """One complete zlib-family stream that ends exactly at the end of
    ``data`` and inflates to at most ``limit`` bytes."""
    d = zlib.decompressobj(wbits=wbits)
    try:
        out = d.decompress(data, limit + 1)
    except zlib.error:
        return None
    if len(out) > limit or not d.eof or d.unused_data:
        return None
    return out
