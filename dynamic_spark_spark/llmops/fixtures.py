"""Session-scoped fixture staging and the two row bridges every
synthesizing key runs through.

The raw byte-walk keys (parquet_raw, orc_raw, parquet_footer, protowire,
lz4_hadoop) synthesize their own input: Spark writes a table in the
format under audit, the files are re-scanned as binary, and the
pure-Python reader recovers the values.

:func:`staged_fixture_dir` writes a fixture ONCE per (Spark application,
sf_dir, name) into a directory that lives until interpreter exit
(atexit cleanup), so a key can return its scan LAZILY and the caller's
action streams the comparison. Repeated invocations in one session reuse
the staged directory: the write is synthesis, not the operator under
audit. At a genuine audit scale the files are already on storage, so
keeping the write out of the returned plan is also the honest cost model.

:func:`scan_files` is the one ``binaryFile scan → mapInPandas`` shell
every such key runs through. A key supplies only its per-file decode
(bytes, plus the ``p=`` partition value for partitioned fixtures, to a
pandas frame) and its output schema. Each batch's per-file frames are
joined by one ``pd.concat``. A file with no rows decodes to an empty
frame.

:func:`map_rows` is the one per-row ``mapInPandas`` shell for the keys
that build their input row by row (archives, media, WARC captures, PDFs
synthesized from ``documents``). A key supplies its input frame, its
output schema and a row function from one input row to a list of output
tuples (0..n rows per input row); the output columns come from the
schema, one frame per Arrow batch.

Neither helper ever drops input silently. A file or row the key cannot
decode — ``decode_file`` or ``row_fn`` returns None, or raises — stops
the job with :class:`UndecodableInputError`, naming the key or fixture
and the file or the row's ``doc_id``; the original exception is chained.
A key that deliberately emits a row of nulls for bad input keeps that
row: it is not dropped.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from functools import partial

_STAGED: dict[tuple, str] = {}
_cleanup_registered = False


def _cleanup_all() -> None:
    for p in _STAGED.values():
        shutil.rmtree(p, ignore_errors=True)
    _STAGED.clear()


def write_documents_by_p8_parquet(spark, sf_dir: str, path: str,
                                  options: dict | None = None) -> None:
    """THE documents-by-``doc_id % 8`` parquet fixture writer. Shared
    by ``scan_parquet_footer`` and ``scan_parquet_raw_pageindex``
    (fixture ``"footer"``, no options) and ``scan_parquet_raw_bloom``
    (fixture ``"pqbloom"``, writer options for the bloom filters): the
    staging cache keys by NAME only and first-writer-wins, so every
    key staging a given name must write through this ONE function —
    drifting copies would make the staged layout depend on key
    execution order."""
    from pyspark.sql import functions as F

    from dynamic_spark_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 8).alias("p")
    )
    w = d.repartition(8, "p").write.mode("overwrite")
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.partitionBy("p").parquet(path)


def fixture_parallelism(spark) -> int:
    """Output-file count for staged fixtures: the session's scheduling
    width (``local[N]`` → N). Fixture synthesis previously inherited
    the INPUT table's layout — the sf parquet inputs are single-file,
    single-row-group at every bench scale — so the per-file
    mapInPandas decode stage (the entire timed cost of the raw-audit
    keys) ran on one or two of the box's cores. Writing the fixture at
    the session's own parallelism gives the binary scan one file per
    scheduler slot: Spark's split packing caps the split size near
    ``totalBytes / defaultParallelism`` (each file also charged
    ``openCostInBytes``), which lands at about one small file per
    task. The decode then scales with however many cores the driver
    actually granted — adaptive, not a local[32] constant. At genuine
    audit scale the staging step does not exist at all (input corpora
    are already many-file), so this only changes the synthesized
    layout toward the realistic one."""
    return max(1, spark.sparkContext.defaultParallelism)


def staged_fixture_dir(spark, sf_dir: str, name: str, write) -> str:
    """Return a directory holding the fixture ``name`` for ``sf_dir``,
    writing it via ``write(path)`` on first use in this Spark
    application. The directory survives until interpreter exit, so
    DataFrames scanning it stay lazy."""
    global _cleanup_registered
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    path = _STAGED.get(key)
    if path is not None and os.path.isdir(path):
        return path
    path = tempfile.mkdtemp(prefix=f"dss_stage_{name}_")
    try:
        write(path)
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    _STAGED[key] = path
    if not _cleanup_registered:
        atexit.register(_cleanup_all)
        _cleanup_registered = True
    return path


class UndecodableInputError(ValueError):
    """A scan or row map met input its decoder could not read."""


def scan_files(spark, fixture: str, root: str, glob: str, schema: str,
               decode_file, partitioned: bool = False):
    """Lazy ``binaryFile`` scan of the files under ``root`` matching
    ``glob``, each decoded by ``decode_file(raw)`` — or
    ``decode_file(raw, p)`` when ``partitioned``, where the files sit
    in ``p=<int>`` directories — into frames of ``schema``. ``fixture``
    names the input in errors (see :func:`decode_batches`)."""
    files = spark.read.format("binaryFile").load(
        root + "/p=*/" if partitioned else root, pathGlobFilter=glob
    ).select("path", "content")
    return files.mapInPandas(
        partial(decode_batches, fixture, decode_file, partitioned), schema
    )


def decode_batches(fixture: str, decode_file, partitioned: bool, batches):
    """The per-batch body of :func:`scan_files`: decode every file of a
    ``(path, content)`` batch and yield one frame per batch. Raises
    :class:`UndecodableInputError` for a file whose decode raises or
    returns None."""
    import pandas as pd

    for pdf in batches:
        frames = []
        for path, content in zip(pdf["path"], pdf["content"]):
            args = (bytes(content),)
            if partitioned:
                args += (int(path.rsplit("/p=", 1)[1].split("/")[0]),)
            try:
                frame = decode_file(*args)
            except Exception as exc:
                raise UndecodableInputError(
                    f"fixture {fixture!r}: {path}: {exc!r}"
                ) from exc
            if frame is None:
                raise UndecodableInputError(
                    f"fixture {fixture!r}: {path} did not decode, or its "
                    "columns disagree with its row count"
                )
            frames.append(frame)
        # empty frames carry no rows, only possibly looser dtypes
        yield pd.concat([f for f in frames if len(f)] or frames[:1],
                        ignore_index=True)


def schema_columns(schema: str) -> list[str]:
    """The top-level field names of a DDL schema string, in order
    (commas inside ``<...>`` or ``(...)`` belong to a field's type)."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(schema[start:i].split()[0])
            start = i + 1
    return names


def map_rows(df, key: str, schema: str, row_fn):
    """Lazy ``mapInPandas`` of ``df`` into frames of ``schema``: each
    input row, passed as ``row_fn(*row)`` in ``df``'s column order,
    becomes the list of output tuples ``row_fn`` returns. ``key`` names
    the input in errors (see :func:`map_batches`) and the plan's
    ``MapInPandas`` node."""
    body = partial(map_batches, key, schema_columns(schema), row_fn)
    body.__name__ = key
    return df.mapInPandas(body, schema)


def map_batches(key: str, columns: list[str], row_fn, batches):
    """The per-batch body of :func:`map_rows`: yield one frame of
    ``columns`` per input batch. Raises :class:`UndecodableInputError`
    for a row whose ``row_fn`` raises or returns None."""
    import pandas as pd

    for pdf in batches:
        rows = []
        for i, row in enumerate(zip(*(pdf[c] for c in pdf.columns))):
            try:
                out = row_fn(*row)
            except Exception as exc:
                raise UndecodableInputError(
                    f"key {key!r}: {_row_name(pdf, i)}: {exc!r}"
                ) from exc
            if out is None:
                raise UndecodableInputError(
                    f"key {key!r}: {_row_name(pdf, i)} did not decode"
                )
            rows.extend(out)
        # object columns: a nullable long stays exact instead of
        # widening to float64 NaN
        yield pd.DataFrame(rows, columns=columns, dtype=object)


def _row_name(pdf, i: int) -> str:
    if "doc_id" in pdf.columns:
        return f"doc_id {pdf['doc_id'].iloc[i]}"
    return f"row {i} of its batch"


def require_rows(key: str, pdf, rows: list) -> list:
    """``rows``, when a batch-at-a-time round trip of the input batch
    ``pdf`` gave back one row per input row; otherwise
    :class:`UndecodableInputError`, naming the key and the batch's first
    ``doc_id``."""
    if len(rows) != len(pdf):
        raise UndecodableInputError(
            f"key {key!r}: a batch of {len(pdf)} rows from "
            f"{_row_name(pdf, 0)} decoded to {len(rows)} rows"
        )
    return rows
