#!/usr/bin/env python
"""Archive-walker scale probe (r10 judge order #7): the end-to-end scale
probes for ``scan_tzst_members``/``scan_txz_members`` were SYNTHESIS-bound
(pure-Python entropy encode of one archive per document), so the recorded
100x numbers measured fixture generation, not the walker. This probe
separates the two the way a real corpus is shaped:

1. STAGE (timed separately): build shard-sized archives — ~1000 documents
   per ``.tar`` (stdlib tarfile, an independent writer), compressed with the
   in-process libzstd / stdlib lzma — once per scale, stored as a binary
   column in parquet.
2. WALK (the headline number): a Spark mapInPandas pass runs the repo's
   walkers (zstd frame decode + checksum-verified ustar walk) over every
   staged archive and counts members.

Usage: PYTHONPATH=. python scripts/archive_walk_probe.py [replicas]
Prints one JSON line: {replicas, docs, formats: {tzst: {stage_sec,
walk_sec, n_archives, n_members}, txz: {...}}}
"""

from __future__ import annotations

import io
import json
import lzma
import shutil
import sys
import tarfile
import tempfile
import time

SRC = "/root/testdata/sf0.1"
DOCS_PER_SHARD = 1000


def _shard_tar(ids, texts) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for i, t in zip(ids, texts):
            data = (t or "").encode("utf-8")
            info = tarfile.TarInfo(name=f"doc_{int(i)}.txt")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from pyspark.sql import functions as F

    from dynamic_spark_spark.llmops.containers import (
        txz_member_walk,
        tzst_member_walk,
    )
    from dynamic_spark_spark.llmops.zstd import zstd_compress_real
    from dynamic_spark_spark.session import get_spark

    spark = get_spark("dss-archive-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SRC}/documents.parquet").select(
        "doc_id", "text"
    )
    if replicas > 1:
        docs = docs.crossJoin(
            spark.range(replicas).select(F.col("id").alias("rep"))
        ).select(
            (F.col("doc_id") + F.col("rep") * 1_000_000_000).alias("doc_id"),
            "text",
        )
    n_docs = docs.count()
    n_shards = max(1, n_docs // DOCS_PER_SHARD)

    def stage(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            tar = _shard_tar(pdf["doc_id"], pdf["text"])
            tzst = zstd_compress_real(tar, level=3)
            txz = lzma.compress(tar, preset=1)
            yield pd.DataFrame(
                {"n_docs": [len(pdf)], "tzst": [tzst], "txz": [txz]}
            )

    staged_dir = tempfile.mkdtemp(prefix="dss_archprobe_")
    try:
        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DOCS_PER_SHARD),
        )
        t0 = time.perf_counter()
        (
            docs.repartition(n_shards)
            .mapInPandas(stage, "n_docs long, tzst binary, txz binary")
            .write.mode("overwrite")
            .parquet(staged_dir)
        )
        stage_sec = round(time.perf_counter() - t0, 2)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

        results = {}
        for fmt, walker in (("tzst", tzst_member_walk),
                            ("txz", txz_member_walk)):
            blobs = spark.read.parquet(staged_dir).select(fmt)

            def walk(batches, _w=walker, _f=fmt):
                import pandas as pd

                for pdf in batches:
                    n_arch = n_mem = 0
                    for blob in pdf[_f]:
                        members = _w(bytes(blob))
                        n_arch += 1
                        n_mem += sum(1 for m in members if m[3])
                    yield pd.DataFrame(
                        {"n_archives": [n_arch], "n_members": [n_mem]}
                    )

            t0 = time.perf_counter()
            agg = (
                blobs.mapInPandas(walk, "n_archives long, n_members long")
                .agg(
                    F.sum("n_archives").alias("a"),
                    F.sum("n_members").alias("m"),
                )
                .collect()[0]
            )
            walk_sec = round(time.perf_counter() - t0, 2)
            results[fmt] = {
                "stage_sec": stage_sec,  # shared staging pass, both formats
                "walk_sec": walk_sec,
                "n_archives": agg["a"],
                "n_members": agg["m"],
            }
            assert agg["m"] == n_docs, (fmt, agg["m"], n_docs)
        print(json.dumps({
            "replicas": replicas,
            "docs": n_docs,
            "docs_per_shard": DOCS_PER_SHARD,
            "formats": results,
        }))
    finally:
        shutil.rmtree(staged_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
