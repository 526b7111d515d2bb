"""SparkSession construction and tuning.

The reference caches a per-thread ``SQLContext``
(``ScalaSparkCodeExecutor.java:250-265``); in PySpark this collapses to
``SparkSession.builder.getOrCreate()`` plus a set of runtime configs applied
idempotently by :func:`tune`.

Scale posture (100 TB target): AQE on (runtime shuffle-partition coalescing +
skew-join splitting), UTC session time zone (oracle parity), Arrow for any
Python interchange, and shuffle partitions sized for the local test harness
but safe at cluster scale because AQE re-coalesces.
"""

from __future__ import annotations

import os
import sys
import warnings

from pyspark.sql import SparkSession


def reread_zips_only_when_changed() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. Before CPython 3.13 each ``zipimporter`` then re-reads
    its archive's whole central directory, and a warm worker holds a
    dozen or more of them over ``pyspark.zip`` and the py4j zip: about
    0.15 s of CPU per task for archives that never change. Here each
    archive is stamped with ``(st_mtime_ns, st_size, st_ino)`` when it
    is read; an invalidation with the same stamp reuses the directory
    already read. A changed archive, or one ``stat`` cannot see, is
    re-read as before. Installed once per process, on import of this
    module: a worker imports it when it unpickles any package-level
    function, such as the raw-scan and per-row shells of
    :mod:`llmops.fixtures`."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(reread, "stamps"):
        return  # 3.13+ re-reads lazily already; or installed before
    stamps: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches.stamps = stamps
    zipimport.zipimporter.invalidate_caches = invalidate_caches


reread_zips_only_when_changed()

# Runtime-settable confs applied to any session we are handed (the driver
# constructs its own SparkSession for verification, so everything here must be
# settable post-creation).
RUNTIME_CONF = {
    # Deterministic timestamp rendering; matches DuckDB's naive-UTC timestamps.
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read as long nanos and convert explicitly (sources/readers.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: coalesce shuffle partitions + split skewed joins at
    # runtime — the key knob for the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / toPandas interchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Smaller scan splits: the test tables are compact single files and the
    # default 128 MB split gives a near-sequential scan; 8 MB spreads the
    # scan across cores. At cluster scale AQE coalesces any over-split reads.
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply engine runtime configs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable on this build — keep going; defaults are sane.
            pass
    return spark


from contextlib import contextmanager


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Temporarily override runtime SQL confs (restored on exit). Used by
    operators whose working set is structurally tiny regardless of input
    scale — e.g. iterative algorithms on a domain²-bounded edge table, or a
    stream-stream join at verification volume — where the session-wide
    shuffle-partition count only buys scheduler overhead per round. Keys are
    passed python-style (``sql_shuffle_partitions``) and mapped to dotted
    conf names."""
    mapped = {k.replace("_", "."): v for k, v in confs.items()}
    saved = {}
    for k, v in mapped.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # conf was unset before we touched it — restore that state,
                # otherwise the scoped override leaks into subsequent keys
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass


def positive_int_env(name: str, default: int) -> int:
    """``$name`` as a positive integer, or ``default`` when it is unset.
    A malformed value, or one below 1, also gives ``default``, with a
    ``RuntimeWarning`` naming the variable."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        warnings.warn(
            f"{name}={raw!r} is not a positive integer; using {default}",
            RuntimeWarning,
            stacklevel=2,
        )
        return default
    return value


def get_spark(app_name: str = "dynamic-spark-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a tuned local session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else all
    cores; a malformed value, or one below 1, warns and uses all cores.
    """
    if cpus is None:
        cpus = positive_int_env("SPARK_GRAFT_CPUS", os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(32, cpus)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return tune(builder.getOrCreate())
