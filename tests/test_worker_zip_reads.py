"""``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed (``session.reread_zips_only_when_changed``).

PySpark's worker invalidates the import caches at the start of every
task; these guards count ``zipimport._read_directory`` calls, so box
noise cannot trip them.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import dynamic_spark_spark.session  # noqa: F401  (installs the stamp check)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily by itself",
)


def _reads_during(call, monkeypatch) -> list:
    """The archives ``zipimport._read_directory`` read while ``call()``
    ran."""
    real = zipimport._read_directory
    read = []

    def counted(archive):
        read.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    call()
    monkeypatch.setattr(zipimport, "_read_directory", real)
    return read


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "dep.zip")
    _write_zip(archive, {"dss_zip_m_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("dss_zip_m_a", "dss_zip_m_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import dss_zip_m_a

    assert dss_zip_m_a.A == 1
    # the first invalidation after the archive opened stamps it
    importlib.invalidate_caches()
    assert _reads_during(importlib.invalidate_caches, monkeypatch) == []

    _write_zip(archive, {"dss_zip_m_a": "A = 1\n", "dss_zip_m_b": "B = 2\n"})
    assert _reads_during(importlib.invalidate_caches, monkeypatch) == [archive]
    import dss_zip_m_b

    assert dss_zip_m_b.B == 2
    assert _reads_during(importlib.invalidate_caches, monkeypatch) == []


_WORKER_PROBE = """
import json
from dynamic_spark_spark.llmops.fixtures import map_rows
from dynamic_spark_spark.session import get_spark


def probe(i):
    import importlib, os, zipimport

    real = zipimport._read_directory
    read = []

    def counted(archive):
        read.append(archive)
        return real(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    return [(os.getpid(), len(read))]


spark = get_spark("zip-probe", cpus=1)
df = map_rows(spark.range(1), "zip_probe", "pid long, reads long", probe)
first, second = (tuple(df.collect()[0]) for _ in range(2))
print(json.dumps({"first": first, "second": second}))
spark.stop()
"""


def test_warm_worker_task_rereads_no_zip():
    """Two jobs through ``fixtures.map_rows`` on a ``local[1]`` session:
    the first task's unpickling imports the package, so the reused worker
    re-reads no zip directory in the second job."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE], capture_output=True, text=True,
        timeout=300, cwd=ROOT, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    (pid1, _), (pid2, reads) = got["first"], got["second"]
    assert pid1 == pid2, "the second job ran in a new Python worker"
    assert reads == 0


_CLOSURE_PROBE = """
import json

import pandas as pd
from pyspark.sql.functions import pandas_udf

from dynamic_spark_spark.session import get_spark


def probe(x: pd.Series) -> pd.Series:
    import gc, importlib, os, zipimport

    real = zipimport._read_directory
    read = []

    def counted(archive):
        read.append(archive)
        return real(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    got = [os.getpid(), len(read), gc.get_freeze_count()]
    return pd.Series([json.dumps(got)] * len(x))


spark = get_spark("zip-probe", cpus=1)
df = spark.range(1).select(pandas_udf(probe, "string")("id"))
first, second = (json.loads(df.collect()[0][0]) for _ in range(2))
print(json.dumps({"first": first, "second": second}))
spark.stop()
"""


def test_closure_udf_worker_rereads_no_zip():
    """Two jobs of a pandas UDF pickled by value, which imports nothing
    of the package, on a ``local[1]`` session: its worker forks from the
    package's daemon (``spark.python.daemon.module``), so the reused
    worker re-reads no zip directory in the second job, and the modules
    the daemon imported sit in the collector's frozen generation."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", _CLOSURE_PROBE], capture_output=True,
        text=True, timeout=300, cwd=ROOT, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    (pid1, _, _), (pid2, reads, frozen) = got["first"], got["second"]
    assert pid1 == pid2, "the second job ran in a new Python worker"
    assert reads == 0
    assert frozen > 10_000
