"""Whole-program execution (A3) + pyFiles dependency injection (A9/A4):
the analog of ``testScalaProgram`` / ``testScalaProgramDependency``
(``ScalaSparkTest.java:105-215``) — a program that uses a shipped dependency
module inside an executor-side UDF.
"""

from __future__ import annotations

import os
from tests.conftest import dss_mkdtemp

import pytest

from dynamic_spark_spark.plans.program import add_py_files, run_program
from dynamic_spark_spark.plans.usercode import UserCodeError


def test_program_entry_priority_and_args(spark):
    # main(spark, args) wins and receives POSIX-ish args
    out = run_program(
        spark,
        "def main(spark, args):\n"
        "    return spark.range(int(args[0])).count()\n",
        args=["7"],
    )
    assert out == 7
    # main(spark) accepted
    assert run_program(spark, "def main(spark):\n    return 1\n") == 1
    # main() accepted
    assert run_program(spark, "def main():\n    return 'ok'\n") == "ok"


def test_program_missing_main(spark):
    with pytest.raises(UserCodeError, match="must define main"):
        run_program(spark, "x = 3\n")


def test_program_with_dependency_pyfile(spark):
    """Dependency module shipped via addPyFile and imported inside a UDF that
    runs on executors (the jar-dependency test's analog,
    ``ScalaSparkTest.java:174-215``)."""
    d = dss_mkdtemp("dss_dep_")
    dep = os.path.join(d, "dss_test_dep.py")
    with open(dep, "w") as f:
        f.write("def triple(x):\n    return 3 * x\n")
    resolved = add_py_files(spark, [os.path.join(d, "*.py")])
    assert resolved == [dep]
    out = run_program(
        spark,
        "def main(spark):\n"
        "    from pyspark.sql.types import LongType\n"
        "    import dss_test_dep\n"
        "    triple_udf = F.udf(dss_test_dep.triple, LongType())\n"
        "    df = spark.range(5).select(triple_udf('id').alias('t'))\n"
        "    return sorted(r['t'] for r in df.collect())\n",
    )
    assert out == [0, 3, 6, 9, 12]

    # a .zip shipped once the workers are warm (and have imported the
    # package, which stamps the archives they hold) still imports in a
    # later job: a new archive on the path is read, not served from a stamp
    import zipfile

    from dynamic_spark_spark.llmops.fixtures import map_rows

    warm = map_rows(spark.range(8), "warm", "id long", lambda i: [(i,)])
    assert warm.count() == 8
    zdep = os.path.join(d, "dss_test_zipdep.zip")
    with zipfile.ZipFile(zdep, "w") as z:
        z.writestr("dss_test_zipdep.py", "def quadruple(x):\n    return 4 * x\n")
    assert add_py_files(spark, [zdep]) == [zdep]
    out = run_program(
        spark,
        "def main(spark):\n"
        "    from pyspark.sql.types import LongType\n"
        "    import dss_test_zipdep\n"
        "    quad_udf = F.udf(dss_test_zipdep.quadruple, LongType())\n"
        "    df = spark.range(5).select(quad_udf('id').alias('q'))\n"
        "    return sorted(r['q'] for r in df.collect())\n",
    )
    assert out == [0, 4, 8, 12, 16]


def test_add_py_files_missing(spark):
    with pytest.raises(FileNotFoundError):
        add_py_files(spark, ["/nonexistent/thing.py"])


def test_cli_validate_and_run(sf_dir, tmp_path):
    """python -m dynamic_spark_spark validate/run on the example spec: the
    deploy-then-run lifecycle as a user-facing command line."""
    import json as _json
    import subprocess
    import sys

    spec = "examples/wordcount_pipeline.json"
    out_dir = str(tmp_path / "wc_out")
    args = ["--arg", f"sf_dir={sf_dir}", "--arg", f"out_dir={out_dir}"]
    for cmd in ("validate", "run"):
        r = subprocess.run(
            [sys.executable, "-m", "dynamic_spark_spark", cmd, spec, *args],
            capture_output=True,
            text=True,
            timeout=300,
            cwd="/root/repo",
        )
        payload = _json.loads(r.stdout.strip().splitlines()[-1])
        assert r.returncode == 0, r.stderr[-2000:]
        assert payload["ok"] is True
    assert payload["metrics"]["count"]["rows"] > 0
    assert any(l.startswith("sink:parquet") for l in payload["lineage"])


def test_cli_validate_rejects_bad_spec(tmp_path):
    import json as _json
    import subprocess
    import sys

    bad = tmp_path / "bad.json"
    bad.write_text(
        _json.dumps(
            {"stages": [{"name": "t", "type": "transform", "code": "pass"}]}
        )
    )
    r = subprocess.run(
        [sys.executable, "-m", "dynamic_spark_spark", "validate", str(bad)],
        capture_output=True,
        text=True,
        timeout=120,
        cwd="/root/repo",
    )
    assert r.returncode == 1
    payload = _json.loads(r.stdout.strip().splitlines()[-1])
    assert payload["ok"] is False and payload["errors"]


def test_cli_curation_pipeline_example(sf_dir, tmp_path):
    """The LLM-curation example spec end-to-end through the CLI: quality
    filter (user code) → exact dedup keep-first (user code, window) →
    per-source cap (SQL stage with a ${cap} macro) → parquet sink. Ties the
    reference-parity pipeline framework (Tier A) to the curation operator
    tier (Tier D) in one runnable artifact."""
    import json as _json
    import subprocess
    import sys

    out_dir = str(tmp_path / "curated")
    r = subprocess.run(
        [
            sys.executable, "-m", "dynamic_spark_spark", "run",
            "examples/curation_pipeline.json",
            "--arg", f"sf_dir={sf_dir}", "--arg", f"out_dir={out_dir}",
            "--arg", "cap=20",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    payload = _json.loads(r.stdout.strip().splitlines()[-1])
    assert payload["ok"] is True
    m = payload["metrics"]
    # each stage must not grow the row count, and the cap binds per source
    assert m["dedup_exact"]["rows"] <= m["quality"]["rows"]
    assert m["cap_per_source"]["rows"] <= m["dedup_exact"]["rows"]
    import duckdb

    con = duckdb.connect()
    capped = con.execute(
        f"SELECT source, COUNT(*) n FROM read_parquet('{out_dir}/*.parquet')"
        " GROUP BY source ORDER BY n DESC"
    ).fetchall()
    assert capped and all(n <= 20 for _, n in capped)
