#!/usr/bin/env python
"""Driver-style verification CLI: run EVERY registered query at sf0.01,
compare oracle-backed keys against DuckDB (exact, order-insensitive), and
print one JSON summary line. Mirrors the per-round correctness gate.

Usage: PYTHONPATH=. python scripts/verify_all.py [sf_dir] [--prefix N]
                                                 [--workers N]

--prefix N checks only the first N keys in driver verification order — the
exact window the per-round gate will sample — for a fast pre-flight.

--workers N (default 4) shards the keys round-robin across N worker
PROCESSES, each with its own SparkSession and DuckDB connection. Processes,
not threads, because keys legitimately mutate session-scoped state
(scoped_conf shuffle-partition overrides, dynamic partitionOverwriteMode,
named temp views, named memory sinks) that would race inside one session.
Per-key verification semantics are identical to the sequential path; only
wall time changes (r10 judge order #5: gate wall <= 180 s). --workers 1
preserves the original single-session run.

With BENCH_GUARD=1 in the environment, bench.py runs afterwards at sf0.1
with the regression guard enforced (exit non-zero past 2x an anchor derived
from the committed quiet-box records) — the refactor-safety combo:
correctness + throughput.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREFIX = None
#: r12: default raised 2 → 4. The box had slowed ~1.6× since r11 (same
#: drift the bench anchors were re-derived for), pushing the 2-worker
#: wall to 259 s; measured same-day, 2/3/4 workers gave wall 258.7 /
#: 202.8 / 140.7 s with summed per-key cost FLAT (469.7 / 533.6 /
#: 469.3 s) — four local[32] JVMs over-subscribe 32 cores but the
#: per-key work is dominated by fixed planning overheads, so sharding
#: wider is pure wall win at this scale.
WORKERS = 4
SHARD = None  # (index, count) when running as a child process
_args = sys.argv[1:]
if "--prefix" in _args:
    i = _args.index("--prefix")
    PREFIX = int(_args[i + 1])
    _args = _args[:i] + _args[i + 2:]
if "--workers" in _args:
    i = _args.index("--workers")
    WORKERS = max(1, int(_args[i + 1]))
    _args = _args[:i] + _args[i + 2:]
if "--shard" in _args:
    i = _args.index("--shard")
    idx, _, count = _args[i + 1].partition("/")
    SHARD = (int(idx), int(count))
    _args = _args[:i] + _args[i + 2:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"


def _verify_keys(names_filter=None):
    """Run the verification loop in THIS process over the driver-ordered
    key list (optionally restricted to ``names_filter``); returns
    (passed, rows_only, failed, elapsed)."""
    from dynamic_spark_spark.registry import ORACLE, load_all_queries
    from dynamic_spark_spark.session import get_spark
    from tests.oracle_harness import compare, duckdb_connection

    spark = get_spark("dss-verify-all")
    spark.sparkContext.setLogLevel("ERROR")
    queries = load_all_queries()
    con = duckdb_connection(SF_DIR)

    # Warm the execution stack the way the DRIVER does before ITS gate: the
    # entry() flagship smoke-check (scan/join/agg codegen + broadcast
    # machinery at sf0.001), plus one mapInPandas round-trip to spawn the
    # reused Python workers + Arrow serializers (entry() is JVM-only).
    # Without this the FIRST key's recorded time absorbs ~5-6 s of
    # JVM/worker bring-up that belongs to session startup, and per-key
    # numbers become order-dependent (the r7 artifact's "slow" keys were
    # window-front keys paying exactly this).
    import __spark_entry__

    __spark_entry__.entry(spark).collect()
    spark.range(32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).collect()

    items = list(queries.items())  # already in driver verification order
    if PREFIX is not None:
        items = items[:PREFIX]
    if names_filter is not None:
        keep = set(names_filter)
        items = [(n, f) for n, f in items if n in keep]
    passed, rows_only, failed, elapsed = [], [], {}, {}
    for name, fn in items:
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF_DIR)
            if name in ORACLE:
                compare(name, df, con.execute(ORACLE[name]).df())
                passed.append(name)
            else:
                # mirror the DRIVER's canon exactly, not just count(): the
                # driver runs toPandas + sort_values over ALL columns for
                # EVERY key (rows-only included) before its row-count logic,
                # and that sort crashes on unhashable cells (array/map/struct
                # outputs — the r4 text_fingerprint/multimodal failures).
                # Running the literal failing operation here converts that
                # whole failure class into a pre-flight catch.
                pdf = df.toPandas()
                if len(pdf.columns):
                    pdf.sort_values(list(pdf.columns))
                assert len(pdf) >= 0
                rows_only.append(name)
        except Exception:
            failed[name] = traceback.format_exc(limit=2).splitlines()[-1]
        elapsed[name] = round(time.perf_counter() - t0, 2)
    spark.stop()
    return passed, rows_only, failed, elapsed


def _shard_main() -> int:
    """Child-process mode: verify keys [idx::count] and dump JSON."""
    from dynamic_spark_spark.registry import load_all_queries

    idx, count = SHARD
    names = list(load_all_queries())
    if PREFIX is not None:
        names = names[:PREFIX]
    mine = names[idx::count]
    passed, rows_only, failed, elapsed = _verify_keys(mine)
    out = os.path.join(_ROOT, "artifacts", f"verify_shard_{idx}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(
            {"passed": passed, "rows_only": rows_only, "failed": failed,
             "elapsed": elapsed},
            f,
        )
    return 0


def main() -> int:
    t_wall = time.perf_counter()
    if SHARD is not None:
        return _shard_main()

    if WORKERS <= 1:
        passed, rows_only, failed, elapsed = _verify_keys()
    else:
        procs = []
        for i in range(WORKERS):
            cmd = [sys.executable, os.path.abspath(__file__), SF_DIR,
                   "--shard", f"{i}/{WORKERS}"]
            if PREFIX is not None:
                cmd += ["--prefix", str(PREFIX)]
            procs.append(subprocess.Popen(cmd, cwd=_ROOT))
        rcs = [p.wait() for p in procs]
        passed, rows_only, failed, elapsed = [], [], {}, {}
        for i in range(WORKERS):
            path = os.path.join(_ROOT, "artifacts", f"verify_shard_{i}.json")
            if rcs[i] != 0 or not os.path.exists(path):
                failed[f"__shard_{i}__"] = f"worker exited rc={rcs[i]}"
                continue
            with open(path) as f:
                part = json.load(f)
            os.remove(path)
            passed += part["passed"]
            rows_only += part["rows_only"]
            failed.update(part["failed"])
            elapsed.update(part["elapsed"])

    wall = round(time.perf_counter() - t_wall, 1)
    # slowest keys to stderr: if the driver's correctness window is
    # time-bounded rather than count-bounded, these are the budget hogs
    slowest = sorted(elapsed.items(), key=lambda kv: -kv[1])[:10]
    print(f"slowest keys: {slowest}", file=sys.stderr)
    # full per-key timings for shave work (engine+oracle+compare per key) —
    # written under the gitignored artifacts/ dir, not the source tree
    art = os.path.join(_ROOT, "artifacts")
    os.makedirs(art, exist_ok=True)
    with open(os.path.join(art, "verify_times.json"), "w") as f:
        json.dump(elapsed, f, indent=0, sort_keys=True)
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "oracle_passed": len(passed),
                "rows_only_passed": len(rows_only),
                "failed": failed,
                "total_sec": round(sum(elapsed.values()), 1),
                "wall_sec": wall,
                "workers": 1 if WORKERS <= 1 else WORKERS,
            }
        )
    )
    if failed:
        return 1
    if os.environ.get("BENCH_GUARD"):
        # throughput leg: rerun the headline bench at sf0.1 with the guard
        # enforced (bench.py exits non-zero past 2x an anchor)
        env = dict(os.environ, SPARK_GRAFT_BENCH_GUARD="1")
        env.pop("SPARK_GRAFT_SF_DIR", None)
        return subprocess.call([sys.executable, "bench.py"], env=env)
    return 0


if __name__ == "__main__":
    sys.exit(main())
