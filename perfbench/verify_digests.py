"""Derive the expected output digests of the benchmark's oracle keys from
DuckDB, and check or rewrite ``perfbench/digests.json`` with them.

    python3 perfbench/verify_digests.py          # check, exit 1 on a mismatch
    python3 perfbench/verify_digests.py --write  # rewrite digests.json

For every workload, generates its tables into ``.perfbench_out/verify-data``
and runs each operation's registered oracle SQL in DuckDB over them, the
same oracle the test suite compares Spark with. The expected outputs thus
never come from the program under test. Keys without an oracle are listed;
their committed row counts are left as they are.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
DIGESTS = os.path.join(HERE, "digests.json")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", help="rewrite digests.json")
    args = ap.parse_args(argv)

    from datagen import write_tables
    from dynamic_spark_spark import registry
    from stats import digest
    from tests.oracle_harness import duckdb_connection
    from workloads import DATA_ROWS, WORKLOADS

    registry.load_all_queries()
    with open(DIGESTS) as fh:
        committed = json.load(fh)
    derived, bad = dict(committed), 0
    data = os.path.join(ROOT, ".perfbench_out", "verify-data")
    try:
        for workload, ops in sorted(WORKLOADS.items()):
            con = duckdb_connection(write_tables(data, DATA_ROWS[workload]))
            for key in ops:
                if key not in registry.ORACLE:
                    print(f"{workload}/{key}: no oracle "
                          f"({committed.get(key, {}).get('rows')} rows committed)")
                    continue
                rows, sha = digest(con.execute(registry.ORACLE[key]).df())
                derived[key] = {"rows": rows, "sha256": sha}
                ok = committed.get(key) == derived[key]
                bad += not ok
                print(f"{workload}/{key}: {'ok' if ok else 'differs'} ({rows} rows)")
            con.close()
    finally:
        shutil.rmtree(data, ignore_errors=True)
    if args.write:
        with open(DIGESTS, "w") as fh:
            json.dump(derived, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
