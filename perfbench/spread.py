"""Run the benchmark once per seed and report how much each metric spreads.

    python3 perfbench/spread.py --workload sql_tpch --seeds 1-10 --out runs.jsonl

Runs ``run.py`` for each seed in turn, appends each result line (with its
seed) to ``--out``, and prints for every metric the median, the quartiles
as ``statistics.quantiles(values, n=4)`` gives them, and the spread
``(Q3 - Q1) / median`` next to the metric's bound from ``BENCHMARK.json``.
Exits 1 if any run fails or reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text):
    first, _, last = text.partition("-")
    return range(int(first), int(last or first) + 1)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, required=True, help="e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="JSON-lines file the results are appended to")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    results, ok = [], True
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {proc.returncode})", file=sys.stderr)
            ok = False
            continue
        result = json.loads(lines[-1])
        ok &= result["correct"]
        results.append(result)
        with open(args.out, "a") as fh:
            fh.write(json.dumps({"seed": seed, "result": result}) + "\n")

    if len(results) < 2:
        return 1
    print(f"{args.workload}: {len(results)} runs")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = quartile_spread(values) if median(values) else float("nan")
        print(f"  {name:28s} median {median(values):12.4f}  Q1 {q1:12.4f}  Q3 {q3:12.4f}"
              f"  spread {spread:.3f}  bound {bounds.get(name)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
