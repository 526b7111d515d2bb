"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_tpch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The script generates the input tables
(``datagen.py``), starts ``worker.py`` in a fresh interpreter with its own
Spark session, and times its set-up from process start until the worker
reports a tuned session and a loaded registry. Its last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``:

* ``--trace 0``: the end-to-end metrics named in ``BENCHMARK.json``;
* ``--trace 1``: the per-layer metrics named there.

The line before it reports every figure with its unit, including those
that are recorded but not judged (``first_pass_s``, the steady wall time
per pass ``pass_s`` and ``failed_frac``), and the run's context (core
counts, load, steal, versions).

Every file a run writes stays under ``.perfbench_out/`` in the checkout:
the per-run work directory (tables, Spark local dirs, temp files,
warehouse, checkpoints, pipeline output), removed at the end, and the run
record ``<workload>-s<seed>-t<trace>.json``, which is kept. Every process
started is waited for; the run ends within :data:`DEADLINE_S`.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

from workloads import DATA_ROWS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

DEADLINE_S = 170
DRIVER_MEMORY = "2g"


def child_env(work):
    """Environment for worker processes: the package on the path of the
    driver and of Spark's Python workers, every scratch location inside
    ``work``, UTC for timestamp conversion."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # No JVM may write outside the checkout: -XX:-UsePerfData keeps the
    # launcher's and the driver's perf files out of the system temp dir.
    launcher_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    java_opts = f"{launcher_opts} -Dderby.system.home={work}"
    submit = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    path = env.get("PYTHONPATH")
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": launcher_opts,
        "TZ": "UTC",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
    })
    return env


class Child:
    """A worker process in its own process group, with its stdout lines
    read by a thread so reads can time out."""

    def __init__(self, args, env, cwd):
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env, cwd=cwd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            text=True, start_new_session=True,
        )
        self.lines = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def next_line(self, deadline):
        """The next stdout line, or ``None`` at end of output or deadline."""
        try:
            return self.lines.get(timeout=max(0.0, deadline - time.perf_counter()))
        except queue.Empty:
            return None

    def wait_ready(self, deadline):
        """Seconds from start to the ``READY`` line and its payload."""
        while (line := self.next_line(deadline)) is not None:
            if line.startswith("READY "):
                return time.perf_counter() - self.started, json.loads(line[6:])
            print(line, file=sys.stderr)
        return None, None

    def close(self, deadline):
        """Wait for the process and every process of its session (the JVM
        exits once the worker's end of its pipe closes; the PySpark daemon
        moves to a process group of its own but stays in the session),
        killing what is left at the deadline."""
        sid = self.proc.pid
        try:
            self.proc.wait(timeout=max(0.1, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            pass
        while _session_pids(sid) and time.perf_counter() < deadline:
            time.sleep(0.1)
        while pids := _session_pids(sid):
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        self.proc.wait()
        self._reader.join()


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def _session_pids(sid):
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rpartition(")")[2].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def main(argv=None):
    t_start = time.perf_counter()
    deadline = t_start + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dynamic_spark_spark", "session.py")):
        print("perfbench: no dynamic_spark_spark package next to perfbench/", file=sys.stderr)
        return 2

    from datagen import write_tables

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    record = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    timeline = {}

    def mark(name):
        timeline[name] = time.perf_counter() - t_start

    worker = None
    signal.signal(signal.SIGTERM, _terminate)
    try:
        data = write_tables(os.path.join(work, "data"), DATA_ROWS[args.workload])
        mark("data")
        env = child_env(work)
        common = ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--work", work]
        worker = Child([*common, "--record", record], env, work)
        setup, ready = worker.wait_ready(deadline)
        mark("worker_ready")
        result = None
        while (line := worker.next_line(deadline)) is not None:
            try:
                result = json.loads(line)
            except json.JSONDecodeError:
                result = None
                print(line, file=sys.stderr)
        mark("worker_result")
        worker.close(deadline)
        mark("worker_closed")
        if setup is None or result is None or worker.proc.returncode != 0:
            print(f"perfbench: worker failed (exit {worker.proc.returncode})", file=sys.stderr)
            return 1
    finally:
        if worker is not None:
            worker.close(time.perf_counter())  # no-op unless interrupted
        shutil.rmtree(work, ignore_errors=True)

    metrics = dict(result["metrics"])
    metrics.update(ready if args.trace else {"setup_s": setup})
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    unit = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    with open(record) as fh:
        rec = json.load(fh)
    rec["metrics"] = metrics
    rec["timeline_s"] = timeline
    with open(record, "w") as fh:
        json.dump(rec, fh, indent=1)

    # Every figure of the run with its unit, judged or not, then the
    # context that separates a box phase from a code change.
    report = {k: {"value": v, "unit": unit.get(k, "s")} for k, v in metrics.items()}
    report["failed_frac"] = {"value": result["failed"] / result["attempted"], "unit": "1"}
    print(json.dumps({"workload": args.workload, "report": report,
                      "context": result["context"], "record": os.path.relpath(record, ROOT)}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": unit[k]} for k in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
