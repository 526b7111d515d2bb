"""Spark-side half of the benchmark: one process, one session, one client.

``run.py`` starts this process with the environment it needs (package
path, temp dirs, time zone). The process builds a tuned session with
``session.get_spark`` at ``local[N_CORES]``, loads the query registry and
prints ``READY`` with the two set-up times. It then runs the workload as
a closed loop with one client (one operation in flight, each run to
completion):

1. the first pass in the fresh session, timed;
2. one untimed check pass: each operation is built again, its output
   collected and checked against the committed digests;
3. warm-up passes until the CPU a pass costs stops falling (capped);
4. timed passes for ``--seconds`` and at least :data:`CPU_PASSES` (or
   :data:`MIN_TRACED_PASSES` when traced).

With ``--trace 1`` the timed passes are traced instead. Every operation
is split into construction, planning and execution; its Spark jobs,
stages, tasks, shuffle bytes and spill are read from the scheduler and
the status store, and its CPU by role (driver, JVM, Python workers) from
``/proc``. Each traced pass then makes one round of direct calls into the
``sources``, ``llmops``, ``streaming`` and ``plans`` layers; streaming
progress comes from a ``StreamingQueryListener``. Spans are kept in
memory and written to the run record at the end.

The last stdout line is one JSON object: the metrics this process
measured, the attempted and failed counts, and the run context.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import sys
import time
import traceback

from stats import (
    cpu_by_role,
    digest,
    median,
    percentile,
    read_proc_table,
    steal_ticks,
    tail_percentile,
)
from datagen import write_orderkey_column
from workloads import N_CORES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "digests.json")
PIPELINE_SPEC = os.path.join(ROOT, "examples", "curation_pipeline.json")
#: The lineitem columns ``scan_parquet_raw_numeric`` writes and decodes.
RAW_SCAN_COLUMNS = ("l_orderkey", "l_linenumber", "l_quantity", "price_f32", "is_return")

#: Warm-up runs at least MIN_WARM_PASSES passes and stops once CPU per
#: pass stops falling: the mean CPU of the last WARM_WINDOW passes is
#: within WARM_TOLERANCE of the mean of the window before. MAX_WARM_PASSES
#: caps it so that a run fits the benchmark's time budget; pass-to-pass
#: CPU jitters by about a fifth from JIT compilation, so a smaller
#: tolerance would only chase noise.
MIN_WARM_PASSES = 4
MAX_WARM_PASSES = 5
WARM_WINDOW = 2
WARM_TOLERANCE = 0.10
#: ``cpu_s`` is the mean over the first CPU_PASSES timed passes. CPU per
#: pass is still falling slowly in the timed window, so a mean over as
#: many passes as happen to fit in ``--seconds`` would read lower on
#: runs with shorter passes; a fixed count keeps runs comparable.
CPU_PASSES = 8
#: A traced pass ends with a round of direct layer calls that takes
#: several seconds, so a traced run times fewer passes.
MIN_TRACED_PASSES = 4

now = time.perf_counter


class Tracer:
    """Spans kept in memory: name, start, end, parent span and the trace
    (operation invocation) they belong to."""

    def __init__(self):
        self.spans = []
        self._origin = now()

    def span(self, name, parent=None, trace=None, **attrs):
        sp = {"id": len(self.spans), "name": name, "parent": parent,
              "trace": trace, "start": now() - self._origin, **attrs}
        self.spans.append(sp)
        return sp

    def end(self, sp, **attrs):
        sp["end"] = now() - self._origin
        sp.update(attrs)
        return sp["end"] - sp["start"]


class StreamProgress:
    """Sums of streaming micro-batch progress, filled by a
    ``StreamingQueryListener`` and read around each direct drain."""

    def __init__(self):
        self.reset()

    def reset(self):
        self.batches = 0
        self.ms = {"triggerExecution": 0, "addBatch": 0, "queryPlanning": 0,
                   "walCommit": 0, "commitOffsets": 0}

    def add(self, duration_ms):
        self.batches += 1
        for k in self.ms:
            self.ms[k] += duration_ms.get(k, 0)

    def snapshot(self):
        ms = self.ms
        return {"streaming.batches": self.batches,
                "streaming.trigger_s": ms["triggerExecution"] / 1000,
                "streaming.add_batch_s": ms["addBatch"] / 1000,
                "streaming.planning_s": ms["queryPlanning"] / 1000,
                "streaming.commit_s": (ms["walCommit"] + ms["commitOffsets"]) / 1000}


def _listener(progress):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.add(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Bench:
    def __init__(self, spark, queries, oracle_keys, workload, data_dir, work_dir, seed):
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.oracle_keys = oracle_keys
        self.ops = list(WORKLOADS[workload])
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        self.ticks = os.sysconf("SC_CLK_TCK")
        self.attempted = 0
        self.failed = 0
        self.failures = []
        self.checks = {}
        self.tracer = Tracer()
        self.progress = StreamProgress()
        self._codec_inputs = None
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    # -- one operation ------------------------------------------------------

    def build(self, op):
        """The operation's DataFrame, constructed by its registry key
        (eager jobs included)."""
        return self.queries[op](self.spark, self.data_dir)

    @staticmethod
    def execute(df):
        df.write.format("noop").mode("overwrite").save()

    def _fail(self, op, phase):
        self.failed += 1
        self.failures.append({"op": op, "phase": phase, "error": traceback.format_exc(limit=3)})
        print(f"perfbench: {op} failed during {phase}:\n{traceback.format_exc()}",
              file=sys.stderr, flush=True)

    def _counters(self):
        return self._dag.numTotalJobs(), self._dag.nextStageId()

    def _stage_totals(self, first, last):
        """Tasks, shuffle bytes and spill of stages ``[first, last)``, from
        the status store once the listener bus has caught up."""
        self._bus.waitUntilEmpty(10_000)
        out = {"stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in range(first, last):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # evicted or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def run_op(self, op):
        """Construct and execute one operation; returns its wall time."""
        self.attempted += 1
        t = now()
        try:
            self.execute(self.build(op))
            return {"op": op, "wall_s": now() - t}
        except Exception:
            self._fail(op, "run")
            return {"op": op, "wall_s": now() - t, "failed": True}

    def run_op_traced(self, op, parent):
        self.attempted += 1
        tr = self.tracer
        root = tr.span(f"op:{op}", parent, trace=len(tr.spans))
        trace = root["trace"]
        jobs0, stages0 = self._counters()
        cpu0 = self.cpu()
        row = {"op": op}
        try:
            sp = tr.span("construct", root["id"], trace)
            df = self.build(op)
            row["construct_s"] = tr.end(sp)
            row["construct_jobs"] = self._dag.numTotalJobs() - jobs0
            sp = tr.span("plan", root["id"], trace)
            df._jdf.queryExecution().executedPlan()
            row["plan_s"] = tr.end(sp)
            sp = tr.span("execute", root["id"], trace)
            self.execute(df)
            row["execute_s"] = tr.end(sp)
        except Exception:
            self._fail(op, "traced run")
            tr.end(root, failed=True)
            return None
        cpu1 = self.cpu()
        row.update({f"cpu_{k}_s": cpu1[k] - cpu0[k] for k in cpu0})
        jobs1, stages1 = self._counters()
        row["jobs"] = jobs1 - jobs0
        row.update(self._stage_totals(stages0, stages1))
        row["wall_s"] = tr.end(root, **{k: v for k, v in row.items() if k != "op"})
        return row

    # -- passes ---------------------------------------------------------------

    def cpu(self):
        return cpu_by_role(read_proc_table(), os.getpid(), self.ticks)

    def run_pass(self, traced=False):
        """One pass over the operations in seed order. Returns the summed
        wall seconds of the operations, CPU seconds by role over the pass,
        and per-operation rows. A traced pass ends with one round of direct
        layer calls, outside its wall and CPU figures."""
        order = self.rng.sample(self.ops, len(self.ops))
        cpu0 = self.cpu()
        layers = None
        if traced:
            parent = self.tracer.span("pass")
            rows = [self.run_op_traced(op, parent["id"]) for op in order]
        else:
            rows = [self.run_op(op) for op in order]
        cpu1 = self.cpu()
        if traced:
            layers = self.direct_layers(parent["id"])
            self.tracer.end(parent)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        return {"wall_s": sum(r["wall_s"] for r in rows if r is not None),
                "cpu_s": sum(cpu.values()), "cpu": cpu, "order": order, "ops": rows,
                "layers": layers}

    def check_outputs(self, expected):
        """Build every operation once more and check its output against the
        committed digests: row count and hash for oracle keys, row count
        alone for rows-only keys. Untimed."""
        for op in self.ops:
            self.attempted += 1
            try:
                n, sha = digest(self.build(op).toPandas())
            except Exception:
                self._fail(op, "check")
                continue
            got = {"rows": n, "sha256": sha} if op in self.oracle_keys else {"rows": n}
            want = expected.get(op)
            ok = want is not None and got["rows"] == want["rows"] and (
                "sha256" not in want or got.get("sha256") == want["sha256"])
            self.checks[op] = "ok" if ok else {"got": got, "want": want}
            if not ok:
                self.failed += 1
                self.failures.append({"op": op, "phase": "check", "got": got, "want": want})
                print(f"perfbench: {op} output mismatch: got {got}, want {want}",
                      file=sys.stderr, flush=True)

    # -- direct layer calls (traced runs) -------------------------------------

    def _timed(self, name, parent, fn, **attrs):
        sp = self.tracer.span(name, parent, **attrs)
        result = fn()
        return self.tracer.end(sp), result

    def _direct_inputs(self):
        """The fixed inputs of the codec calls, made on first use: a raw
        parquet file of one 0.1-scale column, and a zstd frame written by
        pyarrow over the documents' text."""
        if self._codec_inputs is None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            path = os.path.join(self.work_dir, "orderkeys.parquet")
            n_rows = write_orderkey_column(path)
            with open(path, "rb") as fh:
                raw = fh.read()
            texts = pq.read_table(os.path.join(self.data_dir, "documents.parquet")).column("text")
            payload = "\n".join(texts.to_pylist()).encode()
            frame = pa.Codec("zstd", compression_level=3).compress(payload, asbytes=True)
            self._codec_inputs = (raw, n_rows, payload, frame)
        return self._codec_inputs

    def scan_decode_cpu(self, parent):
        """CPU seconds that ``read_parquet_column`` takes, in this process,
        to decode every column of the files the raw scan's Python workers
        read (the scan stages them on its first run in the session). The
        workers do the same calls, so this is the decoder's part of the
        scan's CPU. Raises if a column comes back short."""
        import glob

        import pyarrow.parquet as pq

        from dynamic_spark_spark.llmops.fixtures import staged_fixture_dir
        from dynamic_spark_spark.llmops.parquet_footer import parse_parquet_footer
        from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column

        def unstaged(path):
            raise RuntimeError("the raw scan did not stage its input")

        staged = staged_fixture_dir(self.spark, self.data_dir, "rawnum", unstaged)
        raws = []
        for path in sorted(glob.glob(os.path.join(staged, "*.parquet"))):
            with open(path, "rb") as fh:
                raws.append(fh.read())
        sp = self.tracer.span("llmops.scan_decode", parent, files=len(raws))
        t = time.process_time()
        counts = [[len(read_parquet_column(raw, c)) for c in RAW_SCAN_COLUMNS] for raw in raws]
        cpu = time.process_time() - t
        self.tracer.end(sp, cpu_s=cpu)
        want = pq.read_metadata(os.path.join(self.data_dir, "lineitem.parquet")).num_rows
        rows = [parse_parquet_footer(raw)[0] for raw in raws]
        if sum(rows) != want or any(set(c) != {n} for c, n in zip(counts, rows)):
            raise RuntimeError("read_parquet_column returned a wrong value count")
        return cpu

    def direct_layers(self, parent):
        """One timed call into each layer's public functions, the same on
        every workload. Raises if a call returns a wrong result."""
        from dynamic_spark_spark.llmops.parquet_raw import read_parquet_column
        from dynamic_spark_spark.llmops.zstd import zstd_decompress
        from dynamic_spark_spark.plans.pipeline import Pipeline
        from dynamic_spark_spark.sources.readers import TABLES, load_table

        out = {}
        times, jobs = [], 0
        for table in TABLES:
            j0 = self._dag.numTotalJobs()
            took, _ = self._timed("sources.load_table", parent,
                                  lambda: load_table(self.spark, self.data_dir, table), table=table)
            times.append(took)
            jobs += self._dag.numTotalJobs() - j0
        out["sources.load_table_ms"] = median(times) * 1000
        out["sources.load_table_jobs"] = jobs / len(times)

        raw, n_rows, payload, frame = self._direct_inputs()
        out["llmops.parquet_decode_s"], values = self._timed(
            "llmops.parquet_decode", parent, lambda: read_parquet_column(raw, "l_orderkey"))
        if values is None or len(values) != n_rows:
            raise RuntimeError("read_parquet_column returned a wrong value count")
        out["llmops.zstd_decompress_s"], decoded = self._timed(
            "llmops.zstd_decompress", parent, lambda: zstd_decompress(frame))
        if decoded != payload:
            raise RuntimeError("zstd_decompress did not round-trip a pyarrow frame")
        out["llmops.worker_scan_s"], _ = self._timed(
            "llmops.worker_scan", parent,
            lambda: self.execute(self.build("scan_parquet_raw_numeric")))
        out["llmops.scan_decode_cpu_s"] = self.scan_decode_cpu(parent)

        self._bus.waitUntilEmpty(10_000)
        self.progress.reset()
        self._timed("streaming.drain", parent,
                    lambda: self.queries["stream_rollup_live"](self.spark, self.data_dir))
        self._bus.waitUntilEmpty(10_000)
        out.update(self.progress.snapshot())

        with open(PIPELINE_SPEC) as fh:
            spec = json.load(fh)
        args = {"sf_dir": self.data_dir, "cap": "50",
                "out_dir": os.path.join(self.work_dir, "direct_pipeline_out")}
        pipe = Pipeline(spec, runtime_args=args)
        out["plans.validate_s"], problems = self._timed(
            "plans.validate", parent, lambda: pipe.validate(self.spark))
        if problems:
            raise RuntimeError(f"pipeline validation: {problems}")
        out["plans.run_s"], _ = self._timed("plans.run", parent, lambda: pipe.run(self.spark))
        return out


def warm_up(bench):
    """Warm-up passes (see :data:`MIN_WARM_PASSES`). Returns the passes and
    whether CPU per pass stopped falling before the cap."""
    series = []
    while len(series) < MAX_WARM_PASSES:
        series.append(bench.run_pass())
        cpu = [p["cpu_s"] for p in series]
        w = WARM_WINDOW
        if len(cpu) >= MIN_WARM_PASSES and (
                sum(cpu[-w:]) >= (1 - WARM_TOLERANCE) * sum(cpu[-2 * w:-w])):
            return series, True
    return series, False


def per_op_latency(passes):
    """``{op: {p50_s, tail}}`` over the given passes' per-operation walls."""
    walls = {}
    for p in passes:
        for row in p["ops"]:
            if row is not None:
                walls.setdefault(row["op"], []).append(row["wall_s"])
    out = {}
    for op, xs in sorted(walls.items()):
        tail = tail_percentile(xs)
        out[op] = {"p50_s": percentile(xs, 50), "samples": len(xs),
                   "tail": None if tail is None else
                   {"pct": tail[0], "value_s": tail[1], "samples": tail[2]}}
    return out


def layer_metrics(timed):
    """Per-layer metrics of a traced run, each the median over the traced
    passes: sums over the workload's operations, CPU by role, the direct
    layer calls, and pooled per-operation latency."""
    def per_pass(key):
        return median([sum(r[key] for r in p["ops"] if r is not None) for p in timed])

    out = {}
    for key in ("construct_s", "construct_jobs", "plan_s", "execute_s"):
        out[f"phase.{key}"] = per_pass(key)
    for key in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = per_pass(key)
    for role in ("driver", "jvm", "pyworker"):
        out[f"cpu.{role}_s"] = median([p["cpu"][role] for p in timed])
    for key in timed[0]["layers"]:
        out[key] = median([p["layers"][key] for p in timed])
    walls = [r["wall_s"] for p in timed for r in p["ops"] if r is not None]
    out["op.p50_s"] = percentile(walls, 50)
    # Fewer than 20 samples leave no percentile with ten beyond it; the
    # median stands in, with its sample count.
    tail = tail_percentile(walls) or (50.0, out["op.p50_s"], len(walls))
    out["op.tail_pct"], out["op.tail_s"], out["op.samples"] = tail
    out["trace.pass_s"] = median([p["wall_s"] for p in timed])
    return out


def context(spark, load0, steal0, t0):
    steal = steal_ticks() - steal0
    elapsed = now() - t0
    nproc = os.cpu_count() or 1
    return {
        "nproc": nproc,
        "local_n": N_CORES,
        "loadavg_start": load0,
        "loadavg_end": list(os.getloadavg()),
        "steal_ticks": steal,
        "steal_share": steal / (os.sysconf("SC_CLK_TCK") * elapsed * nproc) if elapsed else 0.0,
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "platform": platform.platform(),
    }


def main(argv=None):
    t_start = now()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--record", help="write the run record here")
    args = ap.parse_args(argv)

    load0, steal0 = list(os.getloadavg()), steal_ticks()
    t0 = now()
    from dynamic_spark_spark.session import get_spark

    spark = get_spark("perfbench", cpus=N_CORES)
    t1 = now()
    from dynamic_spark_spark import registry

    queries = registry.load_all_queries()
    t2 = now()
    print("READY " + json.dumps({"session.start_s": t1 - t0, "registry.load_s": t2 - t1}),
          flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    bench = Bench(spark, queries, set(registry.ORACLE), args.workload,
                  args.data, args.work, args.seed)

    steps = [now()]
    first = bench.run_pass()
    steps.append(now())
    with open(DIGESTS) as fh:
        bench.check_outputs(json.load(fh))
    steps.append(now())
    warm, converged = warm_up(bench)
    if args.trace:
        spark.streams.addListener(_listener(bench.progress))
    timed = []
    t_timed = now()
    steps.append(t_timed)
    min_passes = MIN_TRACED_PASSES if args.trace else CPU_PASSES
    while len(timed) < min_passes or now() - t_timed < args.seconds:
        timed.append(bench.run_pass(traced=bool(args.trace)))
    steps.append(now())

    if args.trace:
        metrics = layer_metrics(timed)
    else:
        # CPU is a cost that adds up, and JIT compilation lands on single
        # passes in bursts: the mean over the timed passes (their total
        # core-seconds per pass) is steadier across runs than the median.
        metrics = {
            "first_pass_s": first["wall_s"],
            "pass_s": median([p["wall_s"] for p in timed]),
            "cpu_s": sum(p["cpu_s"] for p in timed[:CPU_PASSES]) / CPU_PASSES,
        }
    ctx = context(spark, load0, steal0, t_start)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "context": ctx, "metrics": metrics, "checks": bench.checks,
        "steps_s": dict(zip(("first_pass", "check", "warm_up", "timed"),
                            (b - a for a, b in zip(steps, steps[1:])))),
        "first_pass": first, "warm_up": warm, "warm_converged": converged, "timed": timed,
        "op_latency": per_op_latency(timed),
        "attempted": bench.attempted, "failed": bench.failed, "failures": bench.failures,
        "spans": bench.tracer.spans if args.trace else [],
    }
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"metrics": metrics, "attempted": bench.attempted,
                      "failed": bench.failed, "context": ctx}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
