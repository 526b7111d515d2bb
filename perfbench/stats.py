"""Pure helpers of the benchmark: order statistics, process-tree CPU and
output digests. Nothing here touches Spark, so the tests can drive every
function with plain values and frames."""

from __future__ import annotations

import hashlib
import math
import os

#: Percentiles tried for the tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    """Median of a non-empty sequence (mean of the middle pair when even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(values, pct):
    """Nearest-rank percentile: the smallest value with at least ``pct``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(pct / 100 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values, min_beyond=10):
    """The highest percentile on :data:`TAIL_LADDER` that leaves at least
    ``min_beyond`` samples above it, as ``(pct, value, n_samples)``.
    Returns ``None`` when even the median has fewer samples beyond it."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n - math.ceil(pct / 100 * n) >= min_beyond:
            return pct, percentile(values, pct), n
    return None


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them — the steadiness figure a run set is judged by."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


# -- process-tree CPU ---------------------------------------------------------

def parse_proc_stat(text):
    """``/proc/<pid>/stat`` → ``(ppid, comm, utime, stime, cutime, cstime)``
    with times in clock ticks. ``comm`` may hold spaces and parentheses,
    so the fields are split after its last closing parenthesis."""
    head, _, rest = text.rpartition(")")
    comm = head.partition("(")[2]
    f = rest.split()
    return int(f[1]), comm, int(f[11]), int(f[12]), int(f[13]), int(f[14])


def read_proc_table(proc="/proc"):
    """Every live process as ``{pid: parse_proc_stat(...)}``. Processes that
    exit while the table is read are skipped."""
    table = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                table[int(name)] = parse_proc_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue
    return table


def cpu_by_role(table, root, ticks_per_s):
    """User plus system seconds of the process tree under ``root``, split
    into ``driver`` (the root Python process), ``jvm`` (processes named
    ``java``) and ``pyworker`` (everything else: the PySpark daemon and its
    forked workers).

    A process's own time goes to its role. The time of its exited,
    reaped children (``cutime``/``cstime``) goes to the role of the
    children it spawns: the root spawns the JVM, the JVM and the daemon
    spawn Python workers. Children still alive are counted on their own,
    so nothing is counted twice."""
    children = {}
    for pid, st in table.items():
        children.setdefault(st[0], []).append(pid)
    out = {"driver": 0, "jvm": 0, "pyworker": 0}
    stack = [root] if root in table else []
    while stack:
        pid = stack.pop()
        _, comm, ut, st, cut, cst = table[pid]
        role = "driver" if pid == root else "jvm" if comm == "java" else "pyworker"
        out[role] += ut + st
        out["jvm" if pid == root else "pyworker"] += cut + cst
        stack.extend(children.get(pid, ()))
    return {k: v / ticks_per_s for k, v in out.items()}


def steal_ticks(proc="/proc"):
    """Aggregate steal ticks from ``/proc/stat`` (time the hypervisor ran
    another guest while this one was runnable)."""
    with open(f"{proc}/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


# -- output digests -----------------------------------------------------------

def digest(pdf):
    """``(row_count, sha256)`` of a pandas frame, insensitive to row and
    column order. Values are put in canonical form by the test suite's
    oracle harness (``tests/oracle_harness.py``), the rule by which the
    oracle keys are compared with DuckDB; only the hashing is done here."""
    from tests.oracle_harness import _canon_frame

    h = hashlib.sha256()
    h.update("\x1f".join(sorted(map(str, pdf.columns))).encode())
    for row in _canon_frame(pdf):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return len(pdf), h.hexdigest()
