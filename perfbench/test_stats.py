"""Tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/test_stats.py -q
"""

import math
import os
import statistics
import sys
from datetime import datetime

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from stats import (  # noqa: E402
    cpu_by_role,
    digest,
    median,
    parse_proc_stat,
    percentile,
    quartile_spread,
    tail_percentile,
)


def test_median_odd_even_and_empty():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    assert median([7.5]) == 7.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99.9) == 100
    assert percentile([5, 1], 0) == 1


def test_tail_percentile_keeps_ten_samples_beyond():
    # 100 samples: p90 leaves exactly 10 above it, p95 only 5.
    pct, value, n = tail_percentile(list(range(1, 101)))
    assert (pct, value, n) == (90.0, 90, 100)
    # 1000 samples: p99 leaves 10 above it.
    assert tail_percentile(list(range(1000)))[0] == 99.0
    # 20 samples: only the median has ten beyond it.
    assert tail_percentile(list(range(20)))[0] == 50.0
    assert tail_percentile(list(range(19))) is None


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 10.4, 9.8, 10.1, 10.9, 9.7, 10.2, 10.0, 10.3, 9.9]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def _stat_line(pid, comm, ppid, ut, st, cut=0, cst=0):
    # Fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime ...
    return (f"{pid} ({comm}) S {ppid} {pid} {pid} 0 -1 0 0 0 0 0 "
            f"{ut} {st} {cut} {cst} 20 0 1 0 100")


def test_parse_proc_stat_handles_spaces_and_parens_in_comm():
    line = _stat_line(42, "a) (b c", 7, 11, 12, 13, 14)
    assert parse_proc_stat(line) == (7, "a) (b c", 11, 12, 13, 14)


def test_cpu_by_role_sums_the_tree_and_attributes_reaped_children():
    table = {
        pid: parse_proc_stat(_stat_line(pid, *rest))
        for pid, *rest in [
            (10, "python3", 1, 100, 20, 5, 5),   # driver; reaped launcher -> jvm
            (11, "java", 10, 300, 100, 40, 10),  # JVM; reaped workers -> pyworker
            (12, "python3", 11, 50, 10, 30, 0),  # daemon; reaped workers -> pyworker
            (13, "python3", 12, 25, 5),          # live worker
            (99, "java", 1, 1000, 1000),         # not in the tree
        ]
    }
    got = cpu_by_role(table, root=10, ticks_per_s=100)
    assert got == {"driver": 1.2, "jvm": 4.1, "pyworker": 1.7}


def test_cpu_by_role_of_a_vanished_root_is_zero():
    assert cpu_by_role({}, root=5, ticks_per_s=100) == {"driver": 0, "jvm": 0, "pyworker": 0}


def test_digest_ignores_row_and_column_order():
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [2.5, None, float("nan")]})
    swapped = pdf[["v", "k"]].iloc[::-1].reset_index(drop=True)
    assert digest(pdf) == digest(swapped)
    assert digest(pdf)[0] == 3


def test_digest_is_exact_on_values():
    base = digest(pd.DataFrame({"x": [0.1 + 0.2]}))
    assert base != digest(pd.DataFrame({"x": [0.3]}))
    assert digest(pd.DataFrame({"x": [None]}, dtype=object)) != digest(
        pd.DataFrame({"x": [float("nan")]}, dtype=object))
    assert digest(pd.DataFrame({"x": [1]})) != digest(pd.DataFrame({"x": [True]}))
    assert digest(pd.DataFrame({"x": [1]})) == digest(pd.DataFrame({"x": [1]}))


def test_digest_canonicalises_nested_and_temporal_values():
    ts = datetime(2024, 1, 1, 0, 0, 7, 179575)
    pdf = pd.DataFrame({"arr": [[1.5, None]], "map": [{"b": 2, "a": 1}],
                        "ts": [ts], "bin": [b"\x00\xff"]})
    same = pd.DataFrame({"arr": [np.array([1.5, None], dtype=object)],
                         "map": [{"a": 1, "b": 2}], "ts": [pd.Timestamp(ts)],
                         "bin": [b"\x00\xff"]})
    assert digest(pdf) == digest(same)
    other = same.assign(arr=[[1.5, math.inf]])
    assert digest(pdf) != digest(other)


def test_digest_of_empty_result_depends_on_columns_only():
    assert digest(pd.DataFrame({"a": []})) == digest(pd.DataFrame({"a": []}))
    assert digest(pd.DataFrame({"a": []}))[0] == 0
    assert digest(pd.DataFrame({"a": []})) != digest(pd.DataFrame({"b": []}))
