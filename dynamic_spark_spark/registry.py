"""Query-key registry.

Every operator from SURVEY.md §2 registers a named query here, optionally with
an equivalent ANSI-SQL oracle string runnable by DuckDB on the same parquet
tables. ``__spark_entry__.py`` exposes these to the driver's correctness gate.

This is the new engine's analog of the reference's test corpus
(``ScalaSparkTest.java:105-407``): instead of six golden pipeline tests, every
operator is proven by a differential oracle.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark, sf_dir) -> DataFrame
QUERIES: dict[str, QueryFn] = {}
#: name -> DuckDB-compatible ANSI SQL (absent ⇒ rows-only check)
ORACLE: dict[str, str] = {}
#: name -> SURVEY §2 category tag (for coverage reporting)
TAGS: dict[str, str] = {}

# Modules whose import populates the registry.
_QUERY_MODULES = [
    "dynamic_spark_spark.operators.scans",
    "dynamic_spark_spark.operators.projections",
    "dynamic_spark_spark.operators.joins",
    "dynamic_spark_spark.operators.aggregates",
    "dynamic_spark_spark.operators.windows",
    "dynamic_spark_spark.operators.sorts",
    "dynamic_spark_spark.operators.setops",
    "dynamic_spark_spark.operators.udfs",
    "dynamic_spark_spark.operators.ml",
    "dynamic_spark_spark.operators.composite",
    "dynamic_spark_spark.operators.composite2",
    "dynamic_spark_spark.operators.composite3",
    "dynamic_spark_spark.operators.subqueries",
    "dynamic_spark_spark.operators.skew",
    "dynamic_spark_spark.operators.reshape",
    "dynamic_spark_spark.operators.behavior",
    "dynamic_spark_spark.operators.timeseries",
    "dynamic_spark_spark.operators.graph",
    "dynamic_spark_spark.operators.profiling",
    "dynamic_spark_spark.operators.sketches",
    "dynamic_spark_spark.operators.stats_tests",
    "dynamic_spark_spark.operators.sql_surface",
    "dynamic_spark_spark.functions.strings",
    "dynamic_spark_spark.functions.dates",
    "dynamic_spark_spark.functions.math_fns",
    "dynamic_spark_spark.functions.collections",
    "dynamic_spark_spark.functions.json_fns",
    "dynamic_spark_spark.functions.hashes",
    "dynamic_spark_spark.plans.pipeline_queries",
    "dynamic_spark_spark.streaming.batch_equiv",
    "dynamic_spark_spark.llmops.dedup",
    "dynamic_spark_spark.llmops.similarity",
    "dynamic_spark_spark.llmops.embedding_ops",
    "dynamic_spark_spark.llmops.text",
    "dynamic_spark_spark.llmops.html",
    "dynamic_spark_spark.llmops.containers",
    "dynamic_spark_spark.llmops.instruct",
    "dynamic_spark_spark.llmops.tfrecord",
    "dynamic_spark_spark.llmops.pdf",
    "dynamic_spark_spark.llmops.parquet_footer",
    "dynamic_spark_spark.llmops.avro_ocf",
    "dynamic_spark_spark.llmops.protowire",
    "dynamic_spark_spark.llmops.lz4_hadoop",
    "dynamic_spark_spark.llmops.parquet_raw",
    "dynamic_spark_spark.llmops.orc_raw",
    "dynamic_spark_spark.llmops.zstd",
    "dynamic_spark_spark.llmops.prep",
    "dynamic_spark_spark.llmops.multimodal",
    "dynamic_spark_spark.llmops.curation",
    "dynamic_spark_spark.llmops.mixture",
    "dynamic_spark_spark.llmops.retrieval",
]


def query(name: str, oracle: str | None = None, tag: str = "") -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with an optional DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            prev = QUERIES[name]
            # A module re-import (importlib.reload, or the same file reached
            # under two module names) re-runs its decorators; that re-binding
            # is idempotent, not a conflict. Only two DIFFERENT definitions
            # claiming one key is a registration bug. The module comparison
            # requires one dotted path to be a suffix-at-a-dot of the other
            # (reload: equal; dual-name import: 'llmops.text' vs
            # 'dynamic_spark_spark.llmops.text') — a bare basename match
            # would let same-named functions in sibling packages (e.g. a
            # future operators/ops.py vs llmops/ops.py) silently rebind.
            pm = getattr(prev, "__module__", "") or ""
            fm = getattr(fn, "__module__", "") or ""
            suffix_match = pm.endswith("." + fm) or fm.endswith("." + pm)
            same_module = pm == fm or suffix_match
            # The suffix rule degenerates to a basename match when one path
            # is a single segment ('ops' vs 'sibling_pkg.ops'), which would
            # let two different same-named functions silently rebind. When
            # the suffix rule (not exact equality) is what matched, demand
            # the definitions also come from the same source file.
            if suffix_match and pm != fm:
                prev_file = getattr(getattr(prev, "__code__", None), "co_filename", None)
                fn_file = getattr(getattr(fn, "__code__", None), "co_filename", None)
                same_module = prev_file is not None and prev_file == fn_file
            same_def = (
                getattr(prev, "__qualname__", None) == getattr(fn, "__qualname__", None)
                and same_module
            )
            if not same_def:
                raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        if tag:
            TAGS[name] = tag
        return fn

    return deco


#: Where the driver drops its per-round ``CORRECTNESS_rNN.json`` records.
_RECORDS_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_verified_round() -> dict[str, int]:
    """Key -> the latest driver round whose ``CORRECTNESS_rNN.json``
    verified it: hash-green, or rows-only by contract (the driver marks
    those ``err="no_oracle"`` with a row count)."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_RECORDS_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not m or not isinstance(rows, dict):
            continue
        for key, row in rows.items():
            if isinstance(row, dict) and (
                row.get("hash_match")
                or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
            ):
                last[key] = max(last.get(key, 0), int(m.group(1)))
    return last


def verification_order(keys) -> list[str]:
    """Order ``keys`` stalest-first for the driver's prefix-limited
    correctness gate: by the last round that verified each key, oldest
    first (never-verified keys count as round 0), ties in the given
    (registration) order. A key that went red keeps its older green round,
    so it moves forward; each round's window covers a fresh slice."""
    last = _last_verified_round()
    return sorted(keys, key=lambda k: last.get(k, 0))


def load_all_queries() -> dict[str, QueryFn]:
    """Import every operator module (populating the registry) and return it
    in driver-verification order (stalest-first). Idempotent: duplicate module
    names are imported once, and re-running a module's decorators (reload,
    dual-name import) re-binds rather than double-registers (r6 verdict
    order #3)."""
    for mod in dict.fromkeys(_QUERY_MODULES):
        importlib.import_module(mod)
    return {k: QUERIES[k] for k in verification_order(list(QUERIES))}
