"""The benchmark's workloads and its fixed Spark width.

Each workload is a list of registered query keys. One pass runs every key
once, in an order drawn from the workload seed, each run to completion by
a no-op write of its DataFrame.

The two workloads split the layers between them, so that an optimisation
of one layer moves one workload and leaves the other unchanged:

* ``sql_tpch`` runs in the JVM only (Catalyst and the parquet reader, no
  Python workers). ``tpch_q9_product_profit`` loads five tables and
  ``agg_groupby_multi`` one, each through ``sources.load_table``, so
  schema resolution is a large share of it.
* ``raw_decode`` runs the pure-Python parquet page decompression and
  decoding of ``llmops`` in Python workers. Its lineitem table has the row
  count of the 0.1 scale, so that the decoder is a large share of a pass
  rather than a rounding error next to Spark's per-job costs. The input is
  staged once per session, so ``sources.load_table`` is barely used.
"""

from __future__ import annotations

#: Spark runs as ``local[N_CORES]``, whatever the machine or environment says.
N_CORES = 2

WORKLOADS = {
    "sql_tpch": [
        "tpch_q9_product_profit",
        "agg_groupby_multi",
    ],
    "raw_decode": [
        "scan_parquet_raw_numeric",
    ],
}

#: Row counts that differ from ``datagen.ROWS``, per workload.
DATA_ROWS = {
    "sql_tpch": {},
    "raw_decode": {"lineitem": 600_000, "orders": 150_000},
}
