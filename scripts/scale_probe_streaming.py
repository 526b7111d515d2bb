#!/usr/bin/env python
"""Round-5 SCALE wave (deferred from round 4; ordered by the r3 verdict):
streaming-state growth curves at 10× data.

Three probes, each run at sf0.01 and sf0.1 (10× events, 10× users):

1. ``stream_custom_session_live``'s engine (``stateful_sessions``): drain
   the full events stream and read ``stateOperators`` progress metrics.
   The claim to verify: state rows are bounded by the number of OPEN
   sessions (≤ #distinct keys at any watermark), NOT by events processed —
   the watermark horizon, not stream length, is the state budget. Also
   vary the gap/watermark horizon (30 min vs 2 h) at fixed SF to show the
   horizon, not the data, drives peak state.

2. ``stream_stream_join_live``'s join shape: drain the watermarked
   interval join and read the join operator's state rows. Claim: state is
   bounded by rows inside the watermark+interval horizon; with an
   availableNow single-batch drain this is the full (filtered) side, so
   the honest curve is linear in side size — the 100 TB safety comes from
   the watermark EXPIRING rows in continuous operation, which the metric
   shows as numRowsRemoved > 0 once batches advance the watermark
   (forced here with maxFilesPerTrigger over a multi-file source).

3. ``stream_foreachbatch_upsert`` batch equivalent: wall time of the
   drain at both SFs (anti-join probe cost is linear in target size).

Writes one JSON line per probe; summarized into SCALE.md.
"""

from __future__ import annotations

import json
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from dynamic_spark_spark.session import get_spark
from dynamic_spark_spark.sources.readers import load_table
from dynamic_spark_spark.streaming.core import (
    await_drained,
    file_stream,
    stateful_sessions,
)

SFS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")


def state_metrics(progresses) -> dict:
    """Fold stateOperators metrics across a query's progress history."""
    peak_rows, total_removed, batches = 0, 0, 0
    for p in progresses:
        batches += 1
        for op in p.get("stateOperators", []):
            peak_rows = max(peak_rows, op.get("numRowsTotal", 0))
            total_removed += op.get("numRowsRemoved", 0)
    return {"peak_state_rows": peak_rows, "rows_removed": total_removed, "batches": batches}


def drain(q, probe: str):
    # partial state metrics must never masquerade as a completed drain:
    # await_drained raises StreamDrainError unless the drain finished
    await_drained(q, probe, timeout_s=600)
    q.stop()
    return [json.loads(p.json) for p in q.recentProgress]


def probe_sessions(spark, sf_dir: str, gap_s: int, wm: str, n_files: int) -> dict:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    src = tempfile.mkdtemp(prefix="dss_probe_sess_")
    ckpt = tempfile.mkdtemp(prefix="dss_probe_sess_ck_")
    try:
        # time-ordered multi-file source + maxFilesPerTrigger=1 so the
        # watermark ADVANCES between batches and timers actually evict
        ev.orderBy("ts").repartitionByRange(n_files, "ts").write.mode(
            "overwrite"
        ).parquet(src)
        stream = file_stream(spark, src, ev.schema, maxFilesPerTrigger="1")
        sess = stateful_sessions(stream, gap_seconds=gap_s, watermark=wm)
        t0 = time.perf_counter()
        q = (
            sess.writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        prog = drain(q, "custom_session_state")
        # stop the clock BEFORE the bookkeeping counts below — they launch
        # full Spark jobs and must not inflate the reported drain wall time
        wall_s = round(time.perf_counter() - t0, 2)
        n_events = ev.count()
        n_users = ev.select("user_id").distinct().count()
        return {
            "probe": "custom_session_state",
            "sf_dir": sf_dir,
            "gap_s": gap_s,
            "watermark": wm,
            "n_events": n_events,
            "n_users": n_users,
            "wall_s": wall_s,
            **state_metrics(prog),
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def probe_ssj(spark, sf_dir: str, n_files: int) -> dict:
    ev = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="dss_probe_ssj_")
    ckpt = tempfile.mkdtemp(prefix="dss_probe_ssj_ck_")
    try:
        side = ev.where(F.col("event_type").isin("click", "purchase")).select(
            "user_id", "event_type", "ts"
        )
        # time-ordered multi-file source: each micro-batch covers a later
        # time slice, so the watermark advances and join state is EVICTED
        # between batches — the continuous-operation shape, not one big batch
        side.orderBy("ts").repartitionByRange(n_files, "ts").write.mode(
            "overwrite"
        ).parquet(src)
        s1 = file_stream(spark, src, side.schema, maxFilesPerTrigger="1")
        s2 = file_stream(spark, src, side.schema, maxFilesPerTrigger="1")
        clicks = (
            s1.where(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("c_ts"))
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            s2.where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            F.expr(
                "user_id = p_user AND p_ts >= c_ts"
                " AND p_ts <= c_ts + INTERVAL 30 MINUTES"
            ),
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        t0 = time.perf_counter()
        try:
            q = (
                joined.writeStream.format("noop")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            prog = drain(q, "stream_stream_join_state")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # stop the clock before side.count() — it launches a Spark job and
        # must not inflate the reported drain wall time
        wall_s = round(time.perf_counter() - t0, 2)
        return {
            "probe": "stream_stream_join_state",
            "sf_dir": sf_dir,
            "side_rows": side.count(),
            "n_files": n_files,
            "wall_s": wall_s,
            **state_metrics(prog),
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def probe_upsert(spark, sf_dir: str) -> dict:
    from dynamic_spark_spark.registry import load_all_queries

    qs = load_all_queries()
    t0 = time.perf_counter()
    n = qs["stream_foreachbatch_upsert"](spark, sf_dir).count()
    return {
        "probe": "foreachbatch_upsert",
        "sf_dir": sf_dir,
        "result_rows": n,
        "wall_s": round(time.perf_counter() - t0, 2),
    }


def main() -> None:
    spark = get_spark("dss-scale-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    out = []
    for sf_dir in SFS:
        out.append(probe_sessions(spark, sf_dir, 1800, "30 minutes", 8))
        out.append(probe_ssj(spark, sf_dir, 8))
        out.append(probe_upsert(spark, sf_dir))
    # horizon sweep at fixed SF: state budget tracks the horizon, not data
    out.append(probe_sessions(spark, SFS[1], 7200, "2 hours", 8))
    for row in out:
        print(json.dumps(row))
    spark.stop()


if __name__ == "__main__":
    main()
