"""Time-window aggregations — batch-mode equivalents of the streaming surface
(SURVEY.md §2.C Streaming).

The reference participates in micro-batch streaming pipelines via the
``cdap-data-streams`` parent (``pom.xml:30``): the same transform contract per
micro-batch. Structured Streaming is the native analog (streaming/core.py);
these batch-mode queries prove the *window semantics* against the oracle,
which a live stream can't be (driver contract: streaming is rows-only).

Tumbling windows align to the Unix epoch in Spark; the oracle reproduces that
with epoch arithmetic rather than relying on DuckDB ``time_bucket`` origins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_spark_spark.functions.deterministic import dsum, o_dsum
from dynamic_spark_spark.registry import query
from dynamic_spark_spark.sources.readers import load_table


def _session_staged_src(spark: SparkSession, sf_dir: str, name: str, df: DataFrame) -> str:
    """Stage a drain key's bounded source as parquet ONCE per Spark
    application (the r13 fixture-staging pattern: applicationId-keyed
    tempdir + atexit cleanup — session-scoped staging of the key's own
    input, not cross-run result caching). The stream drain itself still
    runs per invocation over a fresh checkpoint; only the byte-identical
    source write is hoisted out of the per-run path (~0.25 s x 10 live
    keys per verification pass). Callers shape the layout
    (coalesce/repartition) before passing ``df`` where determinism or
    scan width depends on it."""
    from dynamic_spark_spark.llmops.fixtures import staged_fixture_dir

    def write(path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    return staged_fixture_dir(spark, sf_dir, name, write)


@query(
    "stream_window_tumbling",
    "SELECT TIMESTAMP '1970-01-01 00:00:00'"
    "   + to_seconds(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600)"
    "   AS window_start,"
    " event_type, COUNT(*) AS n_events,"
    f" {o_dsum('value')} AS sum_value"
    " FROM events GROUP BY 1, 2",
    tag="streaming",
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window aggregation (``groupBy(window(ts, ...))``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_window_sliding",
    "SELECT TIMESTAMP '1970-01-01 00:00:00' + to_seconds(ws) AS window_start,"
    " COUNT(*) AS n_events FROM ("
    "   SELECT unnest([CAST(floor(epoch(ts) / 300) AS BIGINT) * 300,"
    "                  CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300]) AS ws"
    "   FROM events)"
    " GROUP BY 1",
    tag="streaming",
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 minutes. Spark assigns each event to
    its 2 covering windows; the oracle unnests the same 2 window starts per
    event. Only non-empty windows appear in both."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


@query(
    "stream_window_session",
    "WITH flagged AS ("
    "  SELECT user_id, ts,"
    "    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)"
    "              >= INTERVAL 30 MINUTE OR"
    "         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL"
    "         THEN 1 ELSE 0 END AS new_session"
    "  FROM events),"
    " sessions AS ("
    "  SELECT user_id, ts,"
    "    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts"
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id"
    "  FROM flagged)"
    " SELECT user_id, MIN(ts) AS session_start,"
    "   MAX(ts) + INTERVAL 30 MINUTE AS session_end,"
    "   COUNT(*) AS n_events"
    " FROM sessions GROUP BY user_id, session_id",
    tag="streaming",
)
def stream_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) via ``session_window`` — the stateful
    merge Spark runs incrementally under streaming. The oracle rebuilds the
    same sessions with the gaps-and-islands idiom: an event at exactly
    ``prev + gap`` starts a new session (Spark session end is exclusive)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "stream_stateful_totals",
    # the drained update-mode sink's final per-key count is deterministic
    # (every event is counted exactly once regardless of batch split), so
    # the live stateful path is hash-checked against the batch aggregate
    "SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type",
    tag="streaming",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state streaming (``applyInPandasWithState``) driven live: the
    events table arrives as a bounded file stream (availableNow), per-key
    running totals accumulate in engine-managed state, and the final update
    per key is returned. Proves the general stateful operator end-to-end —
    the strongest analog of the reference's per-micro-batch compute stage.

    Scale shape: ``event_type`` is a bounded key domain, so the stateful
    operator alone caps parallelism at |keys| — the round-6 100× probe
    measured the uncombined form at 29.6 s (15.4× per decade) with 10M rows
    funneled through a handful of Python tasks. A stateless ``mapInPandas``
    partial-reduce (the classic combiner) now runs first at full scan
    parallelism, so the stateful merge consumes (partitions × keys) partial
    rows instead of the event stream; the engine-managed state and its
    final totals are unchanged."""
    from dynamic_spark_spark.streaming.core import (
        drain,
        file_stream,
        stateful_total_merge,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    src = _session_staged_src(spark, sf_dir, "state_src", ev)
    sink = drain(
        stateful_total_merge(file_stream(spark, src, ev.schema)),
        "stream_stateful_totals", src, mode="update",
    )
    return sink.groupBy(F.col("key").alias("event_type")).agg(
        F.max("n").alias("n_events")
    )


@query("stream_dedup_live", tag="streaming")  # rows-only: live stream
def stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + ``dropDuplicates`` driven as a REAL stream (availableNow
    file source → memory sink): each (user_id, event_type) key survives once
    within the watermark horizon, with engine-managed dedup state bounded by
    the watermark — the canonical streaming-ingest dedup stage. The batch
    analog of the semantics is ``distinct_rows``; this key proves the live
    stateful path end-to-end."""
    from dynamic_spark_spark.streaming.core import (
        drain,
        file_stream,
        stateful_dedup,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    src = _session_staged_src(spark, sf_dir, "dedup_src", ev)
    deduped = stateful_dedup(
        file_stream(spark, src, ev.schema),
        ["user_id", "event_type"],
        ts_col="ts",
        watermark="1 hour",
    )
    sink = drain(deduped, "stream_dedup_live", src)
    return sink.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_users"))


_HYPERTABLE_ORACLE = """
WITH minutely AS (
  SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) * 60 AS m_bucket,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2)
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + to_seconds(CAST(floor(m_bucket / 3600) AS BIGINT) * 3600) AS hour_start,
       event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       COUNT(*) AS n_minutes
FROM minutely GROUP BY 1, 2
"""


@query("rollup_hypertable", _HYPERTABLE_ORACLE, tag="streaming")
def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the hourly rollup is computed
    FROM the minutely rollup, never from raw events — the multi-resolution
    pattern where each coarser grain re-aggregates ~60x fewer rows than the
    fact stream. At 100 TB the minutely layer is a materialized partitioned
    table maintained incrementally by the streaming path (same groupBy(window)
    plan); the re-aggregation shape is identical either way, which is what
    the oracle proves here."""
    ev = load_table(spark, sf_dir, "events")
    minutely = ev.groupBy(F.window("ts", "1 minute"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        minutely.groupBy(F.window(F.col("window.start"), "1 hour"), "event_type")
        .agg(F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_minutes"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_minutes",
        )
    )


@query(
    "stream_rollup_live",
    # complete-mode snapshot with no watermark: the drained final state
    # holds every window with its full count regardless of micro-batch
    # splits, so the live continuous aggregate hash-checks against the
    # identical batch rollup oracle
    _HYPERTABLE_ORACLE,
    tag="streaming",
)
def stream_rollup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable minutely layer maintained by a REAL stream: events
    arrive as an availableNow file stream, the same groupBy(window) plan as
    ``rollup_hypertable``'s batch form aggregates them incrementally
    (complete mode into a memory sink), and the returned frame re-aggregates
    to hourly — proving the continuous-aggregate maintenance path live, not
    just its batch equivalence."""
    from dynamic_spark_spark.streaming.core import drain, file_stream

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    src = _session_staged_src(spark, sf_dir, "rollup_src", ev)
    minutely = (
        file_stream(spark, src, ev.schema)
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = drain(minutely, "stream_rollup_live", src, mode="complete")
    return sink.groupBy(
        F.date_trunc("hour", "window.start").alias("hour_start"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_minutes"),
    )


_GAPFILL_ORACLE = f"""
WITH hourly AS (
  SELECT user_id,
         TIMESTAMP '1970-01-01 00:00:00'
           + to_seconds(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600) AS h,
         COUNT(*) AS n, {o_dsum('value')} AS sum_value
  FROM events WHERE user_id < 5 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM bounds
)
SELECT s.user_id, s.h AS hour_start,
       CAST(COALESCE(hy.n, 0) AS BIGINT) AS n_events,
       last_value(hy.sum_value IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM spine s LEFT JOIN hourly hy ON hy.user_id = s.user_id AND hy.h = s.h
"""


@query("ts_gapfill_locf", _GAPFILL_ORACLE, tag="streaming")
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: generate the dense hourly spine per entity
    (``sequence`` between its min and max bucket, exploded), left-join the
    sparse hourly aggregate onto it, and carry the last observation forward
    across the gaps (``last(..., ignorenulls)`` window). This is the
    gap-fill + LOCF primitive every monitoring/feature pipeline needs before
    resampling or model ingest.

    Scale posture: the spine explode is linear in (entities × time range),
    generated bucket-side with no shuffle; the join and the LOCF window both
    key on user_id, so one shuffle serves both. Restricted to user_id < 5
    so the differential gate compares a bounded frame."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 5)
    hourly = (
        ev.groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select("user_id", F.col("window.start").alias("h"), "n", "sum_value")
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("h"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour_start"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(
                w
            ).alias("locf_value"),
        )
    )


_SSJ_ORACLE = """
SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""


@query("stream_stream_join_live", _SSJ_ORACLE, tag="streaming")
def stream_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join, driven live: clicks and
    purchases arrive as two independent file streams, both watermarked, and
    purchases join clicks for the same user within 30 minutes AFTER the
    click. The time bound plus both watermarks is what lets the engine
    EXPIRE join state — without them stream-stream join state grows forever;
    with them state per key is bounded by the interval, which is the whole
    100 TB story for streaming joins. Output: matched pair counts per user
    (aggregated in the driver-memory sink query, not the stream).

    HASH-checked (upgraded from rows-only in round 3): an availableNow
    drain of a bounded source sees both sides completely, and an inner
    interval join emits a pair exactly when the batch join would — state
    expiry only ever drops rows the time bound already excludes — so the
    emitted set equals the batch interval join, verified exactly at
    sf0.001 and sf0.01."""
    from dynamic_spark_spark.streaming.core import drain, file_stream

    ev = load_table(spark, sf_dir, "events")
    # Only two event types participate in the join — filter BEFORE the
    # stream source (the 100 TB version of this is partition pruning on
    # the topic/type) and stage one file so each micro-batch lists one
    # split instead of 32.
    src_df = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_type", "ts"
    )
    src = _session_staged_src(spark, sf_dir, "ssj_src", src_df.coalesce(1))
    schema = src_df.schema
    s1 = file_stream(spark, src, schema)
    s2 = file_stream(spark, src, schema)
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
            "user_id = p_user AND "
            "p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    )
    # A stream-stream join runs FOUR state stores per shuffle partition, so
    # the drain's data-sized width saves 4× what it saves an aggregation.
    sink = drain(joined, "stream_stream_join_live", src)
    return sink.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


_UPSERT_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS id_sum
FROM events GROUP BY event_type
"""


@query("stream_foreachbatch_upsert", _UPSERT_ORACLE, tag="streaming")
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` idempotent upsert sink: each micro-batch anti-joins
    the target on the primary key before appending, so replayed batches
    (the at-least-once delivery Structured Streaming guarantees after
    failure) insert nothing twice — exactly-once *effect* from
    at-least-once delivery. The final table equals the batch ground truth,
    so this is the rare streaming key the DuckDB oracle can hash-check.

    Scale notes: the anti-join probes only the key column of the target
    (column-pruned parquet scan); in production the target would be an
    ACID table format and the anti-join a MERGE, but the idempotency
    pattern is identical. Multiple micro-batches are forced with
    maxFilesPerTrigger=1 over a 2-file source (2 batches demonstrate the
    replay boundary at half the wall-clock of more)."""
    import shutil
    import tempfile

    from pyspark.errors import AnalysisException

    from dynamic_spark_spark.streaming.core import drain, file_stream

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    src = _session_staged_src(spark, sf_dir, "upsert_src", ev.repartition(2))
    target = tempfile.mkdtemp(prefix="dss_upsert_tgt_") + "/t"
    try:

        def upsert(batch_df: DataFrame, batch_id: int) -> None:
            try:
                existing = batch_df.sparkSession.read.parquet(target).select(
                    "event_id"
                )
                fresh = batch_df.join(existing, "event_id", "left_anti")
            except AnalysisException:  # first batch: target doesn't exist yet
                fresh = batch_df
            fresh.write.mode("append").parquet(target)

        # stateless stream, but each micro-batch's anti-join + write runs
        # as batch jobs INSIDE the drain, under its shuffle width
        stream = file_stream(spark, src, ev.schema, maxFilesPerTrigger="1")
        drain(stream, "stream_foreachbatch_upsert", src, foreach_batch=upsert)
        final = (
            spark.read.parquet(target)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").alias("id_sum"),
            )
        )
        # the target dir is removed in finally, so materialize the (tiny,
        # |event_type|-bounded) aggregate before returning; rebuild through
        # pandas/Arrow (LocalTableScan) rather than a Python-list RDD whose
        # scan would spawn defaultParallelism Python workers
        import pandas as pd

        rows = final.collect()
        pdf = pd.DataFrame(rows, columns=final.schema.names)
        return spark.createDataFrame(pdf, schema=final.schema)
    finally:
        shutil.rmtree(target.rsplit("/", 1)[0], ignore_errors=True)


_STREAM_STATIC_ORACLE = """
SELECT c.c_nationkey, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
"""


@query("stream_static_join_live", _STREAM_STATIC_ORACLE, tag="streaming")
def stream_static_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join driven as a REAL stream: events arrive
    via an availableNow file source and each micro-batch hash-joins the
    **static** customer dimension — Spark broadcasts the dim per batch, no
    streaming state at all (the stateless little sibling of
    ``stream_stream_join_live``). This is the canonical "enrich the event
    firehose with a slowly-changing dim" topology; at scale the dim stays
    broadcast-sized or the join key pre-partitions both sides. The drained
    sink is aggregated per nation, and — because enrichment is stateless and
    deterministic — the whole live path is oracle-checked exactly, cents as
    integers."""
    from dynamic_spark_spark.streaming.core import drain, file_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    src = _session_staged_src(spark, sf_dir, "sstat_src", ev)
    enriched = (
        file_stream(spark, src, ev.schema)
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .select(
            "c_nationkey",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    sink = drain(enriched, "stream_static_join_live", src)
    return sink.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("value_cents")
    )


_STREAM_DEDUP_GROUPS_ORACLE = """
SELECT md5(text) AS digest,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


@query("stream_dedup_groups_live", _STREAM_DEDUP_GROUPS_ORACLE, tag="streaming")
def stream_dedup_groups_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup bookkeeping driven live: documents arrive as
    an availableNow stream, and a streaming aggregation maintains per-digest
    (keeper = min doc_id, copy count) state — the ingest-time dedup ledger
    a continuous corpus pipeline keeps (batch twin: ``dedup_exact``).
    Unlike streaming ``dropDuplicates`` — where WHICH duplicate survives
    depends on arrival order — the final min/count state is independent of
    batch splits, so the live path is hash-checked exactly against the
    batch GROUP BY. Update-mode memory sink; the post-drain MAX picks each
    key's final state row."""
    from dynamic_spark_spark.streaming.core import drain, file_stream

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = _session_staged_src(spark, sf_dir, "dgroups_src", d)
    agg = (
        file_stream(spark, src, d.schema)
        .select(F.md5("text").alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    sink = drain(agg, "stream_dedup_groups_live", src, mode="update")
    return sink.groupBy("digest").agg(
        F.min("keeper_doc_id").alias("keeper_doc_id"),
        F.max("n_copies").alias("n_copies"),
    )


_SESSION_LIVE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
              >= INTERVAL 30 MINUTE OR
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


@query("stream_session_live", _SESSION_LIVE_ORACLE, tag="streaming")
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows driven through the LIVE streaming engine:
    ``session_window`` + watermark over an availableNow file stream, state
    store and all — the stateful window-MERGE operator (sessions grow and
    coalesce as events arrive), hash-checked against the gaps-and-islands
    batch oracle.

    Session-window aggregation only supports append/complete output; this
    key drains in COMPLETE mode, so the memory sink's final table IS the
    full final session state (append mode would hold back every session the
    final watermark hasn't passed — at drain time, the last hour). In
    COMPLETE mode no state is ever watermark-evicted, so the key carries NO
    watermark: with one, a multi-batch drain over unsorted files could drop
    late rows batch-to-batch and the result would depend on file order —
    without one the drained state is the exact session set whatever the
    batching, which is also what lets the source stay MULTI-file (the
    round-6 100× probe measured the old coalesce(1) staging at 168.7 s,
    30.8× per decade — a one-core scan, not a plan cost). Cross-batch
    merge behavior is pinned separately in ``tests/test_streaming.py``
    with a controlled two-file arrival. At scale a real deployment uses
    append mode into a durable sink with a watermark and lets the engine
    close sessions continuously."""
    from dynamic_spark_spark.llmops.fixtures import fixture_parallelism
    from dynamic_spark_spark.streaming.core import drain, file_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = _session_staged_src(
        spark, sf_dir, "sess_src", ev.repartition(fixture_parallelism(spark))
    )
    agg = (
        file_stream(spark, src, ev.schema)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return drain(agg, "stream_session_live", src, mode="complete")


#: custom-session geometry for the live arbitrary-state key: user slice,
#: in-session gap, and watermark delay (seconds)
CUSTOM_SESS_USERS = 40
CUSTOM_SESS_GAP_S = 1800
CUSTOM_SESS_WM_S = 1800

# The emitted set after an availableNow drain is deterministic and
# SQL-expressible: gaps-and-islands sessions, MINUS each user's trailing
# session unless the final watermark (global max ts − delay) passed its
# gap horizon (the event-time timer's firing condition).
_CUSTOM_SESS_ORACLE = f"""
WITH ev AS (SELECT user_id, ts, value FROM events WHERE user_id < {CUSTOM_SESS_USERS}),
flag AS (SELECT user_id, ts, value,
  CASE WHEN LAG(ts) OVER w IS NULL
         OR ts - LAG(ts) OVER w > INTERVAL {CUSTOM_SESS_GAP_S} SECOND THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (SELECT user_id, ts, value,
  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM flag),
agg AS (SELECT user_id AS key, MIN(ts) AS session_start, MAX(ts) AS session_end,
  COUNT(*) AS n_events, SUM(value) AS value_sum FROM sess GROUP BY user_id, sid),
wm AS (SELECT MAX(ts) - INTERVAL {CUSTOM_SESS_WM_S} SECOND AS w FROM ev),
umax AS (SELECT user_id AS key, MAX(ts) AS um FROM ev GROUP BY user_id)
SELECT a.key, a.session_start, a.session_end, CAST(a.n_events AS BIGINT) AS n_events,
       CAST(FLOOR(a.value_sum * 1000000 + 0.5) AS BIGINT) AS value_sum_fp
FROM agg a JOIN umax u ON a.key = u.key CROSS JOIN wm
WHERE a.session_end < u.um
   OR (epoch_ms(wm.w) - 1) * 1000 >= epoch_us(a.session_end) + {CUSTOM_SESS_GAP_S} * 1000000
"""
# value_sum compared at integral 1e-6 fixed point (the graph_pagerank
# precedent): DuckDB's SUM order can differ from the engine's sequential
# per-session accumulation by an ulp, and ROUND-to-6dp + repr equality
# flakes on that. Horizon disjunct mirrors the engine's timer arithmetic
# EXACTLY: the timer is armed at ceil((last_us+gap_us)/1000) ms and Spark
# fires an event-time timer only when the watermark advances STRICTLY
# beyond it (timeoutTimestamp < eventTimeWatermarkForEviction), i.e. emit
# iff wm_ms > ceil(horizon_us/1000) ⟺ (wm_ms - 1)*1000 >= horizon_us for
# integral ms — a trailing session whose horizon lands exactly on the
# watermark millisecond is NOT emitted, and the oracle must not emit it
# either. epoch_ms(wm) truncates just like Spark's watermark tracker.


@query("stream_custom_session_live", _CUSTOM_SESS_ORACLE, tag="streaming")
def stream_custom_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY-STATE sessions driven through the LIVE streaming engine:
    ``applyInPandasWithState`` with an EVENT-TIME TIMER
    (:func:`dynamic_spark_spark.streaming.core.stateful_sessions`) — the
    fully general stateful operator with custom per-session payloads
    (first/last event time, count, value sum) that ``session_window`` can't
    carry, protobuf-free (closes the round-2 'live arbitrary state' ask).
    In-data session closures emit immediately; trailing sessions emit when
    the no-data finalization batch fires their timers against the final
    watermark. That emitted set is deterministic for a drained single-file
    source and HASH-CHECKED against the gaps-and-islands oracle above —
    a live custom-state operator with an exact SQL twin, not a rows-only
    smoke check. Cross-batch state continuity is pinned separately in
    tests/test_streaming.py with a controlled two-file arrival."""
    from dynamic_spark_spark.streaming.core import (
        drain,
        file_stream,
        stateful_sessions,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < CUSTOM_SESS_USERS)
        .select("user_id", "ts", "value")
    )
    src = _session_staged_src(spark, sf_dir, "csess_src", ev.coalesce(1))
    out = stateful_sessions(
        file_stream(spark, src, ev.schema),
        gap_seconds=CUSTOM_SESS_GAP_S,
        watermark=f"{CUSTOM_SESS_WM_S} seconds",
    )
    sink = drain(out, "stream_custom_session_live", src)
    return sink.select(
        "key",
        "session_start",
        "session_end",
        "n_events",
        F.floor(F.col("value_sum") * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("value_sum_fp"),
    )


_DEDUP_WW_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query("stream_dedup_within_watermark", _DEDUP_WW_ORACLE, tag="streaming")
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` driven live — the Spark 3.5+
    dedup operator whose state expires per-KEY a watermark-delay after the
    key's FIRST sighting, instead of keeping every key forever
    (``dropDuplicates``, key `stream_dedup_live`) or requiring the event
    time inside the key. This is the right ingest-dedup shape when
    duplicates are retries/replays that arrive close together: state size
    is bounded by the duplicate horizon, not corpus cardinality — the only
    sustainable variant at 100 TB/day ingest.

    Drained availableNow from a single-file source, every key's duplicates
    fall inside one horizon, so the emitted set is exactly DISTINCT
    (user_id, event_type) — hash-checked against that oracle."""
    from dynamic_spark_spark.streaming.core import drain, file_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    src = _session_staged_src(spark, sf_dir, "dww_src", ev.coalesce(1))
    deduped = (
        file_stream(spark, src, ev.schema)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return drain(deduped, "stream_dedup_within_watermark", src)


_GAPFILL_INTERP_ORACLE = """
WITH hourly AS (
  SELECT user_id,
         TIMESTAMP '1970-01-01 00:00:00'
           + to_seconds(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600) AS h,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sm
  FROM events WHERE user_id < 5 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM bounds
), joined AS (
  SELECT s.user_id, s.h, hy.n, hy.sm,
         CAST(epoch(s.h) AS BIGINT) // 3600 AS hi
  FROM spine s LEFT JOIN hourly hy ON hy.user_id = s.user_id AND hy.h = s.h
), nbr AS (
  SELECT user_id, h, n, sm, hi,
    last_value(sm IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_sm,
    last_value(CASE WHEN n IS NOT NULL THEN hi END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_hi,
    first_value(sm IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_sm,
    first_value(CASE WHEN n IS NOT NULL THEN hi END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY h
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_hi
  FROM joined)
SELECT user_id, h AS hour_start,
  CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
  CASE WHEN n IS NOT NULL THEN CAST(sm AS DOUBLE) / 1000000.0
       ELSE CAST(prev_sm
                 + CAST(FLOOR(CAST((next_sm - prev_sm) * (hi - prev_hi) AS DOUBLE)
                              / CAST(next_hi - prev_hi AS DOUBLE)) AS BIGINT)
                 AS DOUBLE) / 1000000.0
  END AS interp_value
FROM nbr
"""


@query("ts_gapfill_interp", _GAPFILL_INTERP_ORACLE, tag="streaming")
def ts_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION — the sibling of
    ``ts_gapfill_locf`` for signals where carrying the last value forward
    biases the fill (rates, gauges): each missing hour gets
    ``prev + (next - prev) * elapsed/gap``. All interpolation arithmetic
    runs in scaled int64 micro-units with one exactly-representable
    double division (operands < 2^53), so the result is bit-identical
    cross-engine — the same determinism discipline as ``dsum``. The spine
    spans each entity's observed range, so every gap row has both
    neighbors (no edge nulls by construction). Scale posture: identical
    to the LOCF key — spine generated bucket-side, ONE shuffle on
    user_id serves the join and both neighbor windows."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 5)
    sm_micro = F.sum(
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    ).cast("long")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), sm_micro.alias("sm"))
        .select("user_id", F.col("window.start").alias("h"), "n", "sm")
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("h"),
        )
    )
    from pyspark.sql import Window

    j = spine.join(hourly, ["user_id", "h"], "left").withColumn(
        "hi", F.expr("CAST(h AS LONG) DIV 3600")
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hi = F.when(F.col("n").isNotNull(), F.col("hi"))
    nbr = j.select(
        "user_id",
        "h",
        "n",
        "sm",
        "hi",
        F.last("sm", ignorenulls=True).over(w_back).alias("prev_sm"),
        F.last(obs_hi, ignorenulls=True).over(w_back).alias("prev_hi"),
        F.first("sm", ignorenulls=True).over(w_fwd).alias("next_sm"),
        F.first(obs_hi, ignorenulls=True).over(w_fwd).alias("next_hi"),
    )
    interp_micro = F.col("prev_sm") + F.floor(
        ((F.col("next_sm") - F.col("prev_sm")) * (F.col("hi") - F.col("prev_hi")))
        .cast("double")
        / (F.col("next_hi") - F.col("prev_hi")).cast("double")
    ).cast("long")
    return nbr.select(
        "user_id",
        F.col("h").alias("hour_start"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.when(
            F.col("n").isNotNull(), F.col("sm").cast("double") / F.lit(1000000.0)
        )
        .otherwise(interp_micro.cast("double") / F.lit(1000000.0))
        .alias("interp_value"),
    )
