"""Structured-Streaming surface over the `events` table.

The reference's only "streaming" is bounded queue iteration with
background prefetch threads (SURVEY.md B6/B7: tf.train.Coordinator +
queue runners, train.py:113-114,163-169). Spark's native equivalent is
incremental execution: readStream -> event-time transforms ->
writeStream, with `trigger(availableNow=True)` giving exactly the
reference's bounded-run-to-completion semantics (B7's OutOfRangeError ==
query termination after draining available input).

Every streaming query here reuses the event-time semantics of
operators/events.py and runs bounded into a memory sink, so the driver's
DuckDB oracle can value-check STREAMING results against the same SQL as
the batch twins — the engine's claim that batch and streaming agree on
bounded input is itself oracle-verified (q47/q48/q49).

Scale notes: the memory sink is a test harness; production sinks are
Kafka/Delta/parquet via the same writeStream call. State stores (window
aggs, dedup, session merge) shuffle on their keys exactly like the batch
plans; watermarks bound state size — without them, 100 TB of stream
state never ages out.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import (
    events_raw_ts_type,
    nanos_to_timestamp,
    oracle_with,
    read_table_stream,
)
from tf_datapipeline_spark.functions.exact import dsum, sql_dsum
from tf_datapipeline_spark.functions.vectors import fold_l2
from tf_datapipeline_spark.operators.dedup import _SIG_CTES
from tf_datapipeline_spark.registry import query

_sink_counter = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, with ts carrying the
    SAME event-time instants as the batch catalog loader (batch and
    streaming MUST agree — a divergence here is a silent wrong answer at
    any scale).

    The stream source needs a schema up front, and the driver testdata
    has stored ts two ways across rounds (TIMESTAMP(NANOS), readable only
    as raw-nanos bigint under the legacy conf; plain TIMESTAMP(µs) no-tz,
    which Spark reads as TIMESTAMP_NTZ natively) — so the source (with
    its footer schema) and the nanos recipe come from the catalog, which
    owns every storage variant (`catalog.read_table_stream`,
    `catalog.events_raw_ts_type`, `catalog.nanos_to_timestamp`),
    instead of hard-coding one era's recipe here.

    One type wrinkle: withWatermark rejects TIMESTAMP_NTZ, so the stream
    carries ts as TIMESTAMP (tz-aware; the session timezone is pinned to
    UTC, so the cast preserves the instant). Queries that OUTPUT
    timestamp columns cast them back to TIMESTAMP_NTZ at the edge via
    `_ntz` so streaming results are type-identical to the batch twins
    (catalog normalizes batch events.ts to NTZ — what DuckDB reads for
    naive parquet timestamps)."""
    raw_ts = events_raw_ts_type(spark, sf_dir)
    sdf = read_table_stream(spark, sf_dir, "events")
    if raw_ts == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
        sdf = sdf.withColumn("ts", nanos_to_timestamp("ts"))
    else:  # NTZ (or already tz-aware): carry as tz-aware for watermarks
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def _ntz(name: str, alias: str):
    """Cast a tz-aware output timestamp back to TIMESTAMP_NTZ (UTC
    session) so streaming results are type-identical to batch/oracle."""
    return F.col(name).cast("timestamp_ntz").alias(alias)


def run_bounded(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Drain all available input through the streaming plan into a memory
    sink and return the result as a batch DataFrame (B7: bounded-stream
    termination).

    The stream starts with `spark.sql.shuffle.partitions` capped at the
    session's task slots (`defaultParallelism`): streaming runs without
    AQE, so nothing coalesces the state store's partitions, and each one
    is a task; more partitions than slots only adds waves. `start()`
    clones the session, so the stream keeps the count it started with,
    and the caller's value is restored even when `start()` raises. This
    stream has no checkpoint of its own to resume from; a stream that
    has one keeps the count its first run recorded there.

    The returned frame holds the memory sink itself, so the sink's temp
    view is dropped before returning: a session that runs many bounded
    streams keeps no `stream_sink_N` view behind."""
    name = f"stream_sink_{next(_sink_counter)}"
    spark = sdf.sparkSession
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    slots = spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(min(int(saved), slots)))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, saved)
    q.awaitTermination()
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


# --------------------------------------------------------------------------
# q47 — STREAMING tumbling window agg (watermark + window), bounded run.
# Same oracle SQL as batch q40: on bounded input the streaming plan must
# produce byte-identical results to the batch plan.
# --------------------------------------------------------------------------
@query(
    "q47_stream_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", 6)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q47_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(_ntz("w.start", "window_start"), "event_type", "n_events", "sum_value")
    )
    # complete mode is the BOUNDED-HARNESS shape: it emits every window,
    # including those still above the final watermark, so the result can
    # equal the batch oracle exactly. It keeps all windows in the state
    # store, which an unbounded production stream must not do — the
    # production default is q4p below (append + watermark: state is
    # flushed and evicted as the watermark passes each window, so state
    # size is bounded by the watermark delay regardless of stream length).
    return run_bounded(agg, "complete")


# --------------------------------------------------------------------------
# q4p — the PRODUCTION-SHAPE tumbling window: append output mode, so a
# window is emitted exactly once — when the watermark (max event time
# seen minus 1 hour) passes its end — and its state is evicted. This is
# the only window-agg shape whose state store stays bounded on an
# unbounded 100 TB/day stream (complete mode, q47, retains every window
# forever and exists here only so the bounded harness can check exact
# batch equality). On a bounded availableNow run the final no-data
# micro-batch advances the watermark to max(ts) - 1h and flushes every
# window whose end <= that cutoff; the tail windows are (correctly)
# still in state when the query stops, and the oracle models exactly
# that emission rule.
# --------------------------------------------------------------------------
@query(
    "q4p_stream_append_windows",
    oracle=f"""
    WITH wm AS (
      -- Spark tracks the event-time watermark at MILLISECOND precision
      -- (max event time is truncated to ms before subtracting the
      -- delay), so the oracle truncates too — otherwise a window end
      -- landing in the sub-ms sliver of max(ts) flips emission.
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL '1 hour' AS cutoff
      FROM events
    ),
    agg AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
             event_type,
             COUNT(*) AS n_events,
             {sql_dsum("value", 6)} AS sum_value
      FROM events
      GROUP BY 1, 2
    )
    SELECT a.window_start, a.event_type, a.n_events, a.sum_value
    FROM agg a, wm
    WHERE a.window_start + INTERVAL '5 minutes' <= wm.cutoff
    """,
)
def q4p_stream_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(_ntz("w.start", "window_start"), "event_type", "n_events", "sum_value")
    )
    return run_bounded(agg, "append")


# --------------------------------------------------------------------------
# q48 — STREAMING stateful dedup: dropDuplicates keyed on
# (user_id, event_type) keeps the first ARRIVAL per key — an
# order-dependent choice, so only the key set (deterministic) is emitted.
# Batch q43 is the event-time-deterministic variant.
# --------------------------------------------------------------------------
@query(
    "q48_stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q48_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_bounded(deduped, "append")


# --------------------------------------------------------------------------
# q49 — STREAMING sessionization via native session_window (30 min gap).
# Spark merges an event into a session iff ts < session_end (exclusive),
# and reports session_end = last_ts + gap; the oracle mirrors both (>=
# flag on the gap, end = max(ts) + 30 min).
# --------------------------------------------------------------------------
@query(
    "q49_stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q49_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            _ntz("w.start", "session_start"),
            _ntz("w.end", "session_end"),
            "n_events",
        )
    )
    # complete mode = bounded-harness shape (exact batch equality); the
    # production shape is append + watermark eviction, demonstrated by
    # q4p for tumbling windows — session windows flush identically once
    # the watermark passes session_end.
    return run_bounded(agg, "complete")


# --------------------------------------------------------------------------
# q4q — PRODUCTION-SHAPE sessionization: append mode + watermark, the
# session twin of q4p. A session is emitted exactly once — when the
# watermark (max event time - 1h) passes its end (last event + 30 min
# gap) — and its state is evicted; sessions still inside the watermark
# horizon stay in state (bounded by delay + gap, not stream length).
# Complete-mode q49 is the bounded-harness twin. The oracle replays the
# same gaps-and-islands sessionization and keeps exactly the sessions
# the flush rule emits.
# --------------------------------------------------------------------------
@query(
    "q4q_stream_append_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), rolled AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '30 minutes' AS session_end,
             COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, session_end, n_events
    FROM rolled
    -- ms-truncated cutoff mirrors Spark's watermark arithmetic (see q4p)
    WHERE session_end <=
      (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL '1 hour' FROM events)
    """,
)
def q4q_stream_append_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            _ntz("w.start", "session_start"),
            _ntz("w.end", "session_end"),
            "n_events",
        )
    )
    return run_bounded(agg, "append")


# --------------------------------------------------------------------------
# q4s — CUSTOM stateful operator via applyInPandasWithState: per-user
# running event counter + value sum held in explicit state across
# micro-batches (the general form for operators Spark's built-in
# aggregations can't express — per-key state machines, decaying counters,
# online sketches). GroupStateTimeout is off: bounded runs drain fully.
# On bounded input the final state equals the batch aggregate, so the
# oracle is plain GROUP BY — the state machinery itself is what's tested.
# --------------------------------------------------------------------------
def _stateful_counts(key, pdf_iter, state):
    import pandas as pd

    n, total = state.get() if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 6)]}
    )


@query(
    "q4s_stream_stateful_counts",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_dsum("value", 6)} AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q4s_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    counted = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _stateful_counts,
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    return run_bounded(counted, "update")


# --------------------------------------------------------------------------
# q4u — STREAM-STREAM inner join with event-time range: each click joined
# to the same user's views in the preceding 5 minutes. Both sides carry
# watermarks and the join condition bounds event-time distance, so the
# state store can age out rows — the only shape a 100 TB/day dual-stream
# join survives with (an unbounded-time stream-stream join keeps every
# row in state forever). Oracle: the identical batch range join.
# --------------------------------------------------------------------------
@query(
    "q4u_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id
     AND v.ts >= c.ts - INTERVAL '5 minutes' AND v.ts <= c.ts
    """,
)
def q4u_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        F.expr(
            """
            v_user_id = user_id
            AND v_ts >= c_ts - INTERVAL 5 MINUTES
            AND v_ts <= c_ts
            """
        ),
    ).select("click_id", "view_id", "user_id")
    return run_bounded(joined, "append")


# --------------------------------------------------------------------------
# q4t — STREAM-STATIC enrichment join: the event stream joined per
# micro-batch to a static dimension (nation, keyed by user_id % 25 as the
# synthetic home-nation mapping). Stream-static joins are stateless —
# each batch broadcast-joins the dim — which is exactly how a 100 TB/day
# stream enriches against reference data without any state store. Oracle:
# the identical batch join.
# --------------------------------------------------------------------------
@query(
    "q4t_stream_static_join",
    oracle=f"""
    SELECT n.n_name AS nation, COUNT(*) AS n_events,
           {sql_dsum("e.value", 6)} AS sum_value
    FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY 1
    """,
)
def q4t_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import load_table

    ev = read_events_stream(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")  # static side, batch DF
    enriched = ev.join(
        F.broadcast(nation), nation.n_nationkey == ev.user_id % 25
    )
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
    )
    return run_bounded(agg, "complete")


# --------------------------------------------------------------------------
# q4w — STREAMING dedup with BOUNDED state: dropDuplicatesWithinWatermark
# keyed on (user_id, event_type, minute bucket). Unlike q48's plain
# dropDuplicates (state grows with the key universe forever), state here
# is evicted once the watermark passes a key's bucket — the only shape
# that survives an unbounded 100 TB stream. The minute bucket makes the
# semantics exact: any two duplicates of a key are < 60s apart, far
# inside the 2h watermark, so exactly one row per key is emitted and the
# batch oracle is a plain SELECT DISTINCT.
# --------------------------------------------------------------------------
@query(
    "q4w_stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           time_bucket(INTERVAL '1 minute', ts) AS minute_start
    FROM events
    """,
)
def q4w_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withColumn("minute_start", F.date_trunc("minute", F.col("ts")))
        .withWatermark("minute_start", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_start"])
        .select("user_id", "event_type", _ntz("minute_start", "minute_start"))
    )
    return run_bounded(deduped, "append")


# --------------------------------------------------------------------------
# q4x — STREAMING incremental rollup maintenance: foreachBatch merges each
# micro-batch's partial per-user aggregate into a materialized parquet
# rollup table (MERGE via sources/upsert.py — only keys touched by the
# batch are rewritten). This is the incremental-ETL sink shape (the
# reference's eval-metrics accumulation S10/A3 writ large): an always-on
# stream keeps a queryable rollup current without ever recomputing
# history. Exactness across merges: the table stores DECIMAL(28,6)
# partials (decimal addition is associative), so N incremental merges
# produce bit-identical sums to the one-shot batch aggregate the oracle
# computes; the double cast happens once, on read-out.
# checkpointLocation makes the merge restartable: a resumed run re-reads
# only unprocessed files (pinned by tests/test_streaming.py's
# checkpoint-resume test).
# --------------------------------------------------------------------------
def q4x_rollup_merge(out: str):
    """foreachBatch body: merge a batch's per-user partials into `out`."""
    from pyspark.sql import types as T

    dec = T.DecimalType(28, 6)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from tf_datapipeline_spark.sources.upsert import upsert_parquet

        sess = batch_df.sparkSession
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(dec)).cast(dec).alias("sum_value"),
        )
        target = sess.read.parquet(out)
        touched = target.join(delta.select("user_id"), "user_id", "left_semi")
        updates = (
            touched.unionByName(delta)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").cast(dec).alias("sum_value"),
            )
        )
        upsert_parquet(sess, out, updates, ["user_id"])

    return merge


def run_rollup_stream(spark: SparkSession, src: DataFrame, out: str, ck: str) -> None:
    """Drain `src` through the foreachBatch rollup merge into `out`."""
    q = (
        src.writeStream.foreachBatch(q4x_rollup_merge(out))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_ROLLUP_SCHEMA = "user_id bigint, n_events bigint, sum_value decimal(28,6)"


@query(
    "q4x_stream_incremental_rollup",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_dsum("value", 6)} AS sum_value
    FROM events GROUP BY 1
    """,
)
def q4x_stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from tf_datapipeline_spark.sources.etl import scratch_dir

    tag = os.path.basename(os.path.normpath(sf_dir))
    out = scratch_dir(f"rollup_{tag}")
    ck = scratch_dir(f"rollup_{tag}_ck")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    spark.createDataFrame([], _ROLLUP_SCHEMA).write.mode("overwrite").parquet(out)

    run_rollup_stream(spark, read_events_stream(spark, sf_dir), out, ck)
    return spark.read.parquet(out).select(
        "user_id",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q4j — STREAMING sliding window (10 min width / 5 min slide), bounded
# run: same oracle as batch q41 — each event lands in two overlapping
# windows, and on bounded input the incremental plan must agree with the
# batch assignment value-for-value.
# --------------------------------------------------------------------------
@query(
    "q4j_stream_sliding_window",
    oracle=f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS window_start,
             value
      FROM events
    )
    SELECT window_start, COUNT(*) AS n_events, {sql_dsum("value", 6)} AS sum_value
    FROM assigned GROUP BY 1
    """,
)
def q4j_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(_ntz("w.start", "window_start"), "n_events", "sum_value")
    )
    return run_bounded(agg, "complete")


# --------------------------------------------------------------------------
# q4o — STREAMING OHLC bars (q4n's production twin): per (event_type,
# minute), open/close via min_by/max_by keyed on the unique (ts,
# event_id) struct — deterministic first/last in pure streaming
# aggregation state (no sort, no window function), high/low/volume as
# plain aggs, watermark flush in append mode so a bar is emitted exactly
# once when the watermark passes its end. State per key is O(1) (six
# scalars), evicted at the watermark — the always-on candlestick feed a
# time-series store maintains. The oracle replays the batch q4n
# formulation and filters to bars the ms-truncated watermark flushed.
# --------------------------------------------------------------------------
@query(
    "q4o_stream_ohlc",
    oracle=f"""
    WITH wm AS (
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL '1 hour' AS cutoff
      FROM events
    ),
    ranked AS (
      SELECT event_type, date_trunc('minute', ts) AS bar_ts, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    ),
    bars AS (
      SELECT event_type, bar_ts,
             MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
             MAX(value) AS high,
             MIN(value) AS low,
             MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
             COUNT(*) AS n_events,
             {sql_dsum("value", 6)} AS volume
      FROM ranked GROUP BY 1, 2
    )
    SELECT b.* FROM bars b, wm
    WHERE b.bar_ts + INTERVAL '1 minute' <= wm.cutoff
    """,
)
def q4o_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("volume"),
        )
        .select(
            "event_type",
            _ntz("w.start", "bar_ts"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )
    return run_bounded(agg, "append")


# --------------------------------------------------------------------------
# q6c — STREAMING incremental dedup (q6a's streaming twin): new documents
# arrive as a stream and are LSH-checked IN-FLIGHT against the static
# corpus band index — the "dedup the incoming crawl before it lands"
# shape. Entirely STATELESS streaming: the per-doc MinHash signature is
# computed as pure row expressions (dedup.with_row_signature: MIN over a
# multiset equals MIN over the set, so array_min over the in-row shingle
# array equals the batch explode+groupBy signature bit-for-bit), both
# sides explode to (band, bkey) rows through the batch family's
# dedup.band_index, and the check is a stream-static equi-join — no
# watermark, no state store, arbitrary stream length. The static index
# applies the same corpus-side hot-bucket cap as the batch family
# (window count <= cap). Emits one row per (band, new, old) match with
# the estimated Jaccard; the batch oracle replays signature, cap, join,
# and estimate with its own band-key SQL.
# --------------------------------------------------------------------------
def _stream_incr_dedup_body() -> str:
    """The oracle body over the shared signature table `sig`."""
    from tf_datapipeline_spark.operators.dedup import _BUCKET_CAP, _DELTA_MOD, _K

    mcols = ", ".join(f"m{i}" for i in range(_K))
    est = " + ".join(
        f"(CASE WHEN d.m{i} = i2.m{i} THEN 1 ELSE 0 END)" for i in range(_K)
    )
    return f"""
    SELECT d.band_id, d.doc_id AS new_id, i2.doc_id AS old_id,
           CAST(({est}) AS DOUBLE) / {_K} AS est_jaccard
    FROM (
      SELECT 0 AS band_id, concat_ws('|', m0, m1, m2, m3) AS bkey,
             doc_id, {mcols}
      FROM sig WHERE doc_id % {_DELTA_MOD} = 0
      UNION ALL
      SELECT 1, concat_ws('|', m4, m5, m6, m7), doc_id, {mcols}
      FROM sig WHERE doc_id % {_DELTA_MOD} = 0
    ) d
    JOIN (
      SELECT * FROM (
        SELECT band_id, bkey, doc_id, {mcols},
               COUNT(*) OVER (PARTITION BY band_id, bkey) AS bc
        FROM (
          SELECT 0 AS band_id, concat_ws('|', m0, m1, m2, m3) AS bkey,
                 doc_id, {mcols}
          FROM sig WHERE doc_id % {_DELTA_MOD} <> 0
          UNION ALL
          SELECT 1, concat_ws('|', m4, m5, m6, m7), doc_id, {mcols}
          FROM sig WHERE doc_id % {_DELTA_MOD} <> 0
        ) raw
      ) counted WHERE bc <= {_BUCKET_CAP}
    ) i2 ON i2.band_id = d.band_id AND i2.bkey = d.bkey
    WHERE CAST(({est}) AS DOUBLE) / {_K} >= 0.5
    """


@query(
    "q6c_stream_incremental_dedup",
    oracle=oracle_with(_stream_incr_dedup_body(), **_SIG_CTES),
)
def q6c_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.dedup import (
        _BUCKET_CAP,
        _DELTA_MOD,
        _materialize_sig,
        band_index,
        est_jaccard,
        minhash_bands,
        with_row_signature,
    )

    # static side: the corpus band index over the shared signature table,
    # with the batch family's hot-bucket cap
    sig = _materialize_sig(spark, sf_dir)
    corpus = sig.filter(F.col("doc_id") % _DELTA_MOD != 0)
    idx = band_index(corpus, minhash_bands(), _BUCKET_CAP)

    # stream side: the delta slice of `documents`, signed in-row and
    # banded the same way (uncapped: a stream has no bucket counts)
    sdf = (
        read_table_stream(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % _DELTA_MOD == 0) & (F.length("text") >= 5))
        .select("doc_id", "text")
    )
    new = band_index(with_row_signature(sdf).drop("text"), minhash_bands())
    joined = (
        new.alias("d")
        .join(idx.alias("i"), ["band", "bkey"])
        .select(
            F.col("band").alias("band_id"),
            F.col("d.doc_id").alias("new_id"),
            F.col("i.doc_id").alias("old_id"),
            est_jaccard("d", "i").alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )
    return run_bounded(joined, "append")


# --------------------------------------------------------------------------
# q7a — STREAMING scalar-quantization ingest (q78's streaming twin; the
# similarity-family analog of q6c): new embeddings arrive as a stream
# and are int8-quantized IN-FLIGHT against the STATIC per-dimension
# min/max index computed offline over the existing corpus — the "encode
# the crawl as it lands" shape of vector-index maintenance. Entirely
# STATELESS streaming: the 64-row (mn, mx) index collapses to two
# broadcast array literals (a bounded metadata collect, the q73/q77
# centroid precedent), so each row's codes, digest, and reconstruction
# error are pure array expressions — no state store, no watermark,
# arbitrary stream length. Emits rows byte-identical to batch q78
# restricted to the delta slice; the oracle replays exactly that.
# --------------------------------------------------------------------------
_VEC_DELTA_MOD = 5  # vec_id % 5 == 0 is the "newly crawled" delta slice


def _stream_sq_oracle() -> str:
    from tf_datapipeline_spark.operators.similarity import _dims_sql, _sq_encode_sql

    body = f"""
    SELECT * FROM ({_sq_encode_sql("duckdb")}) q
    WHERE vec_id % {_VEC_DELTA_MOD} = 0
    """
    return oracle_with(body, dims=_dims_sql("duckdb"))


@query("q7a_stream_sq_ingest", oracle=_stream_sq_oracle())
def q7a_stream_sq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import load_table

    # static index: per-dim (mn, mx) over the FULL existing corpus,
    # batch-side — 64 aggregate rows, collected as bounded metadata and
    # inlined as array literals (floats round-trip exactly via lit()).
    emb = load_table(spark, sf_dir, "embeddings")
    rng = (
        emb.select(F.posexplode("embedding").alias("pos0", "xf"))
        .select("pos0", F.col("xf").cast("double").alias("x"))
        .groupBy("pos0")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    rng.sort(key=lambda r: r.pos0)
    mn_arr = F.array(*[F.lit(r.mn) for r in rng])
    mx_arr = F.array(*[F.lit(r.mx) for r in rng])

    sdf = (
        read_table_stream(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _VEC_DELTA_MOD == 0)
    )
    with_rng = sdf.select(
        "vec_id", "embedding", mn_arr.alias("_mn"), mx_arr.alias("_mx")
    )
    # mirrors q78's arithmetic exactly: (x-mn)/(mx-mn)*255.0 + 0.5,
    # FLOOR, clamp, INT cast; error FLOOR-quantized to 2^-30 pre-sum.
    codes = (
        "transform(sequence(1, size(embedding)), i -> "
        "CAST(CASE WHEN element_at(_mx, i) = element_at(_mn, i) THEN 0.0 "
        "ELSE LEAST(255.0, GREATEST(0.0, "
        "FLOOR((CAST(element_at(embedding, i) AS DOUBLE) - element_at(_mn, i))"
        " / (element_at(_mx, i) - element_at(_mn, i)) * 255.0 + 0.5))) END"
        " AS INT))"
    )
    errsum = (
        "aggregate(sequence(1, size(embedding)), CAST(0 AS BIGINT), (acc, i) -> "
        "acc + CAST(FLOOR(ABS(CAST(element_at(embedding, i) AS DOUBLE)"
        " - (element_at(_mn, i) + CAST(element_at(_codes, i) AS DOUBLE)"
        " * ((element_at(_mx, i) - element_at(_mn, i)) / 255.0)))"
        " * 1073741824.0) AS BIGINT))"
    )
    out = (
        with_rng.withColumn("_codes", F.expr(codes))
        .withColumn("_errsum", F.expr(errsum))
        .select(
            "vec_id",
            F.expr("CAST(size(embedding) AS INT)").alias("n_dims"),
            F.expr(
                "CAST(_errsum AS DOUBLE)"
                " / (1073741824.0 * CAST(size(embedding) AS BIGINT))"
            ).alias("recon_mae"),
            F.expr(
                "md5(array_join(transform(_codes, c -> CAST(c AS STRING)), ','))"
            ).alias("codes_md5"),
        )
    )
    return run_bounded(out, "append")


# --------------------------------------------------------------------------
# q8j — STREAMING multimodal ingest (q80's streaming twin; completes the
# in-flight-crawl matrix: q6c dedups text, q7a encodes vectors, q8j
# probes media): newly crawled documents arrive as a stream and their
# binary image payloads are built + decoded IN-FLIGHT through batch q80's
# row function (multimodal.image_meta_row, on map_rows) — stateless, so
# state is O(1) for an unbounded stream, and the decode probe
# (dims/channels from the DECODED array) validates every payload before
# it lands. Emits rows byte-identical to batch q80 on the delta slice;
# the oracle replays exactly that.
# --------------------------------------------------------------------------
def _stream_image_oracle() -> str:
    from tf_datapipeline_spark.operators.dedup import _DELTA_MOD
    from tf_datapipeline_spark.operators.multimodal import _PPM_BYTES_SQL
    from tf_datapipeline_spark.sources.images import DIMS_SQL

    return f"""
    SELECT doc_id, lang AS class_name, 'ppm' AS image_format,
           h AS height, w AS width, 3 AS channels,
           {_PPM_BYTES_SQL} AS n_bytes
    FROM ({DIMS_SQL}) d
    WHERE doc_id % {_DELTA_MOD} = 0
    """


@query("q8j_stream_image_ingest", oracle=_stream_image_oracle())
def q8j_stream_image_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.functions.imagecodec import encode_ppm
    from tf_datapipeline_spark.functions.rows import map_rows
    from tf_datapipeline_spark.operators.dedup import _DELTA_MOD
    from tf_datapipeline_spark.operators.multimodal import (
        IMAGE_META_SCHEMA,
        image_meta_row,
    )
    from tf_datapipeline_spark.sources.images import synthetic_pixels

    sdf = (
        read_table_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _DELTA_MOD == 0)
        .select("doc_id", "lang")
    )

    def ingest(doc_id: int, lang: str) -> list[tuple]:
        payload = encode_ppm(synthetic_pixels(doc_id))
        return [image_meta_row(doc_id, lang, "ppm", payload)]

    return run_bounded(map_rows(sdf, ingest, IMAGE_META_SCHEMA), "append")


# --------------------------------------------------------------------------
# qt4 — STREAMING INGEST composite: the end-to-end "admit the crawl"
# pipeline as ONE stateless streaming job — newly crawled documents are
# (1) quality-gated (operators/text.py's gate), (2)
# near-dup-checked against the static corpus LSH band index (q6c's
# machinery: dedup.band_index over the corpus signatures, the stream
# signed in-row by dedup.with_row_signature; here as one stream-static
# LEFT ANTI join per band — a doc survives only if NO corpus doc shares
# a band with estimated Jaccard >= 0.5),
# and (3) annotated with media metadata (sources/images.py's synthetic
# dims; the real binary decode twin is q8j) — emitting exactly the
# ACCEPTED documents, which is the production ingest contract. No watermark, no state
# store: quality is row-local, the dedup check is an equi-join against
# a static index, so state is O(1) for an unbounded stream. The batch
# oracle replays the same quality + NOT EXISTS band-match + dims logic
# over the delta slice. (Unlike q6c's index this composite applies no
# hot-bucket cap — the anti-join discards rather than enumerates
# matches, so bucket fan-out never materializes rows.)
# --------------------------------------------------------------------------
def _stream_ingest_body() -> str:
    """The oracle body over the shared signature table `sig`."""
    from tf_datapipeline_spark.operators.dedup import _DELTA_MOD, _K
    from tf_datapipeline_spark.operators.text import _QUALITY_SQL
    from tf_datapipeline_spark.sources.images import SYNTHETIC_DIMS_SQL

    def band_cols(q: str, band: int) -> str:
        """`q.m<k>, ...` over the MinHash columns of LSH band 0 or 1."""
        half = _K // 2
        return ", ".join(f"{q}.m{k}" for k in range(band * half, (band + 1) * half))

    est = " + ".join(
        f"(CASE WHEN i.m{k} = s.m{k} THEN 1 ELSE 0 END)" for k in range(_K)
    )
    return f"""
    SELECT doc_id, n_chars,
           {SYNTHETIC_DIMS_SQL[0]} AS height,
           {SYNTHETIC_DIMS_SQL[1]} AS width
    FROM documents d
    WHERE d.doc_id % {_DELTA_MOD} = 0
      AND {_QUALITY_SQL}
      -- NOT(A OR B) split into two AND'ed NOT EXISTS, one per band, so
      -- each subquery carries a pure band-key EQUALITY the oracle engine
      -- can hash-join (matching the engine's two separate anti-joins).
      -- The original single OR-join condition defeated hash planning and
      -- degenerated to a ~5e9-pair nested loop at sf10 (observed >80 min;
      -- the split runs the same semantics in
      -- seconds — admission iff NO band-sharing corpus doc has est>=0.5,
      -- identical under the split by De Morgan).
      AND NOT EXISTS (
        SELECT 1
        FROM sig s JOIN sig i
          ON i.doc_id % {_DELTA_MOD} <> 0
         AND concat_ws('|', {band_cols('i', 0)})
               = concat_ws('|', {band_cols('s', 0)})
         AND CAST(({est}) AS DOUBLE) / {_K} >= 0.5
        WHERE s.doc_id = d.doc_id
      )
      AND NOT EXISTS (
        SELECT 1
        FROM sig s JOIN sig i
          ON i.doc_id % {_DELTA_MOD} <> 0
         AND concat_ws('|', {band_cols('i', 1)})
               = concat_ws('|', {band_cols('s', 1)})
         AND CAST(({est}) AS DOUBLE) / {_K} >= 0.5
        WHERE s.doc_id = d.doc_id
      )
    """


@query("qt4_stream_ingest", oracle=oracle_with(_stream_ingest_body(), **_SIG_CTES))
def qt4_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.dedup import (
        _DELTA_MOD,
        _materialize_sig,
        band_index,
        band_keys,
        est_jaccard,
        minhash_bands,
        with_row_signature,
    )
    from tf_datapipeline_spark.operators.text import _quality_spark
    from tf_datapipeline_spark.sources.images import SYNTHETIC_DIMS_SQL

    sig = _materialize_sig(spark, sf_dir)
    corpus = sig.filter(F.col("doc_id") % _DELTA_MOD != 0)
    bands = minhash_bands()
    idx = band_index(corpus, bands)

    sdf = (
        read_table_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _DELTA_MOD == 0)
    )
    survivors = with_row_signature(sdf.filter(_quality_spark())).withColumn(
        "bkeys", band_keys(bands)
    )
    # one anti-join per band: a hash-joinable key each, where one join
    # on "any band matches" would be an OR condition
    for b in range(len(bands)):
        match = (F.col("d.bkeys")[b] == F.col("i.bkey")) & (
            est_jaccard("d", "i") >= 0.5
        )
        survivors = survivors.alias("d").join(
            idx.filter(F.col("band") == b).alias("i"), match, "left_anti"
        )
    out = survivors.select(
        "doc_id",
        "n_chars",
        F.expr(SYNTHETIC_DIMS_SQL[0]).alias("height"),
        F.expr(SYNTHETIC_DIMS_SQL[1]).alias("width"),
    )
    return run_bounded(out, "append")


# --------------------------------------------------------------------------
# q4b — STREAM-STREAM LEFT OUTER join (q4u's outer sibling, a distinct
# state-machine class): every click joined to same-user views in the
# preceding 5 minutes, AND clicks with no such view still emitted (with
# NULL view_id) — but only once the watermark proves no matching view
# can still arrive. Inner matches emit immediately; the NULL rows are
# the watermark-gated part, which is why outer stream-stream joins
# REQUIRE watermarks + an event-time-bound condition (state for a click
# closes when the global watermark passes its timestamp). The oracle
# models the exact emission rule: matched pairs = the batch range join;
# unmatched clicks appear iff c_ts < the final global watermark = the
# LESSER of the two sides' (ms-truncated) max event times minus the
# delay — each filtered stream tracks its own max, and Spark takes the
# min across inputs.
# --------------------------------------------------------------------------
@query(
    "q4b_stream_outer_join",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    v AS (
      SELECT event_id AS view_id, user_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    wm AS (
      SELECT LEAST(
               (SELECT date_trunc('milliseconds', MAX(c_ts)) FROM c),
               (SELECT date_trunc('milliseconds', MAX(v_ts)) FROM v)
             ) - INTERVAL '1 hour' AS cutoff
    ),
    matched AS (
      SELECT c.click_id, v.view_id, c.user_id
      FROM c JOIN v
        ON v.user_id = c.user_id
       AND v.v_ts >= c.c_ts - INTERVAL '5 minutes' AND v.v_ts <= c.c_ts
    ),
    unmatched AS (
      SELECT c.click_id, CAST(NULL AS BIGINT) AS view_id, c.user_id
      FROM c CROSS JOIN wm
      WHERE c.c_ts < wm.cutoff
        AND NOT EXISTS (
          SELECT 1 FROM v
          WHERE v.user_id = c.user_id
            AND v.v_ts >= c.c_ts - INTERVAL '5 minutes' AND v.v_ts <= c.c_ts
        )
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def q4b_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        F.expr(
            """
            v_user_id = user_id
            AND v_ts >= c_ts - INTERVAL 5 MINUTES
            AND v_ts <= c_ts
            """
        ),
        "left_outer",
    ).select("click_id", "view_id", "user_id")
    return run_bounded(joined, "append")


# --------------------------------------------------------------------------
# q7b — STREAMING IVF cell assignment (the inverted-list half of vector
# index maintenance; q7a is the compression half): each newly crawled
# embedding is assigned to its nearest of the 16 fixed seed centroids
# IN-FLIGHT — the routing decision that places a vector into its IVF
# partition as it lands, so the index q73 probes never goes stale.
# Stateless: the (<=16)-row centroid set collapses to broadcast array
# literals (q73/q77's bounded-metadata precedent) and the per-row
# argmin sorts the per-cell distance folds — ties break to the LOWEST
# cell, mirroring the oracle's ORDER BY d2, cell. Distances are
# ORDER-PINNED double folds (the q66 device — migrated from
# DECIMAL(38,12) after an sf1 parity sweep caught the decimal cast's
# cross-engine mis-rounding here), so the whole routing path is
# hash-exact despite being an ANN component.
# --------------------------------------------------------------------------
def _stream_ivf_oracle() -> str:
    from tf_datapipeline_spark.operators.dedup import _DELTA_MOD
    from tf_datapipeline_spark.operators.similarity import _N_CELLS, seed_values_sql

    cells = seed_values_sql(_N_CELLS)
    # the order-pinned twin of vectors.l2, which the Spark side
    # (similarity.nearest_seed) runs
    d2 = fold_l2("duckdb", "v.embedding", "c.cemb")
    return f"""
    WITH cw(cell, cwvec_id) AS (VALUES {cells}),
    cwe AS (
      SELECT c.cell, e.embedding AS cemb
      FROM cw c JOIN embeddings e ON e.vec_id = c.cwvec_id
    ),
    dists AS (
      SELECT v.vec_id, c.cell, {d2} AS d2
      FROM embeddings v CROSS JOIN cwe c
      WHERE v.vec_id % {_DELTA_MOD} = 0
    )
    SELECT vec_id, CAST(cell AS INT) AS cell, d2 FROM (
      SELECT vec_id, cell, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM dists
    ) r WHERE rn = 1
    """


@query("q7b_stream_ivf_assign", oracle=_stream_ivf_oracle())
def q7b_stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.dedup import _DELTA_MOD
    from tf_datapipeline_spark.operators.similarity import nearest_seed

    sdf, best = nearest_seed(
        spark,
        sf_dir,
        read_table_stream(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _DELTA_MOD == 0
        ),
    )
    out = sdf.select(
        "vec_id",
        best.getField("cell").cast("int").alias("cell"),
        best.getField("d2").alias("d2"),
    )
    return run_bounded(out, "append")


# --------------------------------------------------------------------------
# q4zc — STREAMING seasonal-anomaly ALERTS (q4zb's streaming twin; the
# real-time half of the metric monitor): the hour-of-week mean/σ profile
# is computed batch-side over the baseline weeks (an ~840-row static
# index, the q7a/q6c stream-static pattern), and the live stream scores
# every non-baseline event against its slot IN-FLIGHT, emitting only
# the >2σ deviations — the alert feed an on-call pipeline actually
# consumes. Stateless end to end (per-row keying + broadcast join +
# filter), so state is O(1) for an unbounded stream and no watermark is
# needed; a slot with no baseline profile cannot alert and is dropped
# by the inner join (deliberate — the batch ledger q4zb is where
# eval-only slots surface).
#
# Determinism: identical epoch keying, exact-decimal profile sums, and
# single-IEEE-op scoring as q4zb — the oracle replays the whole flow
# on the batch table and must match the streamed alerts byte for byte.
# --------------------------------------------------------------------------
def _stream_anomaly_oracle() -> str:
    from tf_datapipeline_spark.operators.events import seasonal_keyed_ctes

    s1, s2 = sql_dsum("value", 6), sql_dsum("value * value", 6)
    return f"""
    WITH {seasonal_keyed_ctes("event_id, ")},
    stats AS (
      SELECT event_type, dow, hr,
             {s1} / COUNT(value) AS base_avg,
             SQRT(GREATEST({s2} - {s1} * ({s1} / COUNT(value)), 0.0)
                  / COUNT(value)) AS base_std
      FROM keyed WHERE is_base GROUP BY 1, 2, 3
    )
    SELECT k.event_id, k.event_type, k.dow, k.hr, k.value,
           st.base_avg, st.base_std
    FROM keyed k
    JOIN stats st
      ON st.event_type = k.event_type AND st.dow = k.dow AND st.hr = k.hr
    WHERE NOT k.is_base
      AND ABS(k.value - st.base_avg) > 2.0 * st.base_std
    """


@query("q4zc_stream_anomaly_alerts", oracle=_stream_anomaly_oracle())
def q4zc_stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.operators.events import (
        _seasonal_keyed,
        _seasonal_stats,
    )

    # static profile index over the existing corpus's baseline weeks
    ev = load_table(spark, sf_dir, "events")
    stats = _seasonal_stats(_seasonal_keyed(ev)).select(
        "event_type", "dow", "hr", "base_avg", "base_std"
    )

    sdf = read_events_stream(spark, sf_dir)
    keyed = _seasonal_keyed(sdf, "event_id")
    alerts = (
        keyed.filter(~F.col("is_base"))
        .join(F.broadcast(stats), ["event_type", "dow", "hr"])
        .filter(
            F.abs(F.col("value") - F.col("base_avg"))
            > 2.0 * F.col("base_std")
        )
        .select(
            "event_id", "event_type", "dow", "hr", "value",
            "base_avg", "base_std",
        )
    )
    return run_bounded(alerts, "append")


# --------------------------------------------------------------------------
# q4zk — STREAMING FUNNEL twin: q4zi's ordered view -> click
# -> purchase ladder maintained INCREMENTALLY with per-user state
# (applyInPandasWithState) instead of a batch re-scan — the live
# conversion dashboard over an append-only event log. State per user is
# three first-touch timestamps; each delivery is folded in event-time
# order, and the first-touch machine only ever ADVANCES (t1 = first
# view; t2 = first click strictly after t1; t3 = first purchase
# strictly after t2), so state is O(1) per user forever. Ingest
# contract (the q4zc convention): files of an append-only log land in
# event-time order, so cross-batch folding preserves the total order;
# within a batch the fold sorts by (ts, event_id) explicitly. On the
# bounded availableNow run this equals the batch funnel exactly, so the
# oracle is q4zi's ladder SQL verbatim — the state machine itself is
# what is tested.
# --------------------------------------------------------------------------
def _fold_funnel_batch(pdf_iter, state):
    """Advance the (t1, t2, t3) first-touch machine over one delivery,
    reading/merging prior GroupState — the SHARED core of q4zk (step
    ladder) and q4zn (step latency), so the strictly-after fold cannot
    drift between the two streaming twins. Returns the updated tuple;
    the caller persists it and shapes its own emission.

    Vectorized: the ordered scan (sort by (ts, event_id), advance
    on the first qualifying event) reduces to three strict-min picks —
    t1 = MIN ts over step-1 events, t2 = MIN ts over step-2 events with
    ts > t1, t3 likewise after t2 — because the machine compares
    TIMESTAMPS only (the event_id tie-break never changes a min) and a
    frozen slot never reopens. numpy masks + min replace the per-group
    pandas concat + sort_values (~5x less per-group Python time; the
    state machine is the q4zk/q4zn cost center). Cross-batch equality
    is pinned by test_stream_funnel_invariant_to_batch_count."""
    import numpy as np
    import pandas as pd

    # GroupState.get is a PROPERTY in PySpark (calling it explodes the
    # first time state actually persists across micro-batches — caught
    # by test_stream_funnel_invariant_to_batch_count, invisible to any
    # single-batch availableNow run)
    t1, t2, t3 = state.get if state.exists else (None, None, None)
    frames = [pdf for pdf in pdf_iter]
    rows = frames[0] if len(frames) == 1 else pd.concat(frames)
    ts_a = rows["ts"].to_numpy()
    et_a = rows["event_type"].to_numpy()
    s1, s2, s3 = _FUNNEL_STEPS

    def _first_after(step: str, lo):
        # mask out null timestamps — numpy min over a set containing NaT
        # returns NaT, whereas the ordered scan's semantics (NaT sorts
        # last) pick the first VALID qualifying event.
        m = (et_a == step) & ~np.isnat(ts_a)
        if lo is not None:
            m &= ts_a > np.datetime64(lo)
        return pd.Timestamp(ts_a[m].min()) if m.any() else None

    if t1 is None:
        t1 = _first_after(s1, None)
    if t1 is not None and t2 is None:
        t2 = _first_after(s2, t1)
    if t2 is not None and t3 is None:
        t3 = _first_after(s3, t2)
    state.update((t1, t2, t3))
    return t1, t2, t3


def _funnel_state(key, pdf_iter, state):
    import pandas as pd

    t1, t2, t3 = _fold_funnel_batch(pdf_iter, state)
    step = 3 if t3 is not None else 2 if t2 is not None else (
        1 if t1 is not None else 0
    )
    yield pd.DataFrame({"user_id": [key[0]], "step_reached": [step]})


def _funnel_latency_state(key, pdf_iter, state):
    import pandas as pd

    t1, t2, t3 = _fold_funnel_batch(pdf_iter, state)
    yield pd.DataFrame(
        {"user_id": [key[0]], "t1": [t1], "t2": [t2], "t3": [t3]}
    )


from tf_datapipeline_spark.operators.events import (  # noqa: E402
    _FUNNEL_LATENCY_ORACLE,
    _FUNNEL_STEPS,
    _funnel_oracle,
    _funnel_ratios,
    funnel_latency_report,
)


# oracle = q4zi's ladder SQL verbatim: on bounded input the streamed
# state machine must equal the batch funnel byte for byte
@query("q4zk_stream_funnel", oracle=_funnel_oracle())
def q4zk_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    staged = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_state,
            outputStructType="user_id bigint, step_reached int",
            stateStructType="t1 timestamp, t2 timestamp, t3 timestamp",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    per_user = run_bounded(staged, "update")
    # update mode re-emits a user on every batch that touches them: the
    # first-touch machine only advances, so the user's final step is the MAX
    final = per_user.groupBy("user_id").agg(
        F.max("step_reached").alias("step_reached")
    )
    # ONE conditional aggregate + explode (batch q4zi's exact
    # shape) instead of three filter+count arms unioned — the memory
    # sink was re-aggregated once per step (3 jobs; 3 scans at scale).
    counts = final.agg(
        *(
            F.count(F.when(F.col("step_reached") >= i + 1, 1)).alias(
                f"n{i + 1}"
            )
            for i in range(len(_FUNNEL_STEPS))
        )
    )
    ladder = counts.select(
        F.explode(
            F.array(
                *(
                    F.struct(
                        F.lit(i + 1).cast("int").alias("step"),
                        F.lit(name).alias("step_name"),
                        F.col(f"n{i + 1}").alias("n_users"),
                    )
                    for i, name in enumerate(_FUNNEL_STEPS)
                )
            )
        ).alias("s")
    ).select("s.step", "s.step_name", "s.n_users")
    # shared ratio semantics with batch q4zi (incl. the empty-step NULL
    # convention) — see events._funnel_ratios
    return _funnel_ratios(ladder)


# --------------------------------------------------------------------------
# q4zn — STREAMING FUNNEL LATENCY twin: q4zm's step-latency
# distribution maintained from the SAME per-user first-touch state
# machine as q4zk — the live "how long does conversion take" dashboard
# next to the live ladder. The state function shares q4zk's fold
# (_fold_funnel_batch) and emits the (t1, t2, t3) triple instead of the
# reached-step scalar; update mode re-emits a user per touching batch,
# and because the machine only ever ADVANCES (a set timestamp is frozen
# forever), the per-user final triple is the per-column MAX over
# emissions. The downstream explode/stats/exact-median is
# events.funnel_latency_report, shared verbatim with batch q4zm, and
# the oracle is q4zm's SQL verbatim — on bounded input the streamed
# machine must reproduce the batch latency table byte for byte.
#
# Scale: state is O(1) per user (3 timestamps); the post-stream rollup
# is user-keyed (one exchange) and the median machinery windows on
# (transition, coarsened bucket) — no single-partition sort (see
# q4zm's shape note).
# --------------------------------------------------------------------------
@query("q4zn_stream_funnel_latency", oracle=_FUNNEL_LATENCY_ORACLE)
def q4zn_stream_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    staged = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_latency_state,
            outputStructType=(
                "user_id bigint, t1 timestamp, t2 timestamp, t3 timestamp"
            ),
            stateStructType="t1 timestamp, t2 timestamp, t3 timestamp",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    emissions = run_bounded(staged, "update")
    per_user = emissions.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    return funnel_latency_report(per_user)
