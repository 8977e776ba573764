"""Event-time operators over the `events` table (SURVEY.md §2B
"events/streaming"): tumbling/sliding windows, sessionization, stateful
first-event dedup, late-data (watermark-analog) filtering, JSON props.

Each operator is written as a *batch* DataFrame transform so the DuckDB
oracle can check it; :mod:`tf_datapipeline_spark.streaming` wires the same
semantics behind Structured Streaming (readStream → withWatermark →
window/session_window) where the reference's queue/prefetch machinery
(B6/B7) maps to Spark's native incremental execution.

Scale notes: window aggs shuffle on (window, key) — uniform in time →
no skew; sessionization partitions by user_id (150 → millions of users at
scale: fine); late-data filter broadcasts one scalar (the max watermark).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.functions.exact import dsum, sql_davg, sql_dsum
from tf_datapipeline_spark.registry import query


def _epoch_us(c: Column | str) -> Column:
    """Epoch microseconds from a ts column that may be TIMESTAMP or
    TIMESTAMP_NTZ (the catalog normalizes events.ts to NTZ; unix_micros
    rejects NTZ, and the session timezone is pinned to UTC so the
    NTZ→TIMESTAMP cast is value-preserving)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(col.cast("timestamp"))


def _epoch_s(c: Column | str) -> Column:
    """Epoch seconds (truncated toward the epoch), matching DuckDB's
    date_diff('second', ...) boundary-count semantics on subtraction."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("timestamp").cast("long")


# --------------------------------------------------------------------------
# q40 — tumbling event-time window (5 min) per event type.
# Spark `window()` anchors at the epoch; DuckDB `time_bucket` likewise for
# sub-day widths — identical bucket starts.
# --------------------------------------------------------------------------
@query(
    "q40_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", 6)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q40_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# q41 — sliding window (10 min width, 5 min slide): every event lands in 2
# windows. Oracle realizes the same assignment by unioning the two bucket
# offsets.
# --------------------------------------------------------------------------
@query(
    "q41_sliding_window",
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
def q41_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


# --------------------------------------------------------------------------
# q42 — sessionization (30-minute inactivity gap) per user: classic
# gaps-and-islands — lag(ts) → new-session flag → running count = session
# id. The same semantics as streaming `session_window(ts, '30 minutes')`
# (streaming variant in tf_datapipeline_spark/streaming/).
# --------------------------------------------------------------------------
@query(
    "q42_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions GROUP BY 1, 2
    """,
)
def q42_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # micros-precision gap: cast('long') truncates to seconds, which would
    # disagree with the oracle's exact interval compare when a gap is
    # exactly 1800s at whole-second resolution but longer in micros
    gap = _epoch_us("ts") - _epoch_us(F.lag(F.col("ts")).over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap > 30 * 60 * 1_000_000, 1)
        .when(gap.isNull(), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.select(
        "user_id", "ts", "event_id", F.sum("new_session").over(run).alias("session_id")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# --------------------------------------------------------------------------
# q43 — stateful dedup: first event per (user_id, event_type) by event
# time (streaming analog: dropDuplicates within watermark; batch form is
# the deterministic row_number idiom).
# --------------------------------------------------------------------------
@query(
    "q43_event_dedup_first",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q43_event_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


# --------------------------------------------------------------------------
# q44 — late-data policy, batch analog of a watermark: drop events older
# than (global max ts - 7 days). The watermark scalar is computed once and
# broadcast into the filter — no per-row shuffle.
# --------------------------------------------------------------------------
@query(
    "q44_late_data_filter",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_kept, {sql_dsum("value", 6)} AS sum_value
    FROM events
    WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL '7 days'
    GROUP BY 1
    """,
)
def q44_late_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    watermark = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("wm")
    )
    return (
        ev.join(F.broadcast(watermark))
        .filter(F.col("ts") >= F.col("wm"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"), dsum("value", 6).alias("sum_value"))
    )


# --------------------------------------------------------------------------
# q45 — semi-structured props: JSON field extraction + typed aggregation
# (P1's schema-on-read, applied to the events payload).
# --------------------------------------------------------------------------
@query(
    "q45_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY 1
    """,
)
def q45_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.min(k).alias("min_k"), F.max(k).alias("max_k")
    )


# --------------------------------------------------------------------------
# q46 — session stats rollup: events-per-session distribution per user
# (composition of q42 + aggregation; exact integer arithmetic).
# --------------------------------------------------------------------------
@query(
    "q46_session_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sessions GROUP BY 1, 2
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events_per_session,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY 1
    """,
)
def q46_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_session = q42_sessionization(spark, sf_dir)
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias(
            "avg_events_per_session"
        ),
        F.max("n_events").alias("max_session_events"),
    )


# --------------------------------------------------------------------------
# q4a — AS-OF JOIN (temporal): each 'click' joined to the user's latest
# 'view' at or before it. Spark has no native as-of join; the scalable
# form is the union + sorted carry-forward: tag both sides, one
# shuffle/sort per user over (ts, side, id), LAST(ignorenulls) propagates
# the most recent right row to every left row — O(n log n) within
# partition, no per-row probe, no range explosion (the shape that
# survives 100 TB; pandas merge_asof needs a single sorted host). The
# right side is deduped per (user, ts) so ties resolve identically in
# both engines. Oracle: DuckDB's native ASOF LEFT JOIN.
# --------------------------------------------------------------------------
@query(
    "q4a_asof_join",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, MAX(event_id) AS r_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, l.ts,
           r.r_event_id AS prior_view_id, r.ts AS prior_view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q4a_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(1).alias("side")
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_event_id"))
        .select("user_id", "ts", F.lit(0).alias("side"), "r_event_id")
    )
    both = left.withColumn("r_event_id", F.lit(None).cast("bigint")).unionByName(
        right.withColumn("event_id", F.lit(None).cast("bigint"))
    )
    # right rows sort before left rows at equal ts (side 0 < 1), so a
    # view at exactly the click's timestamp counts as "at or before"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "r_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = both.select(
        "user_id",
        "ts",
        "side",
        "event_id",
        F.last("r_event_id", ignorenulls=True).over(w).alias("prior_view_id"),
        F.last(
            F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True
        ).over(w).alias("prior_view_ts"),
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id", "user_id", "ts", "prior_view_id", "prior_view_ts"
    )


# --------------------------------------------------------------------------
# q4g — COGROUPED-MAP as-of join: the same semantics (and oracle) as q4a,
# implemented through Spark's dual-input custom operator —
# `clicks.groupBy(user).cogroup(views.groupBy(user)).applyInPandas(...)`
# with pandas merge_asof per user. One shuffle on user_id for EACH side,
# then an Arrow-batched per-key kernel; this is the general form for
# per-key logic over two aligned inputs that built-in joins can't express
# (custom matching, per-key models, conformance checks). For plain as-of
# semantics the JVM-side window carry (q4a) is the production default —
# no Python boundary — so this row exists to pin the cogroup operator
# class itself against a value-checking oracle.
# --------------------------------------------------------------------------
@query(
    "q4g_cogroup_asof",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, MAX(event_id) AS r_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, l.ts,
           r.r_event_id AS prior_view_id, r.ts AS prior_view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q4g_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_event_id"))
    )

    def merge(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        left = left.sort_values(["ts", "event_id"])
        if right.empty:
            out = left.assign(
                prior_view_id=pd.Series(dtype="Int64"),
                prior_view_ts=pd.Series(dtype=left["ts"].dtype),
            )
        else:
            right = right.sort_values("ts").rename(columns={"ts": "v_ts"})
            out = pd.merge_asof(
                left,
                right[["v_ts", "r_event_id"]],
                left_on="ts",
                right_on="v_ts",
                direction="backward",  # latest view at-or-before the click
            )
            out["prior_view_id"] = out["r_event_id"].astype("Int64")
            out["prior_view_ts"] = out["v_ts"]
        return out[["event_id", "user_id", "ts", "prior_view_id", "prior_view_ts"]]

    return (
        clicks.groupBy("user_id")
        .cogroup(views.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema=(
                "event_id bigint, user_id bigint, ts timestamp_ntz, "
                "prior_view_id bigint, prior_view_ts timestamp_ntz"
            ),
        )
    )


# --------------------------------------------------------------------------
# q4r — RANGE JOIN (temporal proximity): ordered pairs of a user's events
# within 5 minutes of each other. A naive inequality join is a per-user
# cartesian; the scalable form buckets time into 5-minute cells and
# equi-joins each event against its own and the next bucket (every
# in-range pair shares a bucket or spans adjacent ones), then applies the
# exact range predicate. Equi-join + filter = hash join at 100 TB; the
# bucket key bounds the blow-up to bucket occupancy.
# --------------------------------------------------------------------------
_RANGE_S = 300


@query(
    "q4r_range_join",
    oracle=f"""
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts - a.ts <= INTERVAL '{_RANGE_S} seconds'
     AND a.event_id < b.event_id
    """,
)
def q4r_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    bucket = (_epoch_s("ts") / _RANGE_S).cast("bigint")
    a = ev.select(
        F.col("event_id").alias("event_a"),
        "user_id",
        F.col("ts").alias("ts_a"),
        bucket.alias("b"),
    )
    # probe own bucket and the next one: covers every pair with
    # 0 <= ts_b - ts_a <= _RANGE_S
    b = ev.select(
        F.col("event_id").alias("event_b"),
        "user_id",
        F.col("ts").alias("ts_b"),
        F.explode(F.array(bucket, bucket - 1)).alias("b"),
    )
    # exact micros-precision range predicate (the bucket key is only a
    # coarse prefilter; seconds-truncated compares would admit pairs the
    # true interval excludes)
    pairs = a.join(b, ["user_id", "b"]).filter(
        (_epoch_us("ts_b") >= _epoch_us("ts_a"))
        & (_epoch_us("ts_b") - _epoch_us("ts_a") <= _RANGE_S * 1_000_000)
        & (F.col("event_a") < F.col("event_b"))
    )
    # no distinct needed: a pair matches exactly one of the two bucket
    # cells (own vs previous), never both
    return pairs.select(
        "event_a",
        "event_b",
        "user_id",
        (_epoch_s("ts_b") - _epoch_s("ts_a")).alias("gap_s"),
    )


# --------------------------------------------------------------------------
# q4v — the SALTED form of the range join: same semantics and oracle as
# q4r, with the (user_id, bucket) join key salted via operators/skew.py.
# A hot user (one key holding a big share of a 100 TB event stream) would
# make a single reducer own the whole bucket-join for that user; the salt
# spreads each hot key over n reducers at the cost of replicating the
# probe side n ways. Kept as its own query so the unsalted plan (the
# common case, AQE-managed) and the salted plan (the pathological-skew
# escape hatch) are BOTH oracle-checked and plan-pinned.
# --------------------------------------------------------------------------
@query(
    "q4v_range_join_salted",
    oracle=f"""
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts - a.ts <= INTERVAL '{_RANGE_S} seconds'
     AND a.event_id < b.event_id
    """,
)
def q4v_range_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    bucket = (_epoch_s("ts") / _RANGE_S).cast("bigint")
    jk = F.concat_ws("#", "user_id", "b")
    a = ev.select(
        F.col("event_id").alias("event_a"),
        "user_id",
        F.col("ts").alias("ts_a"),
        bucket.alias("b"),
    ).withColumn("jk", jk)
    b = (
        ev.select(
            F.col("event_id").alias("event_b"),
            "user_id",
            F.col("ts").alias("ts_b"),
            F.explode(F.array(bucket, bucket - 1)).alias("b"),
        )
        .withColumn("jk", jk)
        .select("event_b", "ts_b", "jk")
    )
    pairs = salted_join(
        a, b, "jk", n_salts=4, salt_source=F.xxhash64("event_a")
    ).filter(
        (_epoch_us("ts_b") >= _epoch_us("ts_a"))
        & (_epoch_us("ts_b") - _epoch_us("ts_a") <= _RANGE_S * 1_000_000)
        & (F.col("event_a") < F.col("event_b"))
    )
    return pairs.select(
        "event_a",
        "event_b",
        "user_id",
        (_epoch_s("ts_b") - _epoch_s("ts_a")).alias("gap_s"),
    )


# --------------------------------------------------------------------------
# q4z — outlier flagging by per-group z-score: events whose value sits
# >2 sigma from their event_type mean (the data-quality gate of a
# training pipeline). Mean/stddev via exact-decimal sums so both engines
# derive identical moments; the z threshold compare is then pure IEEE.
# --------------------------------------------------------------------------
@query(
    "q4z_zscore_outliers",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             {sql_dsum("value", 6)} / COUNT(*) AS mu,
             SQRT(({sql_dsum("value * value", 6)}
                   - {sql_dsum("value", 6)} * {sql_dsum("value", 6)} / COUNT(*))
                  / COUNT(*)) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.mu) / s.sigma AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE ABS((e.value - s.mu) / s.sigma) > 2.0
    """,
)
def q4z_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    s1 = dsum("value", 6)
    s2 = dsum(F.col("value") * F.col("value"), 6)
    stats = ev.groupBy("event_type").agg(
        (s1 / n).alias("mu"),
        F.sqrt((s2 - s1 * s1 / n) / n).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.0)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


# --------------------------------------------------------------------------
# q4h — value histogram via width_bucket: fixed-range bins per event
# type — the profiling op behind data-distribution dashboards. Bucketing
# is integer arithmetic -> identical across engines.
# --------------------------------------------------------------------------
@query(
    "q4h_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(CASE WHEN value < 0.0 THEN 0
                     WHEN value >= 1000.0 THEN 21
                     ELSE FLOOR(value / 50.0) + 1 END AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q4h_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.width_bucket("value", F.lit(0.0), F.lit(1000.0), F.lit(20)).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# q4f — funnel analysis: users progressing signup -> click -> purchase in
# event-time order. One pass computes each user's first timestamp per
# step (conditional MIN — no self-joins); the ordered-prefix test is then
# row-local. The classic product-analytics query, in its single-shuffle
# form.
# --------------------------------------------------------------------------
@query(
    "q4f_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS step1_signup,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS step2_click,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS step3_purchase
    FROM per_user
    """,
)
def q4f_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(step: str):
        return F.min(F.when(F.col("event_type") == step, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(s1.cast("int")).alias("step1_signup"),
        F.sum(s2.cast("int")).alias("step2_click"),
        F.sum(s3.cast("int")).alias("step3_purchase"),
    )


# --------------------------------------------------------------------------
# q4c — retention cohorts: users grouped by first-seen week (cohort),
# counted per subsequent activity week — the retention-matrix query.
# Cohort assignment is a per-user MIN; the matrix is one (cohort, week)
# aggregation; the cohort map broadcasts back onto the event stream.
# --------------------------------------------------------------------------
@query(
    "q4c_retention_cohorts",
    oracle="""
    WITH cohort AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_trunc('week', e.ts) AS DATE) AS activity_week,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q4c_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        ev.join(F.broadcast(cohort), "user_id")
        .groupBy(
            "cohort_week",
            F.date_trunc("week", "ts").cast("date").alias("activity_week"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# --------------------------------------------------------------------------
# q4y — time-series gap-fill + carry-forward interpolation: a dense
# per-(event_type, minute) spine over the observed range, 0-filled counts,
# and last-observation-carried-forward for the per-minute average — the
# hypertable `time_bucket_gapfill`/`locf` rollup shape. The spine is built
# declaratively (distinct-types dim x exploded minute sequence from a
# 1-row global range — broadcast nested loop over two tiny inputs, never a
# scan-sized cross join). The LOCF window partitions by event_type over
# the timeline; at 100 TB you'd chunk it (partition by (event_type, day),
# carry each day's closing value forward via a second tiny broadcast
# join — the same partition-offset pattern as pipeline.offset_scan).
# Averages are exact-decimal sums / count: one IEEE division, identical
# in both engines; carried values are copies of those.
# --------------------------------------------------------------------------
@query(
    "q4y_gap_fill",
    oracle=f"""
    WITH rng AS (
      SELECT date_trunc('minute', MIN(ts)) AS t0,
             date_trunc('minute', MAX(ts)) AS t1
      FROM events
    ),
    spine AS (
      SELECT et.event_type,
             unnest(generate_series(r.t0, r.t1, INTERVAL '1 minute'))
               AS minute_start
      FROM (SELECT DISTINCT event_type FROM events) et, rng r
    ),
    b AS (
      SELECT event_type, date_trunc('minute', ts) AS minute_start,
             COUNT(*) AS n_events,
             {sql_davg("value", 6)} AS avg_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, s.minute_start,
           COALESCE(b.n_events, 0) AS n_events,
           CAST(b.avg_value IS NULL AS INT) AS is_gap,
           last_value(b.avg_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.minute_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled
    FROM spine s LEFT JOIN b USING (event_type, minute_start)
    """,
)
def q4y_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.functions.exact import davg

    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("t0"),
        F.date_trunc("minute", F.max("ts")).alias("t1"),
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(
        rng.select(
            F.explode(
                F.sequence("t0", "t1", F.expr("interval 1 minute"))
            ).alias("minute_start")
        )
    )
    b = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        davg("value", 6).alias("avg_value"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(b, ["event_type", "minute_start"], "left")
        .select(
            "event_type",
            # date_trunc returns tz-aware TIMESTAMP even for NTZ input;
            # back to NTZ (UTC session) to match the oracle's type exactly
            F.col("minute_start").cast("timestamp_ntz").alias("minute_start"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("avg_value").isNull().cast("int").alias("is_gap"),
            F.last("avg_value", ignorenulls=True).over(w).alias("value_filled"),
        )
    )


# --------------------------------------------------------------------------
# q4e — exponentially-weighted moving average per user (decay 1/2, last 16
# events): the "decayed metric" time-series op (monitoring dashboards,
# feature stores). Cross-engine exactness without decimal rounding-mode
# hazards: v·2^20 is an exponent shift (EXACT for any double), FLOOR then
# makes an exact integer; weights 2^(15-j) keep numerator/denominator in
# exact BIGINT arithmetic (< 2^49), and the single final division is one
# IEEE op — identical in both engines. The window is frame-bounded (16
# lags) and partitioned by user_id: state per row is O(16) regardless of
# history length — the shape that survives an unbounded 100 TB stream
# (contrast an unbounded-preceding EWMA, which cannot be cut off).
# --------------------------------------------------------------------------
_EWMA_LAGS = 16
_EWMA_SCALE = 1 << 20  # exact-double multiplier


def _ewma_sql() -> str:
    """Dialect-shared SQL (only LAG/FLOOR/CASE/CAST — no engine funcs)."""
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    num_terms, den_terms = [], []
    for j in range(_EWMA_LAGS):
        lag = f"LAG(value, {j}) OVER ({w})" if j else "value"
        wt = 1 << (_EWMA_LAGS - 1 - j)
        num_terms.append(
            f"COALESCE(CAST(FLOOR(({lag}) * {_EWMA_SCALE}.0) AS BIGINT)"
            f" * {wt}, 0)"
        )
        den_terms.append(f"CASE WHEN ({lag}) IS NOT NULL THEN {wt} ELSE 0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
    SELECT event_id, user_id, ts, value,
           CAST({num} AS DOUBLE)
             / (CAST({den} AS BIGINT) * {_EWMA_SCALE}.0) AS ewma
    FROM events
    """


@query("q4e_ewma", oracle=_ewma_sql())
def q4e_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ewma_sql())


# --------------------------------------------------------------------------
# q4k — top-k per event-time window: hourly tumbling windows, the 3 most
# frequent event types in each (count DESC, type ASC tie-break). The rank
# runs over (window, type) COUNTS — cardinality = windows × types, already
# reduced by the partial agg — so the window function never sees raw
# events. At 100 TB: one shuffle on (window, type) for the count, one on
# window for the per-window top-k; both keys are uniform in time.
# --------------------------------------------------------------------------
@query(
    "q4k_window_topk",
    oracle="""
    SELECT window_start, event_type, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, COUNT(*) AS n_events,
             ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY COUNT(*) DESC, event_type) AS rnk
      FROM events GROUP BY 1, 2
    ) ranked
    WHERE rnk <= 3
    """,
)
def q4k_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
# q4l — robust outliers via MAD (median absolute deviation) per event
# type: med = median(value), mad = median(|value - med|), outlier when
# |value - med| > 3·mad. Three per-type aggregates + a broadcast join
# back of the tiny per-type stats — raw events never join each other.
# Exact medians are oracle-checkable (both engines interpolate the two
# middle doubles with one IEEE (a+b)/2); the 100 TB variant swaps
# median → approx_percentile with a documented error bound, same plan
# shape.
# --------------------------------------------------------------------------
@query(
    "q4l_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, MEDIAN(value) AS med
      FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type, MEDIAN(ABS(e.value - m.med)) AS mad
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY 1
    )
    SELECT e.event_type,
           ANY_VALUE(m.med) AS med,
           ANY_VALUE(d.mad) AS mad,
           COUNT(*) FILTER (WHERE ABS(e.value - m.med) > 3 * d.mad)
             AS n_outliers,
           COUNT(*) AS n_events
    FROM events e
    JOIN med m ON m.event_type = e.event_type
    JOIN mad d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def q4l_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.count_if(F.col("adev") > 3 * F.col("mad")).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# q4d — MULTI-GRAIN TIME ROLLUP (the hypertable / continuous-aggregate
# shape): minute, hour, and day rollups of the event stream in ONE pass —
# each row fans out to its three (grain, bucket) cells before the
# aggregate, and map-side partial aggregation collapses the 3x expansion
# to at most one partial row per cell per task, so the exchange carries
# cells, not events. At 100 TB this replaces three full scans with one;
# serving layers read the grain they need. Buckets are calendar
# date_trunc in both engines; NTZ at the edge as everywhere.
# --------------------------------------------------------------------------
_ROLLUP_GRAINS = ("minute", "hour", "day")


@query(
    "q4d_multigrain_rollup",
    oracle=f"""
    {" UNION ALL ".join(
        f'''SELECT '{g}' AS grain, date_trunc('{g}', ts) AS bucket,
                   COUNT(*) AS n_events, {sql_dsum("value", 6)} AS sum_value
            FROM events GROUP BY 2'''
        for g in _ROLLUP_GRAINS
    )}
    """,
)
def q4d_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(g).alias("grain"),
                    F.date_trunc(g, "ts").cast("timestamp_ntz").alias("bucket"),
                )
                for g in _ROLLUP_GRAINS
            ]
        )
    ).alias("cell")
    return (
        ev.select(cells, "value")
        .select("cell.grain", "cell.bucket", "value")
        .groupBy("grain", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
    )


# --------------------------------------------------------------------------
# q4i — time-RANGE window frame: per event, the count/sum of the SAME
# user's events in the trailing hour (inclusive) — the per-event sliding
# aggregate (rate limiting, velocity features) that bucketed windows
# (q40/q41) can't express: every row gets its own frame. Spark's
# rangeBetween needs a numeric ordering column, so the frame is defined
# on epoch microseconds — identical ordering and bounds to the oracle's
# RANGE BETWEEN INTERVAL clause, including the all-peers-at-equal-ts
# rule. One shuffle on user_id; frame evaluation is a sliding two-pointer
# pass within each sorted partition.
# --------------------------------------------------------------------------
_RANGE_FRAME_US = 3_600 * 1_000_000  # 1 hour


@query(
    "q4i_range_frame",
    oracle=f"""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS n_trailing_hour,
           {{dsum}} AS sum_trailing_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
    """.format(
        dsum="CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)"
    ),
)
def q4i_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(_epoch_us("ts"))
        .rangeBetween(-_RANGE_FRAME_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        F.sum(F.col("value").cast(T.DecimalType(28, 6)))
        .over(w)
        .cast("double")
        .alias("sum_trailing_hour"),
    )


# --------------------------------------------------------------------------
# q4n — OHLC bars (the hypertable/candlestick rollup): per (event_type,
# minute), open/close are the value at the deterministic first/last event
# (ordered by (ts, event_id) — event_id breaks exact-ts ties), high/low
# are MIN/MAX, volume is the exact-decimal sum. One scan; the open/close
# picks ride the SAME shuffle as the aggregate (window over the grouping
# key, then group) — no self-join back to the bar. Time-series stores
# (Timescale/kdb) ship this as a primitive; here it is a window + group
# composition with map-side partials on the aggregate half.
# --------------------------------------------------------------------------
@query(
    "q4n_ohlc_bars",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, date_trunc('minute', ts) AS bar_ts, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bar_ts,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_events,
           {sql_dsum("value", 6)} AS volume
    FROM ranked GROUP BY 1, 2
    """,
)
def q4n_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bar = F.date_trunc("minute", F.col("ts")).cast("timestamp_ntz").alias("bar_ts")
    base = ev.select("event_type", bar, "ts", "event_id", "value")
    wa = Window.partitionBy("event_type", "bar_ts").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wd = Window.partitionBy("event_type", "bar_ts").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = base.select(
        "event_type",
        "bar_ts",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "bar_ts").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("volume"),
    )


# --------------------------------------------------------------------------
# q4m — DATA-FRESHNESS monitor (pipeline observability: the
# freshness-SLO check every always-on ingest runs): per event_type, the
# event count, the last-seen event time, and whether the stream is
# FRESH — last event within 1 hour of the corpus high-water mark.
# Timestamp arithmetic stays in exact interval algebra (no epoch-second
# conversion, whose boundary-count semantics differ across engines).
# Cost shape: one partial-agg scan to |event_type| rows + a broadcast
# 1-row high-water scalar — the same shape at 100 TB.
# --------------------------------------------------------------------------
@query(
    "q4m_freshness_monitor",
    oracle="""
    WITH hw AS (SELECT MAX(ts) AS global_ts FROM events),
    per AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(ts) AS last_ts
      FROM events GROUP BY 1
    )
    SELECT p.event_type, p.n_events, p.last_ts, hw.global_ts,
           CASE WHEN p.last_ts >= hw.global_ts - INTERVAL '1 hour'
                THEN 1 ELSE 0 END AS is_fresh
    FROM per p CROSS JOIN hw
    """,
)
def q4m_freshness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hw = ev.agg(F.max("ts").alias("global_ts"))
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts")
    )
    return per.crossJoin(F.broadcast(hw)).select(
        "event_type",
        "n_events",
        "last_ts",
        "global_ts",
        F.when(
            F.col("last_ts") >= F.col("global_ts") - F.expr("INTERVAL 1 HOUR"), 1
        )
        .otherwise(0)
        .alias("is_fresh"),
    )


# --------------------------------------------------------------------------
# q4za — MARKOV next-event TRANSITION matrix: per user, order events by
# time and count every consecutive (prev_type -> next_type) transition,
# then normalize each source row into transition probabilities — the
# first-order behavioral model product analytics derives journey maps
# and anomaly baselines from (and the sequential-pattern sibling of
# q4f's funnel, which fixes the path; this measures ALL paths).
#
# Spark shape (100 TB): ONE shuffle by user_id for the lag window
# (the stream's natural partitioning — at deployment the events table
# is already bucketed by user, making this shuffle-free), then a
# partial-aggregated groupBy to |types|^2 rows (25 here), and a tiny
# window over those 25 rows for the per-source normalization. Ordering
# is (ts, event_id) — event_id is unique, so the lag sequence (and the
# whole output) is deterministic. The single division is one IEEE op on
# exact integer counts, identical in both engines.
# --------------------------------------------------------------------------
@query(
    "q4za_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n_trans,
           CAST(n_trans AS DOUBLE)
             / CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE)
             AS p_trans
    FROM trans
    """,
)
def q4za_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    wsrc = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        (
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(wsrc).cast("double")
        ).alias("p_trans"),
    )


def seasonal_keyed_ctes(extra: str = "") -> str:
    """The hour-of-week keying CTEs (dayed + keyed) shared VERBATIM by
    the q4zb (batch) and q4zc (streaming twin) oracles — one string so
    the floor-device arithmetic cannot drift between the two copies
    (a floor fix once had to edit both in lockstep).
    `extra` prepends pass-through columns (q4zc carries event_id)."""
    cols = f"{extra}event_type, value"
    return f"""dayed AS (
      SELECT {cols}, es,
             CAST(FLOOR(es / 86400.0) AS BIGINT) AS eday
      FROM (SELECT {cols},
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
            FROM events)
    ),
    keyed AS (
      SELECT {cols},
             CAST((eday + 4) % 7 AS INT) AS dow,
             CAST(FLOOR((es % 86400) / 3600.0) AS INT) AS hr,
             CAST(FLOOR(eday / 7.0) AS BIGINT) % 2 = 0 AS is_base
      FROM dayed
    )"""


def _seasonal_keyed(ev: DataFrame, *extra_cols: str) -> DataFrame:
    """(event_type, value, dow, hr, is_base) + extra_cols — the shared
    hour-of-week keying for q4zb (batch) and q4zc (streaming twin)."""
    es = _epoch_s("ts")
    # Floor-division convention (pinned by tests/test_negative_epoch.py):
    # the engine floors (F.floor), and every oracle spells the matching
    # division as CAST(FLOOR(x / d) AS BIGINT) — NEVER DuckDB's `//`,
    # which truncates toward zero (-86401 // 86400 = -1, floor = -2) and
    # silently diverges on pre-1970 timestamps. `%` IS trunc-remainder in
    # both engines, so remainders need no device.
    eday = F.floor(es / F.lit(86400.0))
    return ev.select(
        *extra_cols,
        "event_type",
        "value",
        ((eday + 4) % 7).cast("int").alias("dow"),
        F.floor((es % 86400) / F.lit(3600.0)).cast("int").alias("hr"),
        (F.floor(eday / F.lit(7.0)) % 2 == 0).alias("is_base"),
    )


def _seasonal_stats(keyed: DataFrame) -> DataFrame:
    """Per-(event_type, dow, hr) baseline-week mean/σ (exact-decimal
    sums; σ via correctly-rounded IEEE sqrt on exact inputs)."""
    base = (
        keyed.filter("is_base")
        .groupBy("event_type", "dow", "hr")
        .agg(
            F.count("value").alias("n_base"),
            dsum("value", 6).alias("s1"),
            dsum(F.col("value") * F.col("value"), 6).alias("s2"),
        )
    )
    return base.select(
        "event_type",
        "dow",
        "hr",
        "n_base",
        (F.col("s1") / F.col("n_base")).alias("base_avg"),
        F.sqrt(
            F.greatest(
                F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n_base")),
                F.lit(0.0),
            )
            / F.col("n_base")
        ).alias("base_std"),
    )


# --------------------------------------------------------------------------
# q4zb — SEASONAL-BASELINE anomaly detection: build an hour-of-week
# traffic profile (mean + stddev of `value` per event_type × day-of-week
# × hour) from alternating "baseline" weeks, then score the remaining
# weeks against it and count the >2σ deviations — the metric-monitoring
# shape behind every data-quality alert ("is this crawl feed behaving
# like it usually does at 3am on a Tuesday?"). Week parity stands in for
# the deployment's trailing-window/holdout split; both engines derive it
# from the same epoch arithmetic (dow = (epoch_day+4) % 7 — 1970-01-01
# was a Thursday — so neither engine's locale-dependent dayofweek() is
# in play).
#
# Determinism: the per-slot sums are exact decimal folds (dsum — the
# q40 device), avg is one IEEE division, std is sqrt((s2-s*s/n)/n) on
# exact inputs — sqrt IS correctly rounded under IEEE-754, so every
# derived double is bit-identical in both engines; the 2σ comparison is
# then exact. Slots absent from one side survive the FULL OUTER ledger
# join (the q9h precedent: insert-only groups must surface).
#
# Scale (100 TB): two partial-aggregated passes over the event scan
# (baseline slots, then eval counts) shuffling |types|·168 rows each;
# the per-row scoring join broadcasts the ~840-row profile — nothing
# but the scan is corpus-proportional, and no window buffers rows.
# --------------------------------------------------------------------------
@query(
    "q4zb_seasonal_baseline",
    oracle=f"""
    WITH {seasonal_keyed_ctes()},
    base AS (
      SELECT event_type, dow, hr,
             CAST(COUNT(value) AS BIGINT) AS n_base,
             {sql_dsum("value", 6)} AS s1,
             {sql_dsum("value * value", 6)} AS s2
      FROM keyed WHERE is_base GROUP BY 1, 2, 3
    ),
    stats AS (
      SELECT event_type, dow, hr, n_base,
             s1 / n_base AS base_avg,
             SQRT(GREATEST(s2 - s1 * (s1 / n_base), 0.0) / n_base) AS base_std
      FROM base
    ),
    scored AS (
      SELECT k.event_type, k.dow, k.hr,
             CAST(COUNT(k.value) AS BIGINT) AS n_eval,
             CAST(SUM(CASE WHEN ABS(k.value - st.base_avg)
                                > 2.0 * st.base_std
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
      FROM keyed k
      LEFT JOIN stats st
        ON st.event_type = k.event_type AND st.dow = k.dow AND st.hr = k.hr
      WHERE NOT k.is_base
      GROUP BY 1, 2, 3
    )
    SELECT COALESCE(st.event_type, sc.event_type) AS event_type,
           COALESCE(st.dow, sc.dow) AS dow,
           COALESCE(st.hr, sc.hr) AS hr,
           COALESCE(st.n_base, 0) AS n_base,
           st.base_avg, st.base_std,
           COALESCE(sc.n_eval, 0) AS n_eval,
           COALESCE(sc.n_anom, 0) AS n_anom
    FROM stats st
    FULL OUTER JOIN scored sc
      ON st.event_type = sc.event_type AND st.dow = sc.dow AND st.hr = sc.hr
    """,
)
def q4zb_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = _seasonal_keyed(ev)
    stats = _seasonal_stats(keyed)
    scored = (
        keyed.filter(~F.col("is_base"))
        .join(
            F.broadcast(stats.select("event_type", "dow", "hr", "base_avg", "base_std")),
            ["event_type", "dow", "hr"],
            "left",
        )
        .groupBy("event_type", "dow", "hr")
        .agg(
            F.count("value").alias("n_eval"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("base_avg"))
                    > 2.0 * F.col("base_std"),
                    1,
                ).otherwise(0)
            ).alias("n_anom"),
        )
    )
    st, sc = stats.alias("st"), scored.alias("sc")
    cond = (
        (F.col("st.event_type") == F.col("sc.event_type"))
        & (F.col("st.dow") == F.col("sc.dow"))
        & (F.col("st.hr") == F.col("sc.hr"))
    )
    return st.join(sc, cond, "full_outer").select(
        F.coalesce("st.event_type", "sc.event_type").alias("event_type"),
        F.coalesce("st.dow", "sc.dow").alias("dow"),
        F.coalesce("st.hr", "sc.hr").alias("hr"),
        F.coalesce("st.n_base", F.lit(0)).alias("n_base"),
        F.col("st.base_avg").alias("base_avg"),
        F.col("st.base_std").alias("base_std"),
        F.coalesce("sc.n_eval", F.lit(0)).alias("n_eval"),
        F.coalesce("sc.n_anom", F.lit(0)).alias("n_anom"),
    )


# --------------------------------------------------------------------------
# q4zd — USER-GROWTH curve: daily new users (first-seen day), cumulative
# registered users, daily active users, and the active share — the DAU /
# cumulative-acquisition report every product pipeline derives from its
# event stream, and the one analytic class the events family lacked
# (global FIRST-OCCURRENCE + running total over the day spine).
#
# Spark shape (100 TB): first-seen is ONE partial-aggregated
# groupBy(user_id).min(day) — the shuffle carries users, not events;
# daily actives are one distinct-agg by (day, user) partial-reduced the
# same way; both collapse to ≤|days| metadata rows, and the cumulative
# window runs over THAT spine (the q4za/q29 convention: a deliberate
# metadata-sized single-partition window ordered by day, never a
# data-sized one). Day = epoch_day (locale-free integer division, the
# q4zb device) rendered as DATE; counts are exact integers; the share
# is one IEEE division.
# --------------------------------------------------------------------------
@query(
    "q4zd_user_growth",
    oracle="""
    WITH ed AS (
      SELECT user_id,
             CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400.0)
                  AS BIGINT) AS eday
      FROM events
    ),
    firstseen AS (
      SELECT user_id, MIN(eday) AS first_day FROM ed GROUP BY user_id
    ),
    newby AS (
      SELECT first_day AS eday, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firstseen GROUP BY first_day
    ),
    activeby AS (
      SELECT eday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      FROM ed GROUP BY eday
    )
    SELECT CAST(DATE '1970-01-01' + CAST(a.eday AS INT) AS DATE) AS day,
           COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.eday
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
           a.active_users,
           CAST(a.active_users AS DOUBLE)
             / SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.eday
                   ROWS UNBOUNDED PRECEDING) AS active_share
    FROM activeby a LEFT JOIN newby n ON n.eday = a.eday
    """,
)
def q4zd_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ed = ev.select(
        "user_id",
        # F.floor, matched by the oracle's explicit CAST(FLOOR(...)) —
        # DuckDB `//` truncates toward zero and would diverge on
        # pre-1970 epochs (the q4zb device; tests/test_negative_epoch.py).
        F.floor(_epoch_s("ts") / F.lit(86400.0)).cast("bigint").alias("eday"),
    )
    newby = (
        ed.groupBy("user_id")
        .agg(F.min("eday").alias("first_day"))
        .groupBy(F.col("first_day").alias("eday"))
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    activeby = ed.groupBy("eday").agg(
        F.countDistinct("user_id").alias("active_users")
    )
    joined = activeby.join(newby, "eday", "left").select(
        "eday",
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
        "active_users",
    )
    wg = Window.partitionBy().orderBy("eday").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("eday").cast("int"))
        .alias("day"),
        "new_users",
        F.sum("new_users").over(wg).cast("bigint").alias("cum_users"),
        "active_users",
        (
            F.col("active_users").cast("double")
            / F.sum("new_users").over(wg)
        ).alias("active_share"),
    )


# --------------------------------------------------------------------------
# q4ze — RETENTION TRIANGLE: the classic cohort matrix — users
# grouped by first-seen week, each cohort tracked across week offsets
# (how many of week-W's new users were active W+k?). The one
# product-analytics table q4zd's growth curve doesn't subsume: it needs
# the per-user (cohort, offset) cross, not just daily actives.
#
# Spark shape (100 TB): distinct (user, week) and first-seen-week are
# both ONE partial-aggregated user-keyed shuffle (the q4zd convention —
# the shuffle carries users, not events); the cohort join co-partitions
# on user_id; cohort sizes are a metadata-sized broadcast. Every figure
# is an exact integer; retention is one IEEE division of exact integers.
# Week keying floor-divides epoch days (the q4zb floor device — the
# oracle spells it CAST(FLOOR(...)), since DuckDB's // truncates).
# --------------------------------------------------------------------------
@query(
    "q4ze_retention_triangle",
    oracle="""
    WITH ed AS (
      SELECT user_id,
             CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400.0)
                  AS BIGINT) AS eday
      FROM events
    ),
    uw AS (SELECT DISTINCT user_id,
                  CAST(FLOOR(eday / 7.0) AS BIGINT) AS eweek FROM ed),
    fw AS (SELECT user_id, MIN(eweek) AS cohort_week FROM uw GROUP BY user_id),
    act AS (
      SELECT f.cohort_week, u.eweek - f.cohort_week AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM uw u JOIN fw f ON f.user_id = u.user_id
      GROUP BY 1, 2
    ),
    cs AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM fw GROUP BY 1
    )
    SELECT a.cohort_week, a.week_offset, a.n_active, c.cohort_size,
           CAST(a.n_active AS DOUBLE) / c.cohort_size AS retention
    FROM act a JOIN cs c ON c.cohort_week = a.cohort_week
    """,
)
def q4ze_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    eday = F.floor(_epoch_s("ts") / F.lit(86400.0))
    uw = ev.select(
        "user_id", F.floor(eday / F.lit(7.0)).cast("bigint").alias("eweek")
    ).distinct()
    fw = uw.groupBy("user_id").agg(F.min("eweek").alias("cohort_week"))
    act = (
        uw.join(fw, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("eweek") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    cs = fw.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return act.join(F.broadcast(cs), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


# --------------------------------------------------------------------------
# q4zf — RFM SEGMENTATION: per-user recency / frequency /
# monetary quintiles, reported as the ≤125-cell segment grid with exact
# totals — the curation-policy analog for user data (which cohorts to
# keep, downsample, or refresh) and the one events analytic that needs
# GLOBAL rank arithmetic over a user-sized table.
#
# Exactness: monetary is exact integer cents (the FLOOR device), recency
# exact epoch-day arithmetic, and the quintile of rank rn over n rows is
# ((rn-1)*5) DIV n + 1 computed division-free ((x - x%n)/n is an exact
# multiple, so the double quotient is the exact integer — the q27
# device). Ranks order by (metric, user_id), so both engines number
# identically.
#
# Spark shape (100 TB): the global ROW_NUMBER the oracle declares would
# be an Exchange SinglePartition; the engine instead ranks each metric
# with pipeline.offset_scan (per-bucket counts to the driver, broadcast
# prefix offsets, windows partitioned BY BUCKET), and three user-keyed
# joins reassemble the triple. The raw metric is passed as the bucket;
# offset_scan re-buckets it to ≤ _MAX_OFFSET_BUCKETS equi-depth cells
# when it has more distinct values, so the driver collect is
# corpus-INDEPENDENT even for `cents`, whose distinct count is
# ~user-cardinality. Everything after the per-user aggregate is
# user-cardinality, not event-cardinality.
# --------------------------------------------------------------------------
def _q4zf_oracle() -> str:
    def quint(rank_expr: str) -> str:
        x = f"(({rank_expr} - 1) * 5)"
        return f"CAST(({x} - {x} % n) / n AS BIGINT) + 1"

    return f"""
    WITH pu AS (
      SELECT user_id,
             MAX(CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400.0)
                      AS BIGINT)) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT MAX(last_day) AS corpus_day, CAST(COUNT(*) AS BIGINT) AS n
      FROM pu
    ),
    m AS (
      SELECT user_id, corpus_day - last_day AS rec, freq, cents, n
      FROM pu, g
    ),
    r AS (
      SELECT user_id, rec, freq, cents, n,
             ROW_NUMBER() OVER (ORDER BY rec, user_id) AS rn_r,
             ROW_NUMBER() OVER (ORDER BY freq, user_id) AS rn_f,
             ROW_NUMBER() OVER (ORDER BY cents, user_id) AS rn_m
      FROM m
    )
    SELECT {quint("rn_r")} AS r_q, {quint("rn_f")} AS f_q,
           {quint("rn_m")} AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM(rec) AS BIGINT) AS total_rec_days
    FROM r GROUP BY 1, 2, 3
    """


@query("q4zf_rfm_segments", oracle=_q4zf_oracle())
def q4zf_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.pipeline import offset_scan

    ev = load_table(spark, sf_dir, "events")
    eday = F.floor(_epoch_s("ts") / F.lit(86400.0)).cast("bigint")
    pu = ev.groupBy("user_id").agg(
        F.max(eday).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    g = pu.agg(
        F.max("last_day").alias("corpus_day"), F.count(F.lit(1)).alias("n")
    )
    # materialize the per-user triple ONCE (localCheckpoint, the q67
    # idiom): every pass below — the three rank passes' bucket collects
    # and the four arms of the reassembly join — would otherwise re-run
    # the event scan + user aggregate.
    # m is user-cardinality (the small table this analytic exists to
    # produce), so the materialization is bounded at any corpus scale.
    m = (
        pu.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            (F.col("corpus_day") - F.col("last_day")).alias("rec"),
            "freq",
            "cents",
        )
        .localCheckpoint()
    )
    ranked = {}
    total = None
    for metric, rn_name in (("rec", "rn_r"), ("freq", "rn_f"), ("cents", "rn_m")):
        ranked[metric], total = offset_scan(
            m.select("user_id", metric),
            F.col(metric),
            [F.asc(metric), F.asc("user_id")],
            name=rn_name,
        )

    def quint(rn: F.Column) -> F.Column:
        x = (rn - 1) * 5
        return ((x - x % total) / total).cast("bigint") + 1

    joined = (
        m.join(ranked["rec"].select("user_id", "rn_r"), "user_id")
        .join(ranked["freq"].select("user_id", "rn_f"), "user_id")
        .join(ranked["cents"].select("user_id", "rn_m"), "user_id")
    )
    return joined.groupBy(
        quint(F.col("rn_r")).alias("r_q"),
        quint(F.col("rn_f")).alias("f_q"),
        quint(F.col("rn_m")).alias("m_q"),
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum("rec").cast("bigint").alias("total_rec_days"),
    )


# --------------------------------------------------------------------------
# q4zg — LAST-TOUCH ATTRIBUTION: credit each purchase to the
# user's most recent preceding click within a 24h lookback (channel =
# the click's props.k mod 5), else 'direct' — the marketing-analytics
# twin of the ASOF family, expressed WITHOUT a range join: one
# per-user window pass carries the last click forward
# (LAST_VALUE ... IGNORE NULLS over ROWS UNBOUNDED PRECEDING TO
# 1 PRECEDING — strictly-before semantics under the deterministic
# (ts, event_id) total order, identical in both engines), and the 24h
# constraint is then row-local. One shuffle on user_id; output is the
# ≤6-row channel table with exact counts and integer cents.
# --------------------------------------------------------------------------
@query(
    "q4zg_attribution",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type, event_id, value,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, ts,
             CASE WHEN event_type = 'click'
                  THEN CAST(props->>'k' AS BIGINT) END AS click_k,
             CASE WHEN event_type = 'click'
                  THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END AS click_es
      FROM events
    ),
    attributed AS (
      SELECT user_id, event_type, value, es,
             LAST_VALUE(click_k IGNORE NULLS) OVER w AS lk,
             LAST_VALUE(click_es IGNORE NULLS) OVER w AS le
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN le IS NOT NULL AND es - le <= 86400
                THEN 'ch' || CAST(lk % 5 AS VARCHAR)
                ELSE 'direct' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q4zg_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    es = _epoch_s("ts")
    k = F.get_json_object("props", "$.k").cast("bigint")
    base = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        "ts",
        es.alias("es"),
        F.when(F.col("event_type") == "click", k).alias("click_k"),
        F.when(F.col("event_type") == "click", es).alias("click_es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = base.select(
        "event_type",
        "value",
        "es",
        F.last("click_k", ignorenulls=True).over(w).alias("lk"),
        F.last("click_es", ignorenulls=True).over(w).alias("le"),
    )
    channel = F.when(
        F.col("le").isNotNull() & (F.col("es") - F.col("le") <= 86400),
        F.concat(F.lit("ch"), (F.col("lk") % 5).cast("string")),
    ).otherwise("direct")
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )


# --------------------------------------------------------------------------
# q4zh — TEMPORAL SPLIT + LEAKAGE AUDIT: split the event log
# at the 80% point of its time range (exact integer arithmetic on epoch
# seconds — the division-free %-then-divide device) into train/test and
# report, per event type, the split sizes AND the leakage surface: how
# many test events belong to users already seen in train (the signal a
# temporal-holdout evaluation must control for). One scan for the
# per-user min/max membership, one broadcast of the 2-scalar range;
# everything integer-exact.
# --------------------------------------------------------------------------
@query(
    "q4zh_temporal_leakage",
    oracle="""
    WITH es AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    rng AS (
      SELECT MIN(es) AS mn,
             MIN(es) + CAST(((MAX(es) - MIN(es)) * 4
                             - ((MAX(es) - MIN(es)) * 4) % 5) / 5 AS BIGINT)
               AS cutoff
      FROM es
    ),
    tagged AS (
      SELECT e.user_id, e.event_type,
             CASE WHEN e.es < r.cutoff THEN 1 ELSE 0 END AS in_train
      FROM es e, rng r
    ),
    train_users AS (
      SELECT DISTINCT user_id FROM tagged WHERE in_train = 1
    )
    SELECT t.event_type,
           CAST(SUM(t.in_train) AS BIGINT) AS n_train,
           CAST(SUM(1 - t.in_train) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.in_train = 0
                          AND tu.user_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test_from_seen_users
    FROM tagged t LEFT JOIN train_users tu ON tu.user_id = t.user_id
    GROUP BY 1
    """,
)
def q4zh_temporal_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    es = ev.select("user_id", "event_type", _epoch_s("ts").alias("es"))
    span = (F.max("es") - F.min("es")) * 4
    rng = es.agg(
        (F.min("es") + ((span - span % 5) / 5).cast("bigint")).alias("cutoff")
    )
    tagged = es.crossJoin(F.broadcast(rng)).select(
        "user_id",
        "event_type",
        F.when(F.col("es") < F.col("cutoff"), 1).otherwise(0).alias("in_train"),
    )
    train_users = (
        tagged.filter(F.col("in_train") == 1).select("user_id").distinct()
        .withColumn("seen", F.lit(1))
    )
    return (
        tagged.join(train_users, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.sum("in_train").cast("bigint").alias("n_train"),
            F.sum(1 - F.col("in_train")).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    (F.col("in_train") == 0) & F.col("seen").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_test_from_seen_users"),
        )
    )


# --------------------------------------------------------------------------
# q4zi — ORDERED CONVERSION FUNNEL: the product-analytics
# table the retention/RFM/attribution trio (q4ze/q4zf/q4zg) still
# lacked — per-user first-touch progression through view -> click ->
# purchase, where each step must occur STRICTLY AFTER the user's
# previous step's first occurrence. Output is the 3-row step ladder
# with exact user counts and the two conversion ratios (step/previous,
# step/start).
#
# Spark shape (100 TB): ONE scan (event_type IN the 3 steps, pushed
# down) and ONE user-keyed exchange — the three first-touch times are
# LAYERED unbounded windows over the same partitioning (t2's
# conditional min references t1, a per-user constant; t3 references
# t2), so Catalyst stacks them on a single Window exchange, the
# per-user rollup reuses that partitioning without a new shuffle, and
# everything after is a 1-row global aggregate exploded into the 3-row
# ladder. (One groupBy+join PER STEP would cost three event scans,
# each re-deriving its lineage.)
# Exactness: counts are integers; ratios are one IEEE division each;
# the strictly-after comparison is exact microsecond arithmetic
# identical in both engines.
# --------------------------------------------------------------------------
_FUNNEL_STEPS = ("view", "click", "purchase")


# Shared oracle CTE prefix: per-step strictly-after first-touch user
# sets — u1/u2/u3 mirror _funnel_first_touch's layered windows. Reused
# verbatim by q4zi, q4zk (the streaming twin) and q4zm (step latency).
_FUNNEL_FT_CTES = f"""
    u1 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    u2 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN u1 ON u1.user_id = e.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > u1.t
      GROUP BY 1
    ),
    u3 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN u2 ON u2.user_id = e.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > u2.t
      GROUP BY 1
    )"""


def _funnel_oracle() -> str:
    return f"""
    WITH {_FUNNEL_FT_CTES},
    ladder(step, step_name, n_users) AS (
      SELECT 1, '{_FUNNEL_STEPS[0]}', (SELECT CAST(COUNT(*) AS BIGINT) FROM u1)
      UNION ALL
      SELECT 2, '{_FUNNEL_STEPS[1]}', (SELECT CAST(COUNT(*) AS BIGINT) FROM u2)
      UNION ALL
      SELECT 3, '{_FUNNEL_STEPS[2]}', (SELECT CAST(COUNT(*) AS BIGINT) FROM u3)
    )
    SELECT CAST(step AS INT) AS step, step_name, n_users,
           CASE WHEN step = 1 THEN CAST(1 AS DOUBLE)
                WHEN LAG(n_users) OVER (ORDER BY step) = 0 THEN NULL
                ELSE CAST(n_users AS DOUBLE)
                       / LAG(n_users) OVER (ORDER BY step) END AS conv_prev,
           CASE WHEN FIRST_VALUE(n_users) OVER (ORDER BY step) = 0 THEN NULL
                ELSE CAST(n_users AS DOUBLE)
                       / FIRST_VALUE(n_users) OVER (ORDER BY step) END
             AS conv_start
    FROM ladder
    """


def _funnel_ratios(ladder: DataFrame) -> DataFrame:
    """Conversion ratios over a (step, step_name, n_users) ladder —
    SHARED by q4zi (batch) and q4zk (streaming twin) so the ratio
    semantics cannot drift between them. An empty
    previous/first step yields NULL in BOTH engines by explicit CASE:
    Spark's ANSI double 0/0 would error while DuckDB emits NaN, so an
    unguarded division (or a blanket coalesce-to-1.0) diverges exactly
    when a funnel step is empty. The 3-row ratio windows are
    metadata-sized by construction (the q4za convention)."""
    w = Window.orderBy("step")
    prev = F.lag("n_users").over(w)
    first = F.first("n_users").over(w)
    return ladder.select(
        "step",
        "step_name",
        "n_users",
        F.when(F.col("step") == 1, F.lit(1.0))
        .when(prev == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_users").cast("double") / prev)
        .alias("conv_prev"),
        F.when(first == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_users").cast("double") / first)
        .alias("conv_start"),
    )


def _funnel_first_touch(ev: DataFrame) -> DataFrame:
    """Per-user (t1, t2, t3) strictly-after first-touch times over the
    q4zi ladder — ONE pushed-down scan + ONE user-keyed exchange (the
    three conditional mins are layered windows over the same
    partitioning; Catalyst stacks them on a single Window exchange).
    SHARED by q4zi (the step-count ladder) and q4zm (the step-latency
    distribution) so the strictly-after semantics cannot drift."""
    w = Window.partitionBy("user_id")
    e = ev.filter(F.col("event_type").isin(*_FUNNEL_STEPS)).select(
        "user_id", "ts", "event_type"
    )
    t1 = F.min(
        F.when(F.col("event_type") == _FUNNEL_STEPS[0], F.col("ts"))
    ).over(w)
    e = e.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == _FUNNEL_STEPS[1])
            & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    e = e.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == _FUNNEL_STEPS[2])
            & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    e = e.withColumn("t3", t3)
    return e.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )


@query("q4zi_conversion_funnel", oracle=_funnel_oracle())
def q4zi_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = _funnel_first_touch(ev)
    counts = per_user.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
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
    return _funnel_ratios(ladder)


# --------------------------------------------------------------------------
# q4zm — FUNNEL STEP-LATENCY DISTRIBUTION: the time dimension
# q4zi's count ladder drops — per converting user, HOW LONG each step
# transition took (first-touch t2-t1 and t3-t2), reported per transition
# as exact count/min/max/mean plus the exact low-median. The p50 is the
# number a funnel SLA actually tracks; mean alone is whale-dominated.
#
# Exactness: latencies are exact BIGINT microsecond differences
# (unix_micros / epoch_us agree bit-for-bit); min/max/count/sum are
# exact integer aggregates; the mean and the second-to-double
# conversions are fixed IEEE chains spelled identically in both engines
# (CAST(us AS DOUBLE) / n / 1000000.0). The median is an ORDER
# STATISTIC — the FLOOR((n+1)/2)-th smallest exact integer — not an
# interpolating percentile, so both engines select the same element.
#
# Spark shape (100 TB): reuses _funnel_first_touch's single scan +
# single user-keyed exchange, explodes each user into ≤2 transition
# rows in the same pass (no per-step re-derived lineage), then
# aggregates per transition (2 metadata rows). The median deliberately
# does NOT window on the 2-value transition key (a 2-partition global
# sort — the q26 single-task shape): pipeline.offset_scan numbers each
# transition's latencies (groups = step) via equi-depth coarsened
# buckets, so every window is partitioned (transition, bucket) and the
# driver table stays ≤ groups x 4096 rows at any corpus size.
# --------------------------------------------------------------------------
# Shared by q4zm and the streaming twin q4zn (on bounded input the
# streamed state machine must reproduce the batch latency table
# byte for byte — the q4zk/q4zi relationship one rung up the pipe).
_FUNNEL_LATENCY_ORACLE = f"""
    WITH {_FUNNEL_FT_CTES},
    lat AS (
      SELECT 2 AS step, '{_FUNNEL_STEPS[0]}>{_FUNNEL_STEPS[1]}' AS transition,
             u2.user_id, epoch_us(u2.t) - epoch_us(u1.t) AS d
      FROM u2 JOIN u1 USING (user_id)
      UNION ALL
      SELECT 3, '{_FUNNEL_STEPS[1]}>{_FUNNEL_STEPS[2]}',
             u3.user_id, epoch_us(u3.t) - epoch_us(u2.t)
      FROM u3 JOIN u2 USING (user_id)
    ),
    stats AS (
      SELECT step, transition,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(MIN(d) AS BIGINT) AS min_us,
             CAST(MAX(d) AS BIGINT) AS max_us,
             CAST(SUM(d) AS BIGINT) AS sum_us
      FROM lat GROUP BY 1, 2
    ),
    med AS (
      SELECT step, d AS med_us
      FROM (SELECT step, d,
                   ROW_NUMBER() OVER (PARTITION BY step ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY step) AS cnt
            FROM lat) x
      WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)
    )
    SELECT CAST(s.step AS INT) AS step, s.transition, s.n_users,
           CAST(s.min_us AS DOUBLE) / 1000000.0 AS min_s,
           CAST(s.max_us AS DOUBLE) / 1000000.0 AS max_s,
           CAST(s.sum_us AS DOUBLE) / s.n_users / 1000000.0 AS avg_s,
           CAST(m.med_us AS DOUBLE) / 1000000.0 AS p50_s
    FROM stats s JOIN med m ON m.step = s.step
    """


@query("q4zm_funnel_latency", oracle=_FUNNEL_LATENCY_ORACLE)
def q4zm_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return funnel_latency_report(_funnel_first_touch(ev))


def funnel_latency_report(per_user: DataFrame) -> DataFrame:
    """Step-latency distribution over a per-user (t1, t2, t3)
    first-touch table — SHARED by q4zm (batch) and q4zn (streaming
    twin), so the explode/stats/median semantics cannot drift."""
    from tf_datapipeline_spark.operators.pipeline import offset_scan

    d12 = _epoch_us("t2") - _epoch_us("t1")
    d23 = _epoch_us("t3") - _epoch_us("t2")
    lat = (
        per_user.select(
            "user_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(2).cast("int").alias("step"),
                        F.lit(
                            f"{_FUNNEL_STEPS[0]}>{_FUNNEL_STEPS[1]}"
                        ).alias("transition"),
                        F.when(F.col("t2").isNotNull(), d12).alias("d"),
                    ),
                    F.struct(
                        F.lit(3).cast("int").alias("step"),
                        F.lit(
                            f"{_FUNNEL_STEPS[1]}>{_FUNNEL_STEPS[2]}"
                        ).alias("transition"),
                        F.when(F.col("t3").isNotNull(), d23).alias("d"),
                    ),
                )
            ).alias("s"),
        )
        .select("user_id", "s.step", "s.transition", "s.d")
        .filter(F.col("d").isNotNull())
        # materialize ONCE (the q4zf idiom) — the stats aggregate, the
        # median's bucket collects and the final numbered plan would
        # otherwise each re-derive the upstream
        # first-touch pass (an events scan + user-keyed window per job).
        # lat is ≤ 2 rows per CONVERTING user (~30 B/row), bounded at
        # any corpus scale.
        .localCheckpoint()
    )
    stats = lat.groupBy("step", "transition").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("d").cast("bigint").alias("min_us"),
        F.max("d").cast("bigint").alias("max_us"),
        F.sum("d").cast("bigint").alias("sum_us"),
    )
    numbered, _ = offset_scan(
        lat, F.col("d"), [F.col("d"), F.col("user_id")], groups=["step"]
    )
    med = numbered.filter(
        F.col("rn") == F.floor((F.col("_n") + 1) / 2)
    ).select("step", F.col("d").alias("med_us"))
    return stats.join(med, "step").select(
        "step",
        "transition",
        "n_users",
        (F.col("min_us").cast("double") / 1000000.0).alias("min_s"),
        (F.col("max_us").cast("double") / 1000000.0).alias("max_s"),
        (
            F.col("sum_us").cast("double")
            / F.col("n_users")
            / 1000000.0
        ).alias("avg_s"),
        (F.col("med_us").cast("double") / 1000000.0).alias("p50_s"),
    )


# --------------------------------------------------------------------------
# q4zj — ENTRY-PATH ANALYSIS: the "how do journeys start"
# table next to q4zi's fixed funnel — each user's first three event
# types under the deterministic (ts, event_id) total order, folded to a
# path string, counted and shared. Missing steps (users with < 3
# events) render as '-' via explicit COALESCE: Spark's concat_ws
# null-SKIPPING and SQL's null-propagating || would otherwise disagree,
# so both engines build the path with the same COALESCE-then-concat.
#
# Spark shape (100 TB): one user-keyed window pass (rn <= 3 filter
# prunes to 3 rows/user before the aggregate), one user-keyed
# conditional aggregate, then a path-keyed partial agg that collapses
# to ≤ |event_types|^3 metadata rows; the share is one IEEE division
# against a broadcast 1-row total.
# --------------------------------------------------------------------------
@query(
    "q4zj_entry_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             COALESCE(MAX(CASE WHEN rn = 1 THEN event_type END), '-')
               || ' > ' ||
             COALESCE(MAX(CASE WHEN rn = 2 THEN event_type END), '-')
               || ' > ' ||
             COALESCE(MAX(CASE WHEN rn = 3 THEN event_type END), '-')
               AS path
      FROM seq WHERE rn <= 3 GROUP BY user_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM paths)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS DOUBLE) / MAX(n_total) AS user_share
    FROM paths, tot GROUP BY path
    """,
)
def q4zj_entry_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)

    def step(i: int) -> F.Column:
        return F.coalesce(
            F.max(F.when(F.col("rn") == i, F.col("event_type"))),
            F.lit("-"),
        )

    paths = seq.groupBy("user_id").agg(
        F.concat(
            step(1), F.lit(" > "), step(2), F.lit(" > "), step(3)
        ).alias("path")
    )
    tot = paths.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        paths.crossJoin(F.broadcast(tot))
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.count(F.lit(1)).cast("double") / F.max("n_total")).alias(
                "user_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# q4zl — A/B UPLIFT with z-statistic: the experiment-readout
# table — users deterministically split into two variants by the
# cross-engine md5 hash (the q3c sampling device, so assignment is
# identical in both engines and stable under retries), per-variant
# conversion (>= 1 purchase), the uplift, and the two-proportion pooled
# z-statistic. The z is a fixed chain of IEEE ops over exact integer
# counts — every division/multiply/sqrt rounds once, identically, in
# both engines (SQRT is correctly rounded under IEEE-754), and every
# literal is CAST(... AS DOUBLE) so neither engine types it DECIMAL.
#
# Spark shape (100 TB): ONE user-keyed partial aggregate over the event
# scan (the shuffle carries users), then a 1-row conditional aggregate.
# Nothing after the scan is event-cardinality; output is one row.
# --------------------------------------------------------------------------
def _ab_uplift_sql(dialect: str) -> str:
    from tf_datapipeline_spark.functions.texthash import sql_hash32

    h = sql_hash32("'ab-' || CAST(user_id AS STRING)", dialect)
    rate = "(CAST({c} AS DOUBLE) / {n})"
    ra = rate.format(c="c_a", n="n_a")
    rb = rate.format(c="c_b", n="n_b")
    pooled = "(CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
    # conversion = a HIGH-VALUE purchase (value >= 190): with ~13
    # purchases/user over value ~ U[0, 200] this splits users near 50/50
    # at every scale factor; plain ">= 1 purchase" converts everyone in
    # this corpus and degenerates the z (pooled p = 1). EVERY division —
    # the rates and the uplift too, not just the z — is
    # CASE-guarded for degenerate corpora: both engines emit NULL
    # instead of Spark's ANSI divide-by-zero error / DuckDB's NaN-inf.
    denom = (
        f"SQRT({pooled} * (CAST(1 AS DOUBLE) - {pooled})"
        f" * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))"
    )
    return f"""
    WITH pu AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase'
                       AND value >= CAST(190 AS DOUBLE)
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT CASE WHEN ({h}) % 2 = 0 THEN 'A' ELSE 'B' END AS variant, conv
      FROM pu
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT)
          AS c_a,
        CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT)
          AS c_b
      FROM v
    )
    SELECT n_a, n_b, c_a AS conv_a_users, c_b AS conv_b_users,
           CASE WHEN n_a = 0 THEN NULL ELSE {ra} END AS rate_a,
           CASE WHEN n_b = 0 THEN NULL ELSE {rb} END AS rate_b,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE {rb} - {ra} END AS uplift,
           CASE WHEN n_a = 0 OR n_b = 0 OR c_a + c_b = 0
                     OR c_a + c_b = n_a + n_b THEN NULL
                ELSE ({rb} - {ra}) / {denom} END AS z_stat
    FROM agg
    """


@query("q4zl_ab_uplift", oracle=_ab_uplift_sql("duckdb"))
def q4zl_ab_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ab_uplift_sql("spark"))


# --------------------------------------------------------------------------
# q4zo — PERIODICITY DETECTION: the seasonality DISCOVERY
# step ahead of q4zb's seasonal baseline — q4zb assumes the hour-of-week
# cycle; this op finds the dominant cycle from the data via raw
# autocorrelation of hourly event counts over lags 1..48h. The score at
# lag L is SUM(c_t * c_{t+L}) over the gap-filled hour spine — EXACT
# BIGINT products of exact counts (no mean-centering, no floats
# anywhere), so a daily-rhythm corpus peaks at L=24 and the rank order
# is bit-reproducible in both engines (score DESC, lag ASC).
#
# Spark shape (100 TB): one pushed-down scan -> hour-keyed partial
# aggregate; everything after runs on the HOUR SPINE, which is
# time-span-bounded metadata (10 years ~ 87k rows — the q4y gap-fill
# convention). The lag pairing deliberately avoids a range join's
# nested-loop plan: each spine hour explodes into its 48 (lag, hour+L)
# targets and equi-joins back — a hash join over <= 48·|hours| metadata
# rows. The 48-row rank window is metadata-sized (the q4za convention).
# --------------------------------------------------------------------------
_PERIOD_MAX_LAG = 48


@query(
    "q4zo_periodicity",
    oracle=f"""
    WITH hrs AS (
      SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600.0) AS BIGINT)
               AS eh,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    rng AS (SELECT MIN(eh) AS lo, MAX(eh) AS hi FROM hrs),
    spine AS (SELECT unnest(generate_series(r.lo, r.hi)) AS eh FROM rng r),
    filled AS (
      SELECT s.eh, COALESCE(h.n, 0) AS n
      FROM spine s LEFT JOIN hrs h USING (eh)
    ),
    scores AS (
      SELECT CAST(f2.eh - f1.eh AS INT) AS lag,
             CAST(SUM(f1.n * f2.n) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM filled f1 JOIN filled f2
        ON f2.eh > f1.eh AND f2.eh <= f1.eh + {_PERIOD_MAX_LAG}
      GROUP BY 1
    )
    SELECT lag, score, n_terms,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, lag) AS INT) AS rnk
    FROM scores
    """,
)
def q4zo_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    eh = F.floor(_epoch_s("ts") / F.lit(3600.0)).cast("bigint")
    hrs = ev.groupBy(eh.alias("eh")).agg(F.count(F.lit(1)).alias("n"))
    rng = hrs.agg(F.min("eh").alias("lo"), F.max("eh").alias("hi"))
    spine = rng.select(F.explode(F.sequence("lo", "hi")).alias("eh"))
    filled = (
        spine.join(hrs, "eh", "left")
        .select("eh", F.coalesce("n", F.lit(0)).alias("n"))
        .localCheckpoint()  # metadata-sized; consumed by both join sides
    )
    lhs = filled.select(
        F.col("eh").alias("eh1"),
        F.col("n").alias("n1"),
        F.explode(
            F.sequence(
                F.col("eh") + 1, F.col("eh") + _PERIOD_MAX_LAG
            )
        ).alias("eh"),
    )
    scores = (
        lhs.join(filled, "eh")
        .groupBy((F.col("eh") - F.col("eh1")).cast("int").alias("lag"))
        .agg(
            F.sum(F.col("n1") * F.col("n")).cast("bigint").alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("lag"))
    return scores.select(
        "lag",
        "score",
        "n_terms",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# --------------------------------------------------------------------------
# q4zp — CUSUM CHANGEPOINT DETECTION: the regime-shift audit
# that closes the monitoring ladder — q4zb models a KNOWN cycle, q4zo
# DISCOVERS the cycle, q4zp finds the single most likely LEVEL SHIFT in
# each event type's daily volume (a feed going dark, a bot flood, an
# ingest config change — the curation incidents a 100 TB corpus audit
# must localize in time). Statistic: the classic offline CUSUM — the
# day t maximizing |S_t|, S_t = cum_t - t*(N/T) over the T observed
# days. Scaled by T it is ALL-INTEGER: D_t = T*cum_t - t*N (exact
# BIGINT — no float drift can move the argmax), with ties broken to the
# earliest day. Reported per type: the changepoint day, D at the
# changepoint, the normalized magnitude |D|/(T*N) in [0,1) (one IEEE
# division), and the pre/post daily rates whose gap IS the detected
# shift.
#
# Headroom: |D| <= T*N; at 4000 days x 1e12 events T*N ~ 4e15 — inside
# BIGINT at any plausible corpus scale.
#
# Spark shape (100 TB): one pushed-down scan -> (type, day) partial
# aggregate; everything after runs on the DAILY table (types x days —
# metadata-sized). One type-keyed running-sum window (integer-exact in
# any partition order), a 3-row-per-type broadcast-scale totals join,
# and an argmax window per type. No data-sized window, no driver state.
# --------------------------------------------------------------------------
@query(
    "q4zp_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400.0)
               AS BIGINT) AS eday,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t_days,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM daily GROUP BY 1
    ),
    walk AS (
      SELECT event_type, eday,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY eday) AS BIGINT) AS t,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY eday
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM daily
    ),
    cp AS (
      SELECT event_type, eday, t, cum, dstat, t_days, n_events FROM (
        SELECT w.event_type, w.eday, w.t, w.cum,
               o.t_days * w.cum - w.t * o.n_events AS dstat,
               o.t_days, o.n_events,
               ROW_NUMBER() OVER (PARTITION BY w.event_type
                                  ORDER BY ABS(o.t_days * w.cum
                                               - w.t * o.n_events) DESC,
                                           w.eday) AS rn
        FROM walk w JOIN tot o USING (event_type)
      ) r WHERE rn = 1
    )
    SELECT event_type, t_days, n_events, eday AS cp_eday,
           CAST(dstat AS BIGINT) AS cp_stat,
           CAST(ABS(dstat) AS DOUBLE) / (t_days * n_events) AS cp_norm,
           CAST(cum AS DOUBLE) / t AS rate_pre,
           CASE WHEN t_days > t
                THEN CAST(n_events - cum AS DOUBLE) / (t_days - t)
                ELSE CAST(NULL AS DOUBLE) END AS rate_post
    FROM cp
    """,
)
def q4zp_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    eday = F.floor(_epoch_s("ts") / F.lit(86400.0)).cast("bigint")
    daily = ev.groupBy(
        "event_type", eday.alias("eday")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("t_days"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    wo = Window.partitionBy("event_type").orderBy("eday")
    walk = daily.select(
        "event_type",
        "eday",
        F.row_number().over(wo).cast("bigint").alias("t"),
        F.sum("n").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
    )
    dstat = F.col("t_days") * F.col("cum") - F.col("t") * F.col("n_events")
    wcp = Window.partitionBy("event_type").orderBy(
        F.abs(dstat).desc(), F.asc("eday")
    )
    cp = (
        walk.join(tot, "event_type")
        .withColumn("dstat", dstat)
        .withColumn("rn", F.row_number().over(wcp))
        .filter(F.col("rn") == 1)
    )
    return cp.select(
        "event_type",
        "t_days",
        "n_events",
        F.col("eday").alias("cp_eday"),
        F.col("dstat").cast("bigint").alias("cp_stat"),
        (
            F.abs("dstat").cast("double")
            / (F.col("t_days") * F.col("n_events"))
        ).alias("cp_norm"),
        (F.col("cum").cast("double") / F.col("t")).alias("rate_pre"),
        F.when(
            F.col("t_days") > F.col("t"),
            (F.col("n_events") - F.col("cum")).cast("double")
            / (F.col("t_days") - F.col("t")),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("rate_post"),
    )
