"""Structured-Streaming semantics tests beyond the bounded oracle checks:
multi-batch incremental execution, watermark-based late-data drop, and
append-mode window finalization."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tf_datapipeline_spark.sources.etl import scratch_dir

_T0 = 1_700_000_000_000_000  # micros; arbitrary fixed epoch instant


def _write_events(path: str, rows: list[tuple[int, float]]) -> None:
    ts = pa.array([r[0] for r in rows], type=pa.timestamp("us"))
    v = pa.array([r[1] for r in rows], type=pa.float64())
    pq.write_table(pa.table({"ts": ts, "v": v}), path)


def test_watermark_drops_late_data_across_batches(spark):
    """Two availableNow runs over a shared checkpoint: run 1 advances the
    event-time watermark past t0+2h; run 2 delivers an event from t0-2h,
    which the streaming plan must DROP (batch semantics would keep it)."""
    import shutil

    root = scratch_dir("stream_late/x").rsplit("/", 1)[0]
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    cp = scratch_dir("stream_late_cp/x").rsplit("/", 1)[0]
    shutil.rmtree(cp, ignore_errors=True)
    out = scratch_dir("stream_late_out/x").rsplit("/", 1)[0]
    shutil.rmtree(out, ignore_errors=True)

    def run() -> dict[float, object]:
        sdf = (
            spark.readStream.schema("ts timestamp, v double")
            .format("parquet")
            .load(root)
        )
        agg = (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
            .select(F.col("w.start").alias("window_start"), "n", "sum_v")
        )
        # parquet sink: the only bundled sink that both supports append
        # mode with aggregation AND resumes from a checkpoint (the memory
        # sink cannot recover state across runs)
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.window_start.timestamp(): r for r in spark.read.parquet(out).collect()
        }

    h = 3_600_000_000  # 1h in micros
    # run 1: two events in the t0 window + one 3h later -> final watermark
    # = t0 + 2h, which finalizes the t0 window
    _write_events(
        os.path.join(root, "f1.parquet"),
        [(_T0, 1.0), (_T0 + 60_000_000, 2.0), (_T0 + 3 * h, 4.0)],
    )
    run()
    # run 2: one event 2h BEFORE t0 — far below the persisted watermark
    _write_events(os.path.join(root, "f2.parquet"), [(_T0 - 2 * h, 8.0)])
    rows = run()

    t0_sec = _T0 / 1_000_000
    t0_win = t0_sec - t0_sec % 300  # tumbling windows anchor at the epoch
    # the finalized t0 window holds exactly the two on-time events
    assert t0_win in rows
    assert rows[t0_win].n == 2 and rows[t0_win].sum_v == 3.0
    # the late event was dropped: its window never emits, and it could not
    # have merged into any emitted window
    late_win = (t0_sec - 2 * 3600) - (t0_sec - 2 * 3600) % 300
    assert late_win not in rows
    # the above-watermark tail window is still held back in append mode
    tail_win = (t0_sec + 3 * 3600) - (t0_sec + 3 * 3600) % 300
    assert tail_win not in rows


def test_streaming_equals_batch_on_bounded_input(spark):
    """q47 (streaming) and q40 (batch) must agree row-for-row on the same
    bounded events table — the engine's batch/streaming unification claim."""
    from tf_datapipeline_spark import registry

    sf = "/root/testdata/sf0.001"
    q = registry.queries()
    batch = {tuple(r) for r in q["q40_tumbling_window"](spark, sf).collect()}
    stream = {tuple(r) for r in q["q47_stream_tumbling_window"](spark, sf).collect()}
    assert batch == stream


def test_approx_distinct_error_bound(spark):
    """q17's HLL++ estimate must sit within ~3x the default 5% rsd of the
    exact distinct count it travels with."""
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q17_approx_distinct"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.approx_ok == 1 and r.exact_parts > 0


def test_foreachbatch_sink_to_metrics_log(spark):
    """foreachBatch bridges a stream to any batch sink — here each
    micro-batch's aggregate lands in the MetricsLog table (the streaming
    form of the reference's per-step scalar logging, S11)."""
    import shutil

    from tf_datapipeline_spark.sources.metrics import MetricsLog
    from tf_datapipeline_spark.streaming.events_stream import read_events_stream

    path = scratch_dir("stream_metrics/x").rsplit("/", 1)[0]
    shutil.rmtree(path, ignore_errors=True)
    log = MetricsLog(path)

    def sink(batch_df, batch_id: int) -> None:
        row = batch_df.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        ).collect()[0]
        log.append(spark, "stream_run", [(0, batch_id, "n_events", float(row.n)),
                                         (0, batch_id, "sum_value", float(row.s))])

    ev = read_events_stream(spark, "/root/testdata/sf0.001")
    q = ev.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    logged = {r.metric: r.value for r in log.read(spark).collect()}
    assert logged["n_events"] == 1000.0  # sf0.001 events row count
    assert logged["sum_value"] > 0


def test_dedup_clusters_consistent_with_pairs(spark):
    """Cross-operator integrity: every LSH near-dup pair (q63) must land
    in the same connected component (q67), and each cluster id must be
    the min doc_id of its members."""
    from tf_datapipeline_spark import registry

    sf = "/root/testdata/sf0.001"
    q = registry.queries()
    pairs = [(r.doc_a, r.doc_b) for r in q["q63_minhash_lsh_pairs"](spark, sf).collect()]
    clusters = {r.doc_id: r.cluster_id for r in q["q67_dedup_clusters"](spark, sf).collect()}
    assert pairs and clusters
    for a, b in pairs:
        assert clusters[a] == clusters[b], (a, b)
    members: dict[int, list[int]] = {}
    for doc, cl in clusters.items():
        members.setdefault(cl, []).append(doc)
    for cl, docs in members.items():
        assert cl == min(docs), (cl, docs)


def test_rollup_merge_resumes_from_checkpoint(spark):
    """q4x's foreachBatch rollup across two availableNow runs sharing a
    checkpoint: run 2 must process ONLY the file added after run 1 (a
    re-read would double-count), and the merged table must equal the
    one-shot batch aggregate over everything — the restartable
    incremental-ETL contract (S10 checkpoint semantics)."""
    import shutil

    from pyspark.sql import types as T

    from tf_datapipeline_spark.streaming.events_stream import (
        _ROLLUP_SCHEMA,
        run_rollup_stream,
    )

    root = scratch_dir("rollup_resume_src/x").rsplit("/", 1)[0]
    out = scratch_dir("rollup_resume_out/x").rsplit("/", 1)[0]
    ck = scratch_dir("rollup_resume_ck/x").rsplit("/", 1)[0]
    for d in (root, out, ck):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    spark.createDataFrame([], _ROLLUP_SCHEMA).write.mode("overwrite").parquet(out)

    def write_slice(fname: str, rows: list[tuple[int, float]]) -> None:
        uid = pa.array([r[0] for r in rows], type=pa.int64())
        v = pa.array([r[1] for r in rows], type=pa.float64())
        pq.write_table(pa.table({"user_id": uid, "value": v}), os.path.join(root, fname))

    def drain() -> None:
        src = (
            spark.readStream.schema("user_id bigint, value double")
            .format("parquet")
            .load(root)
        )
        run_rollup_stream(spark, src, out, ck)

    write_slice("s1.parquet", [(1, 1.25), (1, 2.5), (2, 10.0)])
    drain()
    first = {r.user_id: r for r in spark.read.parquet(out).collect()}
    assert first[1].n_events == 2 and float(first[1].sum_value) == 3.75
    assert first[2].n_events == 1

    write_slice("s2.parquet", [(1, 0.25), (3, 7.0)])
    drain()
    final = {r.user_id: r for r in spark.read.parquet(out).collect()}
    # user 1 merged across runs; a checkpoint re-read would give n=4
    assert final[1].n_events == 3 and float(final[1].sum_value) == 4.0
    # user 2 untouched by run 2; user 3 inserted by run 2
    assert final[2].n_events == 1 and float(final[2].sum_value) == 10.0
    assert final[3].n_events == 1 and float(final[3].sum_value) == 7.0


def test_append_windows_invariant_to_batch_count(spark, tmp_path):
    """q4p's append-mode emission must not depend on HOW the input is
    micro-batched: draining one file in a single batch and draining three
    time-ordered files with maxFilesPerTrigger=1 (so the watermark
    advances batch by batch and mid-stream state is flushed incrementally)
    must emit exactly the same window rows. Covers the cross-batch state
    path (watermark advancement, in-horizon late row accepted mid-stream)
    that single-file availableNow runs exercise only degenerately."""
    rows = []
    hour = 3_600_000_000
    for h in range(3):
        for i in range(20):
            rows.append((_T0 + h * hour + i * (hour // 20), float(h * 100 + i)))
    # a "late" row delivered in the third file but timestamped inside
    # hour 1 — above the watermark after file 2 (max=h2_start-ish - 1h),
    # so both executions must aggregate it identically
    late = (_T0 + hour + hour // 2 + 12_345, 999.0)

    one = str(tmp_path / "one")
    split = str(tmp_path / "split")
    os.makedirs(one), os.makedirs(split)
    _write_events(os.path.join(one, "all.parquet"), rows + [late])
    files = [
        ("f0.parquet", rows[:20]),
        ("f1.parquet", rows[20:40]),
        ("f2.parquet", rows[40:] + [late]),
    ]
    now = time.time()
    for k, (fname, slice_rows) in enumerate(files):
        p = os.path.join(split, fname)
        _write_events(p, slice_rows)
        # file source processes oldest-mtime first; force chronological
        os.utime(p, (now + k, now + k))

    def drain(src_dir: str, max_files: int | None):
        reader = spark.readStream.schema("ts timestamp, v double").format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        sdf = reader.load(src_dir)
        agg = (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .select(F.col("w.start").alias("ws"), "n", "sv")
        )
        name = f"inv_{os.path.basename(src_dir)}_{max_files}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        return sorted(map(tuple, spark.table(name).collect())), n_batches

    got_one, _ = drain(one, None)
    got_split, n_batches = drain(split, 1)
    assert n_batches >= 3, f"expected >=3 data micro-batches, saw {n_batches}"
    assert got_one == got_split
    assert len(got_one) > 0  # flushed windows exist (first ~2h worth)


def _write_clickview(path: str, rows: list[tuple[int, int, str, int]]) -> None:
    """(event_id, user_id, event_type, ts_us) -> parquet."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "user_id": pa.array([r[1] for r in rows], type=pa.int64()),
                "event_type": pa.array([r[2] for r in rows], type=pa.string()),
                "ts": pa.array([r[3] for r in rows], type=pa.timestamp("us")),
            }
        ),
        path,
    )


def test_outer_join_null_emission_invariant_to_batch_count(spark, tmp_path):
    """q4b's class: stream-stream LEFT OUTER interval
    join with the min-of-both-sides watermark NULL emission — the
    subtlest rule in the streaming surface — must not depend on how the
    input is micro-batched. One-batch and three-batch (maxFilesPerTrigger
    =1, time-ordered files) executions must produce the same row set,
    including: an inner match within one batch, a LATE view matched to a
    click from an earlier batch (join state retained until the watermark
    closes it), a NULL row for an unmatched click emitted only once the
    min watermark passes it, and a tail click whose state never closes —
    absent from BOTH runs."""
    mins = 60_000_000
    hour = 60 * mins
    rows = [
        # file 0 (hour 0): u1 inner match (view 2 min before click)
        (100, 1, "view", _T0 + 8 * mins),
        (1, 1, "click", _T0 + 10 * mins),
        # u3 click with no view in window -> NULL once watermark passes
        (3, 3, "click", _T0 + 30 * mins),
        # file 1 (hour 1): u2 click at the end of the hour
        (2, 2, "click", _T0 + hour + 58 * mins),
        # file 2 (hour 2): u2's matching view, LATE in processing time but
        # inside [c_ts - 5m, c_ts] in event time; plus watermark movers
        # and a tail click whose state never closes
        (200, 2, "view", _T0 + hour + 55 * mins),
        (300, 9, "view", _T0 + 2 * hour + 55 * mins),
        (4, 4, "click", _T0 + 2 * hour + 50 * mins),
    ]
    split_files = [rows[:3], rows[3:4], rows[4:]]

    one = str(tmp_path / "one")
    split = str(tmp_path / "split")
    os.makedirs(one), os.makedirs(split)
    _write_clickview(os.path.join(one, "all.parquet"), rows)
    now = time.time()
    for k, chunk in enumerate(split_files):
        p = os.path.join(split, f"f{k}.parquet")
        _write_clickview(p, chunk)
        os.utime(p, (now + k, now + k))

    def drain(src_dir: str, max_files: int | None):
        reader = spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, ts timestamp"
        ).format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        sdf = reader.load(src_dir)
        clicks = (
            sdf.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        views = (
            sdf.filter(F.col("event_type") == "view")
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
                "v_user_id = user_id AND v_ts >= c_ts - INTERVAL 5 MINUTES "
                "AND v_ts <= c_ts"
            ),
            "left_outer",
        ).select("click_id", "view_id", "user_id")
        name = f"oj_{os.path.basename(src_dir)}_{max_files}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        return sorted(map(tuple, spark.table(name).collect())), n_batches

    got_one, _ = drain(one, None)
    got_split, n_batches = drain(split, 1)
    assert n_batches >= 3, f"expected >=3 data micro-batches, saw {n_batches}"
    assert got_one == got_split
    # semantic spot-checks of the emission rule itself
    assert (1, 100, 1) in got_one  # same-batch inner match
    assert (2, 200, 2) in got_one  # cross-batch late-view match
    assert (3, None, 3) in got_one  # watermark-gated NULL emission
    assert all(r[0] != 4 for r in got_one)  # tail state never closed


def test_stateless_ingest_antijoin_invariant_to_batch_count(spark, tmp_path):
    """qt4's class: the streaming ingest composite is
    a stateless quality gate + anti-join against a STATIC dedup index,
    so its accepted set must be exactly batching-independent — each row's
    outcome depends on (row, static index) alone. Drive the same shape
    (quality filter + band-key anti-join) over one file and over three
    files with maxFilesPerTrigger=1 and pin equal row sets."""
    docs = [
        # (doc_id, n_chars, bkey) — bkey collides with the index for dups
        (0, 150, "b0"),   # accepted
        (1, 50, "b9"),    # quality-rejected (n_chars < 100)
        (2, 200, "idx1"), # dup of the static index -> anti-joined away
        (3, 120, "b3"),   # accepted
        (4, 130, "idx2"), # dup
        (5, 110, "b5"),   # accepted
    ]
    index = spark.createDataFrame([("idx1",), ("idx2",)], "i_bkey string")

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "n_chars": pa.array([r[1] for r in rows], type=pa.int32()),
                    "bkey": pa.array([r[2] for r in rows], type=pa.string()),
                }
            ),
            path,
        )

    one = str(tmp_path / "ing_one")
    split = str(tmp_path / "ing_split")
    os.makedirs(one), os.makedirs(split)
    write(os.path.join(one, "all.parquet"), docs)
    now = time.time()
    for k in range(3):
        p = os.path.join(split, f"f{k}.parquet")
        write(p, docs[2 * k : 2 * k + 2])
        os.utime(p, (now + k, now + k))

    def drain(src_dir: str, max_files: int | None):
        reader = spark.readStream.schema(
            "doc_id bigint, n_chars int, bkey string"
        ).format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        sdf = reader.load(src_dir).filter(F.col("n_chars") >= 100)
        out = sdf.join(
            index, F.col("bkey") == F.col("i_bkey"), "left_anti"
        ).select("doc_id")
        name = f"ing_{os.path.basename(src_dir)}_{max_files}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        return sorted(r.doc_id for r in spark.table(name).collect()), n_batches

    got_one, _ = drain(one, None)
    got_split, n_batches = drain(split, 1)
    assert n_batches >= 3
    assert got_one == got_split == [0, 3, 5]


def _write_ohlc_events(path: str, rows: list[tuple[int, int, str, float]]) -> None:
    """(ts_us, event_id, event_type, value) -> parquet."""
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([r[0] for r in rows], type=pa.timestamp("us")),
                "event_id": pa.array([r[1] for r in rows], type=pa.int64()),
                "event_type": pa.array([r[2] for r in rows], type=pa.string()),
                "value": pa.array([r[3] for r in rows], type=pa.float64()),
            }
        ),
        path,
    )


def test_ohlc_bars_invariant_to_batch_count(spark, tmp_path):
    """q4o's class: watermarked min_by/max_by OHLC
    aggregation in append mode must emit identical bars whether the
    input arrives in one batch or file-by-file. The split is adversarial
    for the open/close state merge: the same minute's rows land in TWO
    different files (open arrives in f0, close in f1 — the cross-batch
    min_by/max_by merge must still pick the struct-key extremes), and f2
    carries an in-horizon late row for an earlier minute plus the
    watermark-advancing tail that flushes everything."""
    minute = 60_000_000
    hour = 3_600_000_000
    t0 = (_T0 // minute) * minute  # align to a minute boundary
    rows = [
        # minute 0 of type A: open (v=10) and high in f0...
        (t0 + 1_000_000, 1, "A", 10.0),
        (t0 + 2_000_000, 2, "A", 50.0),
        # ... close (v=20) only in f1 — state must merge across batches
        (t0 + 59_000_000, 3, "A", 20.0),
        # same-ts tie in minute 1: event_id breaks open deterministically
        (t0 + minute, 4, "B", 7.0),
        (t0 + minute, 5, "B", 9.0),
        # late-but-in-horizon row for minute 0 delivered in f2 (max ts
        # after f1 is t0+1m; watermark = that - 1h, so minute 0 is
        # still open and must absorb this new low v=3)
        (t0 + 30_000_000, 6, "A", 3.0),
        # watermark-advancing tail: pushes cutoff past minutes 0/1
        (t0 + 2 * hour, 7, "A", 99.0),
    ]
    files = [rows[:3], rows[3:5], rows[5:]]
    one = str(tmp_path / "ohlc_one")
    split = str(tmp_path / "ohlc_split")
    os.makedirs(one), os.makedirs(split)
    _write_ohlc_events(os.path.join(one, "all.parquet"), rows)
    now = time.time()
    for k, slice_rows in enumerate(files):
        p = os.path.join(split, f"f{k}.parquet")
        _write_ohlc_events(p, slice_rows)
        os.utime(p, (now + k, now + k))

    def drain(src_dir: str, max_files: int | None):
        reader = spark.readStream.schema(
            "ts timestamp, event_id bigint, event_type string, value double"
        ).format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        sdf = reader.load(src_dir)
        order_key = F.struct(F.col("ts"), F.col("event_id"))
        agg = (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
            .agg(
                F.min_by("value", order_key).alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", order_key).alias("close"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select(F.col("w.start").alias("ws"), "event_type", "open",
                    "high", "low", "close", "n_events")
        )
        name = f"ohlc_{os.path.basename(src_dir)}_{max_files}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        return sorted(map(tuple, spark.table(name).collect())), n_batches

    got_one, _ = drain(one, None)
    got_split, n_batches = drain(split, 1)
    assert n_batches >= 3, f"expected >=3 data micro-batches, saw {n_batches}"
    assert got_one == got_split
    flushed = {(str(r[1]), float(r[2]), float(r[5])) for r in got_one}
    # minute-0 A bar: open=10 (f0), close=20 (f1), low absorbed late 3.0
    assert ("A", 10.0, 20.0) in flushed
    bar0 = [r for r in got_one if r[1] == "A" and r[6] == 4][0]
    assert float(bar0[4]) == 3.0  # the f2 late row reached the open bar
    # minute-1 B bar: same-ts tie broken by event_id on both paths
    assert ("B", 7.0, 9.0) in flushed


def test_stateless_stream_twins_invariant_to_batch_count(spark, tmp_path):
    """q7a/q7b/q8j's class: stateless stream-static
    row-local transforms — int8 SQ encode against a static (mn, mx)
    index, IVF cell assign against static centroids, and the Arrow-
    batched image decode probe — must be exactly batching-independent.
    Drive each over one file and over three files with
    maxFilesPerTrigger=1 and pin equal row sets."""
    import pandas as pd

    from tf_datapipeline_spark.functions.imagecodec import (
        decode_image,
        encode_ppm,
    )
    from tf_datapipeline_spark.sources.images import synthetic_pixels

    ids = list(range(9))
    one = str(tmp_path / "tw_one")
    split = str(tmp_path / "tw_split")
    os.makedirs(one), os.makedirs(split)

    def write(path, id_slice):
        pq.write_table(
            pa.table({"doc_id": pa.array(id_slice, type=pa.int64())}), path
        )

    write(os.path.join(one, "all.parquet"), ids)
    now = time.time()
    for k in range(3):
        p = os.path.join(split, f"f{k}.parquet")
        write(p, ids[3 * k : 3 * k + 3])
        os.utime(p, (now + k, now + k))

    def transforms(sdf):
        # q7a shape: per-row arithmetic against static broadcast literals
        sq = sdf.select(
            "doc_id",
            F.expr(
                "CAST(FLOOR((CAST(doc_id AS DOUBLE) - 0.0) / 8.0 * 255.0 + 0.5)"
                " AS INT)"
            ).alias("code"),
        )
        # q7b shape: argmax-cosine against two static centroids
        ivf = sdf.select(
            "doc_id",
            F.expr(
                "CASE WHEN CAST(doc_id AS DOUBLE) / 8.0 >= 0.5 THEN 1 ELSE 0 END"
            ).alias("cell"),
        )

        # q8j shape: the REAL Arrow-batched synthetic-pixels -> ppm ->
        # decode probe
        def probe(batches):
            for pdf in batches:
                out = []
                for d in pdf["doc_id"]:
                    arr = decode_image(encode_ppm(synthetic_pixels(int(d))), "ppm")
                    out.append((int(d), arr.shape[0], arr.shape[1]))
                yield pd.DataFrame(out, columns=["doc_id", "h", "w"])

        img = sdf.mapInPandas(probe, schema="doc_id bigint, h bigint, w bigint")
        return {"sq": sq, "ivf": ivf, "img": img}

    def drain(src_dir: str, max_files: int | None, kind: str):
        reader = spark.readStream.schema("doc_id bigint").format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        out = transforms(reader.load(src_dir))[kind]
        name = f"tw_{kind}_{os.path.basename(src_dir)}_{max_files}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        return sorted(map(tuple, spark.table(name).collect())), n_batches

    for kind in ("sq", "ivf", "img"):
        got_one, _ = drain(one, None, kind)
        got_split, n_batches = drain(split, 1, kind)
        assert n_batches >= 3, (kind, n_batches)
        assert got_one == got_split, kind
        assert len(got_one) == len(ids), kind


def _write_funnel_events(path: str, rows: list[tuple[int, int, int, str]]) -> None:
    """(ts_us, event_id, user_id, event_type) -> parquet."""
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([r[0] for r in rows], type=pa.timestamp("us")),
                "event_id": pa.array([r[1] for r in rows], type=pa.int64()),
                "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
                "event_type": pa.array([r[3] for r in rows], type=pa.string()),
            }
        ),
        path,
    )


def test_stream_funnel_invariant_to_batch_count(spark, tmp_path):
    """q4zk's class: the applyInPandasWithState
    first-touch funnel must reach the same per-user step whether input
    arrives in one batch or file-by-file (maxFilesPerTrigger=1, >= 3
    data batches), matching the batch-SQL ladder semantics. The split is
    adversarial for the CROSS-BATCH state merge: user 1 advances one
    step per FILE (view in f0, click in f1, purchase in f2 — every
    transition crosses a state boundary), user 2's click arrives in an
    earlier file than their view (must NOT count: the machine needs
    click strictly after first view, and the files land in event-time
    order per the ingest contract), user 3 re-views after converting
    (state must not regress), and user 4 purchases without ever
    clicking (stuck at step 1)."""
    from tf_datapipeline_spark.streaming.events_stream import _funnel_state

    m = 60_000_000  # one minute in micros
    rows = [
        # f0 — user 1 views; user 2 CLICKS (no view yet -> ignored);
        # user 3 views; user 4 views
        (_T0 + 0 * m, 1, 1, "view"),
        (_T0 + 1 * m, 2, 2, "click"),
        (_T0 + 2 * m, 3, 3, "view"),
        (_T0 + 3 * m, 4, 4, "view"),
        # f1 — user 1 clicks (cross-batch t1 state must exist); user 2
        # views (t1 set now; the earlier click stays unusable); user 3
        # clicks then purchases inside the batch; user 4 purchases
        # WITHOUT a click (must stay at step 1)
        (_T0 + 10 * m, 5, 1, "click"),
        (_T0 + 11 * m, 6, 2, "view"),
        (_T0 + 12 * m, 7, 3, "click"),
        (_T0 + 13 * m, 8, 3, "purchase"),
        (_T0 + 14 * m, 9, 4, "purchase"),
        # f2 — user 1 purchases (third batch advances to step 3);
        # user 3 views again post-conversion (no regression); user 2
        # clicks AFTER their view (now counts -> step 2)
        (_T0 + 20 * m, 10, 1, "purchase"),
        (_T0 + 21 * m, 11, 3, "view"),
        (_T0 + 22 * m, 12, 2, "click"),
    ]
    files = [rows[:4], rows[4:9], rows[9:]]
    one = str(tmp_path / "funnel_one")
    split = str(tmp_path / "funnel_split")
    os.makedirs(one), os.makedirs(split)
    _write_funnel_events(os.path.join(one, "all.parquet"), rows)
    now = time.time()
    for k, slice_rows in enumerate(files):
        p = os.path.join(split, f"f{k}.parquet")
        _write_funnel_events(p, slice_rows)
        os.utime(p, (now + k, now + k))

    def drain(src_dir: str, max_files: int | None):
        reader = spark.readStream.schema(
            "ts timestamp, event_id bigint, user_id bigint, event_type string"
        ).format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        staged = (
            reader.load(src_dir)
            .withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                _funnel_state,
                outputStructType="user_id bigint, step_reached int",
                stateStructType="t1 timestamp, t2 timestamp, t3 timestamp",
                outputMode="update",
                timeoutConf="NoTimeout",
            )
        )
        name = f"funnel_{os.path.basename(src_dir)}_{max_files}"
        q = (
            staged.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        # update mode re-emits a touched user each batch; the machine
        # only advances, so the final step is the per-user MAX
        final = {}
        for r in spark.table(name).collect():
            final[r.user_id] = max(final.get(r.user_id, 0), r.step_reached)
        return final, n_batches

    got_one, _ = drain(one, None)
    got_split, n_batches = drain(split, 1)
    assert n_batches >= 3, f"expected >=3 data micro-batches, saw {n_batches}"
    assert got_one == got_split
    # the hand-derivable ground truth (== what q4zi's batch SQL computes)
    assert got_one == {1: 3, 2: 2, 3: 3, 4: 1}


def test_stream_funnel_latency_state_invariant_to_batch_count(spark, tmp_path):
    """q4zn's state machine: the (t1, t2, t3) triples the latency twin
    emits must be identical whether input arrives in one batch or
    file-by-file, and must equal the hand-derived first-touch ground
    truth — the same adversarial split as the q4zk test (every user-1
    transition crosses a state boundary; user 2's pre-view click must
    stay unusable across the boundary)."""
    from tf_datapipeline_spark.streaming.events_stream import (
        _funnel_latency_state,
    )

    m = 60_000_000
    rows = [
        (_T0 + 0 * m, 1, 1, "view"),
        (_T0 + 1 * m, 2, 2, "click"),
        (_T0 + 2 * m, 3, 3, "view"),
        (_T0 + 3 * m, 4, 4, "view"),
        (_T0 + 10 * m, 5, 1, "click"),
        (_T0 + 11 * m, 6, 2, "view"),
        (_T0 + 12 * m, 7, 3, "click"),
        (_T0 + 13 * m, 8, 3, "purchase"),
        (_T0 + 14 * m, 9, 4, "purchase"),
        (_T0 + 20 * m, 10, 1, "purchase"),
        (_T0 + 21 * m, 11, 3, "view"),
        (_T0 + 22 * m, 12, 2, "click"),
    ]
    files = [rows[:4], rows[4:9], rows[9:]]
    one = str(tmp_path / "flat_one")
    split = str(tmp_path / "flat_split")
    os.makedirs(one), os.makedirs(split)
    _write_funnel_events(os.path.join(one, "all.parquet"), rows)
    now = time.time()
    for k, slice_rows in enumerate(files):
        p = os.path.join(split, f"f{k}.parquet")
        _write_funnel_events(p, slice_rows)
        os.utime(p, (now + k, now + k))

    def drain(src_dir: str, max_files: int | None):
        reader = spark.readStream.schema(
            "ts timestamp, event_id bigint, user_id bigint, event_type string"
        ).format("parquet")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        staged = (
            reader.load(src_dir)
            .withWatermark("ts", "1 hour")
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
        name = f"flat_{os.path.basename(src_dir)}_{max_files}"
        q = (
            staged.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        # a set timestamp is frozen forever -> per-user final = column MAX
        final: dict[int, tuple] = {}
        for r in spark.table(name).collect():
            prev = final.get(r.user_id, (None, None, None))
            final[r.user_id] = tuple(
                b if b is not None else a
                for a, b in zip(prev, (r.t1, r.t2, r.t3))
            )
        return final, n_batches

    got_one, _ = drain(one, None)
    got_split, n_batches = drain(split, 1)
    assert n_batches >= 3, f"expected >=3 data micro-batches, saw {n_batches}"
    assert got_one == got_split

    import datetime as dt

    def t(us):
        return dt.datetime.utcfromtimestamp(us / 1e6)

    assert got_one == {
        1: (t(_T0 + 0 * m), t(_T0 + 10 * m), t(_T0 + 20 * m)),
        2: (t(_T0 + 11 * m), t(_T0 + 22 * m), None),
        3: (t(_T0 + 2 * m), t(_T0 + 12 * m), t(_T0 + 13 * m)),
        4: (t(_T0 + 3 * m), None, None),
    }


def test_funnel_fold_skips_null_timestamps():
    """A null ts inside a batch must not freeze a
    funnel slot to NaT — numpy min over a set containing NaT is NaT,
    whereas the pre-vectorization sorted scan (NaT sorts last) picked
    the first VALID qualifying event. The fold must match the old scan."""
    import pandas as pd

    from tf_datapipeline_spark.operators.events import _FUNNEL_STEPS
    from tf_datapipeline_spark.streaming.events_stream import (
        _fold_funnel_batch,
    )

    class _State:
        exists = False

        def update(self, v):
            self.val = v

    s1, _s2, _s3 = _FUNNEL_STEPS
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([pd.NaT, "2031-01-01 00:01:00"]),
            "event_type": [s1, s1],
        }
    )
    t1, t2, t3 = _fold_funnel_batch(iter([pdf]), _State())
    assert t1 == pd.Timestamp("2031-01-01 00:01:00")
    assert t2 is None and t3 is None


def test_streams_read_multi_file_tables(spark, tmp_path):
    """A table stored as a Spark output directory (part files plus
    `_SUCCESS`) streams like a single-file table: with `documents`,
    `embeddings` and `events` each split into three part files, the
    stream queries over them return the same rows as over the single
    files. A stream source that only matched `<table>.parquet` file
    names read nothing from such a directory."""
    import shutil

    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import _norm_rows
    from tf_datapipeline_spark import catalog, registry

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    for name in catalog.TABLES:
        src, dst = catalog.table_path(SF_SMOKE, name), catalog.table_path(sf_dir, name)
        if name not in ("documents", "embeddings", "events"):
            shutil.copyfile(src, dst)
            continue
        t = pq.read_table(src)
        os.makedirs(dst)
        step = -(-t.num_rows // 3)
        for i in range(3):
            part = os.path.join(dst, f"part-{i:05d}-c000.snappy.parquet")
            pq.write_table(t.slice(i * step, step), part)
        open(os.path.join(dst, "_SUCCESS"), "w").close()

    qs = registry.queries()
    for n in (
        "q6c_stream_incremental_dedup",
        "q7b_stream_ivf_assign",
        "q4zk_stream_funnel",
    ):
        want, got = (qs[n](spark, d) for d in (SF_SMOKE, sf_dir))
        want_rows = _norm_rows([tuple(r) for r in want.collect()], want.columns)
        got_rows = _norm_rows([tuple(r) for r in got.collect()], got.columns)
        assert want_rows, f"{n}: no rows on the single-file tables"
        assert got.columns == want.columns
        assert got_rows == want_rows, (
            f"{n}: {len(got_rows)} rows over part files vs {len(want_rows)}"
        )


def test_bounded_stream_state_partitions_capped_at_slots(spark):
    """`run_bounded` starts a stateful stream (q4zk) with its state
    store in `min(shuffle.partitions, defaultParallelism)` partitions,
    as its `StateOperatorProgress` reports, and leaves the session's
    `spark.sql.shuffle.partitions` as it found it — also when `start()`
    raises."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql.streaming import StreamingQueryListener

    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.streaming.events_stream import (
        read_events_stream,
        run_bounded,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    slots = spark.sparkContext.defaultParallelism
    progress, terminated = [], []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(event.progress)

        def onQueryTerminated(self, event):
            terminated.append(event.id)

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        registry.queries()["q4zk_stream_funnel"](spark, SF_SMOKE).collect()
        # listener events arrive asynchronously, the query's own in order
        deadline = time.time() + 60
        while not terminated and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert terminated, "no QueryTerminatedEvent within 60 s"
    parts = {
        op.numShufflePartitions
        for p in progress
        if p.id == terminated[0]
        for op in p.stateOperators
    }
    assert parts == {min(int(before), slots)}, parts
    assert spark.conf.get(key) == before

    # append mode over an aggregation without a watermark: start() raises
    unsupported = read_events_stream(spark, SF_SMOKE).groupBy("user_id").count()
    with pytest.raises(AnalysisException):
        run_bounded(unsupported, "append")
    assert spark.conf.get(key) == before


def test_stateful_stream_restart_keeps_checkpointed_partitions(spark, tmp_path):
    """A checkpointed stateful stream (q4zk's funnel state machine) run
    once under `shuffle.partitions` 8, then resumed from the same
    checkpoint under 4 after a file lands, gives the same per-user steps
    as one uninterrupted run. The resumed run keeps 8 state partitions:
    Spark pins the count in the checkpoint's offset log, so the state
    the first run wrote is read back by the same key partitioning."""
    from tf_datapipeline_spark.streaming.events_stream import _funnel_state

    m = 60_000_000  # one minute in micros
    first = [
        (_T0 + 0 * m, 1, 1, "view"),
        (_T0 + 1 * m, 2, 2, "click"),
        (_T0 + 2 * m, 3, 3, "view"),
        (_T0 + 3 * m, 4, 4, "view"),
        (_T0 + 4 * m, 5, 1, "click"),
    ]
    second = [
        (_T0 + 10 * m, 6, 1, "purchase"),
        (_T0 + 11 * m, 7, 2, "view"),
        (_T0 + 12 * m, 8, 3, "click"),
        (_T0 + 13 * m, 9, 2, "click"),
        (_T0 + 14 * m, 10, 4, "purchase"),
    ]
    resumed_src, whole_src = str(tmp_path / "resumed"), str(tmp_path / "whole")
    os.makedirs(resumed_src), os.makedirs(whole_src)
    _write_funnel_events(os.path.join(whole_src, "all.parquet"), first + second)

    def drain(src_dir: str, ck: str, partitions: str) -> tuple[dict, set]:
        steps: dict[int, int] = {}

        def keep(batch_df, batch_id: int) -> None:
            # update mode re-emits a touched user; the machine only advances
            for r in batch_df.collect():
                steps[r.user_id] = max(steps.get(r.user_id, 0), r.step_reached)

        staged = (
            spark.readStream.schema(
                "ts timestamp, event_id bigint, user_id bigint, event_type string"
            )
            .parquet(src_dir)
            .withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                _funnel_state,
                outputStructType="user_id bigint, step_reached int",
                stateStructType="t1 timestamp, t2 timestamp, t3 timestamp",
                outputMode="update",
                timeoutConf="NoTimeout",
            )
        )
        key = "spark.sql.shuffle.partitions"
        saved = spark.conf.get(key)
        spark.conf.set(key, partitions)
        try:
            q = (
                staged.writeStream.foreachBatch(keep)
                .outputMode("update")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set(key, saved)
        q.awaitTermination()
        parts = {
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        }
        return steps, parts

    ck = str(tmp_path / "ck")
    _write_funnel_events(os.path.join(resumed_src, "f0.parquet"), first)
    steps, parts = drain(resumed_src, ck, "8")
    assert parts == {8}, parts
    p = os.path.join(resumed_src, "f1.parquet")
    _write_funnel_events(p, second)
    later = time.time() + 5  # the file source lists oldest mtime first
    os.utime(p, (later, later))
    resumed, parts = drain(resumed_src, ck, "4")
    assert parts == {8}, parts
    for user, step in resumed.items():
        steps[user] = max(steps.get(user, 0), step)

    whole, _ = drain(whole_src, str(tmp_path / "ck_whole"), "4")
    assert steps == whole == {1: 3, 2: 2, 3: 2, 4: 1}


def test_bounded_streams_leave_no_sink_views(spark):
    """Each `run_bounded` call drops its memory sink's temp view once the
    result frame is bound: after two q4zk runs no `stream_sink_*` table is
    listed, and both results still read the same rows."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    fn = registry.queries()["q4zk_stream_funnel"]
    first, second = fn(spark, SF_SMOKE), fn(spark, SF_SMOKE)
    sinks = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("stream_sink_")
    ]
    assert sinks == [], sinks
    rows = sorted(first.collect())
    assert rows and rows == sorted(second.collect())
