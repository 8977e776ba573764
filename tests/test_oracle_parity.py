"""The local mirror of the driver's t2 correctness gate: every registered
query with an oracle twin must match DuckDB exactly at sf0.001 (fast) —
the driver runs the same comparison at sf0.01."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare
from tf_datapipeline_spark import registry


def _pairs():
    q = registry.queries()
    o = registry.oracle_sql()
    return [(name, q[name], o[name]) for name in sorted(o)]


@pytest.mark.slow
@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_oracle_parity(spark, name, fn, sql):
    compare(fn(spark, SF_SMOKE), sql, SF_SMOKE, name=name)


@pytest.mark.slow
def test_every_query_runs(spark):
    """Rows-only queries (no oracle) must still execute and return a schema."""
    q = registry.queries()
    o = registry.oracle_sql()
    for name in sorted(set(q) - set(o)):
        df = q[name](spark, SF_SMOKE)
        assert df.columns, name
        df.limit(5).collect()


def test_harness_is_type_sensitive(spark):
    """The local gate must catch DuckDB width divergence (HUGEINT from an
    uncast SUM vs Spark bigint) — the class that once cost seven driver
    rows on bit-identical values. compare() has to fail an
    intentionally uncast SUM twin BEFORE any value comparison."""
    df = spark.range(3).selectExpr("sum(id) AS s")
    with pytest.raises(AssertionError, match="type-width"):
        compare(df, "SELECT SUM(r_regionkey) AS s FROM region", SF_SMOKE, "uncast")


def test_events_ts_is_ntz(spark):
    """events.ts must load as TIMESTAMP_NTZ — the exact type DuckDB reads
    for the driver testdata's naive parquet timestamps — regardless of the
    storage era (nanos-bigint legacy vs plain microseconds). Guards the
    regression where a type drift broke 6 gate rows + 12 tests."""
    from pyspark.sql.types import TimestampNTZType

    from tf_datapipeline_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)


def test_batch_equals_streaming_windows(spark):
    """Batch q40 and streaming q47 share one oracle; they must also agree
    with each other row-for-row AND schema-for-schema — a divergence here
    is the silent event-time corruption class (a stream reader once
    divided microseconds by 1000 and only the oracle caught it)."""
    from tf_datapipeline_spark.operators.events import q40_tumbling_window
    from tf_datapipeline_spark.streaming.events_stream import (
        q47_stream_tumbling_window,
    )

    batch = q40_tumbling_window(spark, SF_SMOKE)
    stream = q47_stream_tumbling_window(spark, SF_SMOKE)
    assert batch.dtypes == stream.dtypes
    assert sorted(map(tuple, batch.collect())) == sorted(
        map(tuple, stream.collect())
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_events_nanos_era_compat(spark, tmp_path):
    """The first testdata stored events.ts as TIMESTAMP(NANOS); a later
    regeneration switched to plain microseconds and broke 6 gate rows.
    Both batch and streaming readers must keep handling BOTH eras: this
    synthesizes a nanos-era events table and checks the catalog
    normalizes it to the same TIMESTAMP_NTZ microsecond instants the
    current era produces (nanos truncate, never divide-shift)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType

    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.streaming.events_stream import (
        read_events_stream,
        run_bounded,
    )

    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [
                    1704067200_123456789,  # .123456789s -> truncates to .123456
                    1704067260_000000001,
                    1704067320_999999999,  # never rounds up
                ],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([1, 2, 1], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(['{"k":1}', '{"k":2}', '{"k":3}']),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"), store_schema=False)

    ev = load_table(spark, str(tmp_path), "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    micros = [
        r.ts.isoformat() for r in ev.orderBy("event_id").collect()
    ]
    assert micros == [
        "2024-01-01T00:00:00.123456",
        "2024-01-01T00:01:00",
        "2024-01-01T00:02:00.999999",
    ]

    streamed = run_bounded(
        read_events_stream(spark, str(tmp_path)).select("event_id", "ts"),
        "append",
    )
    got = {
        r.event_id: r.ts.replace(tzinfo=None).isoformat()
        for r in streamed.collect()
    }
    assert got == {
        1: "2024-01-01T00:00:00.123456",
        2: "2024-01-01T00:01:00",
        3: "2024-01-01T00:02:00.999999",
    }


def test_events_tzaware_era_compat(spark, tmp_path):
    """Third storage era the catalog guards: tz-aware TIMESTAMP. Under
    the UTC session the cast to TIMESTAMP_NTZ must preserve the instant
    exactly — batch and streaming alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType

    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.streaming.events_stream import (
        read_events_stream,
        run_bounded,
    )

    t = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [1704067200_123456, 1704067260_000001], pa.timestamp("us", tz="UTC")
            ),
            "user_id": pa.array([1, 2], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))

    ev = load_table(spark, str(tmp_path), "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    batch = [r.ts.isoformat() for r in ev.orderBy("event_id").collect()]
    assert batch == ["2024-01-01T00:00:00.123456", "2024-01-01T00:01:00.000001"]

    streamed = run_bounded(
        read_events_stream(spark, str(tmp_path)).select("event_id", "ts"), "append"
    )
    got = {
        r.event_id: r.ts.replace(tzinfo=None).isoformat() for r in streamed.collect()
    }
    assert got == {1: "2024-01-01T00:00:00.123456", 2: "2024-01-01T00:01:00.000001"}


def test_gate_window_is_gate_order():
    """The driver value-checks the FIRST 50 entries of queries() — that
    slice must be exactly GATE_ORDER (the curated cross-family window),
    in order, and every one must carry an oracle twin (a rows-only row
    in the window would waste a value-check slot)."""
    from tf_datapipeline_spark import registry

    names = list(registry.queries())
    assert names[: len(registry.GATE_ORDER)] == registry.GATE_ORDER
    oracled = set(registry.oracle_sql())
    missing = [n for n in registry.GATE_ORDER if n not in oracled]
    assert not missing, f"gate rows without oracles: {missing}"


def test_stream_ohlc_is_flushed_subset_of_batch(spark):
    """q4o (streaming OHLC, append mode) must emit exactly the q4n batch
    bars whose window end the watermark passed — same values, nothing
    extra, nothing reordered. Pins batch/stream event-time agreement for
    the min_by/max_by open-close state (the q40==q47 pin covers plain
    sums; ordered-pick aggregates are a separate failure class)."""
    from tf_datapipeline_spark.operators.events import q4n_ohlc_bars
    from tf_datapipeline_spark.streaming.events_stream import q4o_stream_ohlc

    batch = {
        (r.event_type, r.bar_ts): (r.open, r.high, r.low, r.close, r.n_events)
        for r in q4n_ohlc_bars(spark, SF_SMOKE).collect()
    }
    stream_rows = q4o_stream_ohlc(spark, SF_SMOKE).collect()
    assert stream_rows, "watermark flushed no bars — cutoff modeling broke"
    for r in stream_rows:
        assert batch[(r.event_type, r.bar_ts)] == (
            r.open,
            r.high,
            r.low,
            r.close,
            r.n_events,
        ), (r.event_type, r.bar_ts)
    assert len(stream_rows) < len(batch), "append mode must hold back tail bars"
