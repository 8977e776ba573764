"""Negative-epoch (pre-1970) parity for the epoch-keyed event queries.

Pins the floor-division convention: DuckDB's `//`
TRUNCATES toward zero (-86401 // 86400 = -1), while the engine keys
days/weeks with F.floor (-2). The oracles therefore spell every such
division as CAST(FLOOR(x / d) AS BIGINT); this test would catch either
side regressing to the other convention — the shipped corpora are all
post-1970, where the two agree, so only a negative-epoch corpus can see
the divergence. `%` is trunc-remainder in BOTH engines and needs no
device (also pinned here).

Strategy: clone sf0.001, overwrite events.parquet with a deterministic
corpus straddling the epoch (1969 and 1970 timestamps, fractional
seconds, day/week boundaries ±1s), then run each affected registered
query through the exact local oracle gate.
"""

from __future__ import annotations

import datetime
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare
from tf_datapipeline_spark import registry

# Queries keyed on floor(epoch/86400) / floor(eday/7): the q4zb device.
# q4zc (streaming) shares _seasonal_keyed AND the oracle keyed CTE
# (events.seasonal_keyed_ctes, one string) — included anyway
# so the parity holds even if the sharing is ever undone; q4zg/q4zh
# subtract epochs with no division and are unaffected.
AFFECTED = [
    "q4zb_seasonal_baseline",
    "q4zc_stream_anomaly_alerts",
    "q4zd_user_growth",
    "q4ze_retention_triangle",
    "q4zf_rfm_segments",
]

_EPOCH = datetime.datetime(1970, 1, 1)


def _make_events() -> pa.Table:
    """Deterministic events straddling the epoch: every (day, week,
    hour) boundary ±1s and ±0.5s on both sides, several users so the
    cohort/RFM shapes have real groups."""
    rows = []
    eid = 0
    offsets = [
        -14 * 86400 - 1, -14 * 86400, -8 * 86400 + 3600,
        -7 * 86400 - 1, -7 * 86400, -86401, -86400, -43200,
        -3601, -3600, -2, -1, 0, 1, 3599, 3600, 43200,
        86399, 86400, 86401, 7 * 86400 - 1, 7 * 86400, 14 * 86400,
    ]
    types = ["click", "purchase", "error"]
    for u in range(5):
        for i, off in enumerate(offsets):
            # fractional seconds exercise the sub-second floor too
            micros = (off * 1_000_000) + (250_000 if (u + i) % 2 else 0)
            rows.append(
                {
                    "event_id": eid,
                    "ts": _EPOCH + datetime.timedelta(microseconds=micros),
                    "user_id": u + 1,
                    "event_type": types[(u + i) % 3],
                    "value": round(1.0 + 0.37 * ((eid * 7919) % 100), 2),
                    "props": "{}",
                }
            )
            eid += 1
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    return pa.Table.from_pylist(rows, schema=schema)


@pytest.fixture(scope="module")
def neg_sf_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("neg_epoch") / "sf"
    shutil.copytree(SF_SMOKE, dst)
    pq.write_table(_make_events(), dst / "events.parquet")
    return str(dst)


@pytest.mark.parametrize("name", AFFECTED)
def test_negative_epoch_parity(spark, neg_sf_dir, name):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    compare(q(spark, neg_sf_dir), sql, neg_sf_dir, name=name)


def test_trunc_remainder_matches(spark, neg_sf_dir):
    """Pin that `%` is trunc-remainder in BOTH engines (the part of the
    convention that needs NO device): raw (es % 86400) per event_id."""
    import duckdb

    import pyspark.sql.functions as F

    from tf_datapipeline_spark.catalog import load_table

    ev = load_table(spark, neg_sf_dir, "events")
    es = F.col("ts").cast("timestamp").cast("long")
    got = {
        r["event_id"]: r["r"]
        for r in ev.select("event_id", (es % 86400).alias("r")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400 "
            f"FROM read_parquet('{neg_sf_dir}/events.parquet')"
        ).fetchall()
    )
    con.close()
    assert got == want
