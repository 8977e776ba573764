"""Invariant pins for the window operators (operators/window.py): digest
row conservation and the moving median against a brute-force frame."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def test_window_digests_conserve_rowcounts(spark):
    """q2a/q2b/q2c: the digests' per-group n sums equal the base-table
    row counts — the digest covers the FULL per-row output."""
    from tf_datapipeline_spark.operators.window import (
        q2a_window_digest_running,
        q2b_window_digest_lag,
        q2c_window_digest_ranks,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").count()
    od = load_table(spark, SF_SMOKE, "orders").count()
    cu = load_table(spark, SF_SMOKE, "customer").count()
    assert sum(r.n for r in q2a_window_digest_running(spark, SF_SMOKE).collect()) == li
    assert sum(r.n for r in q2b_window_digest_lag(spark, SF_SMOKE).collect()) == od
    assert sum(r.n for r in q2c_window_digest_ranks(spark, SF_SMOKE).collect()) == cu


def test_moving_median_equals_bruteforce_at_frame_edges(spark):
    """q2d: for every row of a handful of customers, the published
    moving median equals a Python brute-force over the trailing-5 frame
    — including the short head frames (n=1..4) where the lower/upper
    order-statistic indexing is most fragile."""
    from tf_datapipeline_spark.operators.window import q2d_moving_median

    out = q2d_moving_median(spark, SF_SMOKE)
    custs = [r.o_custkey for r in out.select("o_custkey").distinct().limit(5).collect()]
    got = {
        (r.o_custkey, r.o_orderkey): (r.n_frame, r.moving_median)
        for r in out.filter(F.col("o_custkey").isin(custs)).collect()
    }
    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_custkey").isin(custs))
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    )
    by_cust: dict[int, list] = {}
    for r in sorted(orders, key=lambda r: (r.o_custkey, r.o_orderdate, r.o_orderkey)):
        by_cust.setdefault(r.o_custkey, []).append(r)
    checked = 0
    for ck, rs in by_cust.items():
        for i, r in enumerate(rs):
            frame = sorted(x.cents for x in rs[max(0, i - 4) : i + 1])
            n = len(frame)
            want = (frame[(n - 1) // 2] + frame[n // 2]) / 200.0
            nf, med = got[(ck, r.o_orderkey)]
            assert nf == n
            assert med == want, (ck, r.o_orderkey, frame, med, want)
            checked += 1
    assert checked == len(got)
