"""Invariant pins for the event-analytics operators (operators/events.py
and their streaming twins): totals conserved against independent
recomputation, monotone ladders and brute-force order statistics that
an oracle's result hash cannot restate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def test_retention_triangle_conserves_cohorts(spark):
    """q4ze: offset-0 actives == cohort size for every cohort (everyone
    is active in their first week), retention in (0, 1], and total
    cohort sizes == distinct users."""
    from tf_datapipeline_spark.operators.events import q4ze_retention_triangle

    rows = q4ze_retention_triangle(spark, SF_SMOKE).collect()
    assert rows
    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    cohorts = {}
    for r in rows:
        assert 0.0 < r.retention <= 1.0
        assert r.week_offset >= 0
        cohorts[r.cohort_week] = r.cohort_size
        if r.week_offset == 0:
            assert r.n_active == r.cohort_size, r
    assert sum(cohorts.values()) == n_users


def test_rfm_segments_partition_users(spark):
    """q4zf: the segment grid partitions the user universe exactly, every
    quintile label is in 1..5, and each metric's quintile populations are
    balanced (|bucket| within 1 of n/5 — the row_number construction)."""
    from tf_datapipeline_spark.operators.events import q4zf_rfm_segments

    rows = q4zf_rfm_segments(spark, SF_SMOKE).collect()
    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    assert sum(r.n_users for r in rows) == n_users
    for metric in ("r_q", "f_q", "m_q"):
        per = {}
        for r in rows:
            q = getattr(r, metric)
            assert 1 <= q <= 5, (metric, q)
            per[q] = per.get(q, 0) + r.n_users
        lo, hi = n_users // 5, -(-n_users // 5)
        for q, n in per.items():
            assert lo <= n <= hi, (metric, q, n, n_users)


def test_attribution_conserves_purchases(spark):
    """q4zg: attributed purchases and cents sum to the purchase totals —
    attribution reassigns credit, never creates or destroys it."""
    from tf_datapipeline_spark.operators.events import q4zg_attribution

    rows = q4zg_attribution(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("event_type") == "purchase"
    )
    want = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents"),
    ).collect()[0]
    assert sum(r.n_purchases for r in rows) == want.n
    assert sum(r.total_cents for r in rows) == want.cents
    channels = {r.channel for r in rows}
    assert channels <= {"direct", "ch0", "ch1", "ch2", "ch3", "ch4"}


def test_temporal_leakage_partitions_events(spark):
    """q4zh: n_train + n_test == events per type, and leaky test events
    are a subset of test events."""
    from tf_datapipeline_spark.operators.events import q4zh_temporal_leakage

    rows = q4zh_temporal_leakage(spark, SF_SMOKE).collect()
    per_type = {
        r.event_type: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.event_type for r in rows} == set(per_type)
    for r in rows:
        assert r.n_train + r.n_test == per_type[r.event_type]
        assert 0 <= r.n_test_from_seen_users <= r.n_test


def test_funnel_ladder_monotone_and_stream_twin_agrees(spark):
    """q4zi/q4zk: the ladder is monotone non-increasing (step k+1 users
    are a subset of step k users by construction), conversion ratios sit
    in [0, 1] with conv_prev(1) == 1, and the streaming state-machine
    twin reproduces the batch ladder ROW FOR ROW on bounded input."""
    from tf_datapipeline_spark.operators.events import q4zi_conversion_funnel
    from tf_datapipeline_spark.streaming.events_stream import q4zk_stream_funnel

    batch = sorted(q4zi_conversion_funnel(spark, SF_SMOKE).collect())
    assert [r.step for r in batch] == [1, 2, 3]
    for a, b in zip(batch, batch[1:]):
        assert b.n_users <= a.n_users, (a, b)
    assert batch[0].conv_prev == 1.0
    for r in batch:
        if r.conv_prev is not None:
            assert 0.0 <= r.conv_prev <= 1.0, r
        if r.conv_start is not None:
            assert 0.0 <= r.conv_start <= 1.0, r

    stream = sorted(q4zk_stream_funnel(spark, SF_SMOKE).collect())
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_entry_path_shares_sum_to_one(spark):
    """q4zj: every user lands in exactly one path — n_users sums to the
    distinct-user universe, shares sum to 1 (exactly, up to one IEEE
    rounding per path), and each path is a 3-field ' > ' string."""
    from tf_datapipeline_spark.operators.events import q4zj_entry_paths

    rows = q4zj_entry_paths(spark, SF_SMOKE).collect()
    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    assert sum(r.n_users for r in rows) == n_users
    assert abs(sum(r.user_share for r in rows) - 1.0) < 1e-9 * len(rows)
    for r in rows:
        assert len(r.path.split(" > ")) == 3, r.path
        assert r.user_share > 0.0


def test_ab_uplift_conserves_variant_split(spark):
    """q4zl: the deterministic hash split partitions the user universe
    (n_a + n_b == distinct users), converters are subsets of their
    variant, and the published rates/uplift are exactly the ratios of
    the published integer counts."""
    from tf_datapipeline_spark.operators.events import q4zl_ab_uplift

    r = q4zl_ab_uplift(spark, SF_SMOKE).collect()[0]
    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    assert r.n_a + r.n_b == n_users
    assert 0 <= r.conv_a_users <= r.n_a
    assert 0 <= r.conv_b_users <= r.n_b
    assert r.rate_a == r.conv_a_users / r.n_a
    assert r.rate_b == r.conv_b_users / r.n_b
    assert r.uplift == r.rate_b - r.rate_a
    if r.z_stat is not None:
        # z sign must agree with the uplift sign
        assert (r.z_stat >= 0) == (r.uplift >= 0)
