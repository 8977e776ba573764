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


def test_funnel_latency_agrees_with_ladder_and_order_statistics(spark):
    """q4zm: (1) each transition's n_users equals q4zi's ladder count
    for the same step (the two ops share _funnel_first_touch — this
    pins that the latency explode neither drops nor duplicates
    converters), (2) min <= p50 <= max and min <= avg <= max, (3) the
    p50 is the exact FLOOR((n+1)/2)-th smallest latency recomputed
    independently from the collected first-touch table."""
    from tf_datapipeline_spark.operators.events import (
        _funnel_first_touch,
        q4zi_conversion_funnel,
        q4zm_funnel_latency,
    )

    ladder = {r.step: r.n_users for r in q4zi_conversion_funnel(spark, SF_SMOKE).collect()}
    rows = {r.step: r for r in q4zm_funnel_latency(spark, SF_SMOKE).collect()}
    assert set(rows) <= {2, 3}
    ev = load_table(spark, SF_SMOKE, "events")
    ft = _funnel_first_touch(ev).collect()
    for step, (a, b) in {2: ("t1", "t2"), 3: ("t2", "t3")}.items():
        lats = sorted(
            int((getattr(r, b) - getattr(r, a)).total_seconds() * 1_000_000)
            for r in ft
            if getattr(r, b) is not None
        )
        if not lats:
            assert step not in rows
            continue
        r = rows[step]
        assert r.n_users == ladder[step] == len(lats)
        med = lats[(len(lats) + 1) // 2 - 1]
        assert r.p50_s == med / 1e6, (r.p50_s, med)
        assert r.min_s == lats[0] / 1e6 and r.max_s == lats[-1] / 1e6
        assert r.min_s <= r.p50_s <= r.max_s
        assert r.min_s <= r.avg_s <= r.max_s


def test_periodicity_scores_match_independent_autocorrelation(spark):
    """q4zo: 48 lag rows whose n_terms walk down the contiguous hour
    spine (n_terms = |spine| - lag), whose rnk is a permutation of
    1..48 ordered by (score DESC, lag ASC), and whose scores equal an
    independent Python autocorrelation over hourly counts recomputed
    from the raw events."""
    from tf_datapipeline_spark.operators.events import (
        _PERIOD_MAX_LAG,
        q4zo_periodicity,
    )

    rows = sorted(q4zo_periodicity(spark, SF_SMOKE).collect())
    assert [r.lag for r in rows] == list(range(1, _PERIOD_MAX_LAG + 1))
    assert sorted(r.rnk for r in rows) == list(range(1, _PERIOD_MAX_LAG + 1))
    ranked = sorted(rows, key=lambda r: (-r.score, r.lag))
    assert [r.rnk for r in ranked] == list(range(1, _PERIOD_MAX_LAG + 1))

    ev = load_table(spark, SF_SMOKE, "events").select("ts").collect()
    import calendar

    counts: dict[int, int] = {}
    for r in ev:
        es = calendar.timegm(r.ts.timetuple())
        eh = es // 3600
        counts[eh] = counts.get(eh, 0) + 1
    lo, hi = min(counts), max(counts)
    c = [counts.get(t, 0) for t in range(lo, hi + 1)]
    n = len(c)
    for r in rows:
        expect = sum(c[t] * c[t + r.lag] for t in range(n - r.lag))
        assert r.score == expect, r.lag
        assert r.n_terms == n - r.lag


def test_cusum_changepoint_matches_bruteforce(spark):
    """q4zp: per type, the reported changepoint equals an independent
    Python brute-force argmax of |T*cum_t - t*N| over the daily series
    (earliest-day ties), and the normalized magnitude sits in [0, 1)."""
    from tf_datapipeline_spark.operators.events import (
        q4zp_cusum_changepoint,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.floor(
                F.col("ts").cast("timestamp").cast("long") / 86400.0
            ).cast("bigint").alias("eday"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.eday, r.n))
    expected = {}
    for et, days in series.items():
        days.sort()
        total = sum(n for _, n in days)
        t_days = len(days)
        cum, best = 0, None
        for t, (eday, n) in enumerate(days, start=1):
            cum += n
            d = t_days * cum - t * total
            if best is None or abs(d) > abs(best[1]):
                best = (eday, d)
        expected[et] = best
    got = {r.event_type: r for r in q4zp_cusum_changepoint(spark, SF_SMOKE).collect()}
    assert set(got) == set(expected)
    for et, (eday, d) in expected.items():
        assert (got[et].cp_eday, got[et].cp_stat) == (eday, d), et
        assert 0.0 <= got[et].cp_norm < 1.0
