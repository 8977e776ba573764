"""Invariant pins for the table-layout operators (operators/layout.py):
file-level row conservation, manifest statuses, optimistic-concurrency
verdicts, the Hilbert curve and its pruning, last-writer-wins upserts
and time-travel history."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def test_partition_evolution_actions_consistent(spark):
    """q9l: rows conserved across files, action matches n_targets, and
    every file has >= 1 target."""
    from tf_datapipeline_spark.operators.layout import q9l_partition_evolution

    rows = q9l_partition_evolution(spark, SF_SMOKE).collect()
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r.n_rows for r in rows) == n_orders
    for r in rows:
        assert r.n_targets >= 1
        assert r.action == ("move" if r.n_targets == 1 else "rewrite")


def test_manifest_diff_statuses_partition(spark):
    """q9m: statuses are consistent with the per-file row/cents deltas,
    and version totals reconcile against the IVM snapshot definitions."""
    from tf_datapipeline_spark.operators.layout import q9m_manifest_diff

    rows = q9m_manifest_diff(spark, SF_SMOKE).collect()
    orders = load_table(spark, SF_SMOKE, "orders")
    v1_rows = orders.filter(F.col("o_orderkey") % 10 != 0).count()
    v2_rows = orders.filter(F.col("o_orderkey") % 10 != 1).count()
    assert sum(r.rows_v1 for r in rows) == v1_rows
    assert sum(r.rows_v2 for r in rows) == v2_rows
    for r in rows:
        if r.status == "added":
            assert r.rows_v1 == 0 and r.rows_v2 > 0
        elif r.status == "removed":
            assert r.rows_v2 == 0 and r.rows_v1 > 0
        elif r.status == "unchanged":
            assert (r.rows_v1, r.cents_v1) == (r.rows_v2, r.cents_v2)
        else:
            assert r.status == "rewritten"
            assert (r.rows_v1, r.cents_v1) != (r.rows_v2, r.cents_v2)


def test_occ_verdict_matches_footprint_intersection(spark):
    """q9n: verdict is 'conflict' exactly when the two transactions'
    file footprints intersect; the intersection is bounded by each
    side's footprint; rows_to_rebase is positive iff files conflict
    (every manifest file covers >= 1 row)."""
    from tf_datapipeline_spark.operators.layout import q9n_occ_conflicts

    rows = q9n_occ_conflicts(spark, SF_SMOKE).collect()
    assert rows
    verdicts = {r.verdict for r in rows}
    assert verdicts <= {"conflict", "commit-both"}
    for r in rows:
        assert r.files_conflict <= min(r.files_txn_a, r.files_txn_b)
        assert (r.verdict == "conflict") == (r.files_conflict > 0), r
        assert (r.rows_to_rebase > 0) == (r.files_conflict > 0), r
        assert r.rows_to_rebase >= r.files_conflict  # >= 1 row per file


def test_hilbert_index_is_a_true_space_filling_curve():
    """q9o: the unrolled xy2d chain is a BIJECTION onto 0..GRID^2-1 and
    consecutive d values are grid-adjacent (|dx|+|dy| = 1) — the two
    defining Hilbert properties; both engines agreeing on a WRONG walk
    would still pass oracle parity, so this pins the curve itself.
    Checked over the full 256x256 grid in DuckDB (no Spark needed —
    the SQL text is dialect-shared arithmetic)."""
    import duckdb

    from tf_datapipeline_spark.operators.layout import _GRID, _hilbert_rounds

    q = f"""
    WITH grid AS (
      SELECT CAST(a.a AS BIGINT) AS xb, CAST(b.b AS BIGINT) AS yb
      FROM (SELECT unnest(range({_GRID})) a) a,
           (SELECT unnest(range({_GRID})) b) b
    ),
    h0 AS (SELECT xb, yb, xb AS x, yb AS y, CAST(0 AS BIGINT) AS d FROM grid),
    {_hilbert_rounds()},
    pts AS (SELECT xb, yb, d FROM h8)
    SELECT
      (SELECT COUNT(DISTINCT d) FROM pts) AS distinct_d,
      (SELECT MIN(d) FROM pts) AS min_d,
      (SELECT MAX(d) FROM pts) AS max_d,
      (SELECT COUNT(*) FROM (
         SELECT xb, yb,
                LEAD(xb) OVER (ORDER BY d) AS nx,
                LEAD(yb) OVER (ORDER BY d) AS ny
         FROM pts) s
       WHERE nx IS NOT NULL AND abs(nx - xb) + abs(ny - yb) <> 1)
        AS non_unit_steps
    """
    distinct_d, min_d, max_d, bad = duckdb.sql(q).fetchone()
    assert distinct_d == _GRID * _GRID
    assert (min_d, max_d) == (0, _GRID * _GRID - 1)
    assert bad == 0


def test_hilbert_layout_prunes_soundly(spark):
    """q9o: pruning soundness — every matching row lives in a scanned
    file for BOTH layouts (rows_scanned >= matching_rows), scanned file
    counts never exceed the layout's file total, and both layouts see
    the same ground truth."""
    from tf_datapipeline_spark.operators.layout import q9o_hilbert_layout

    r = q9o_hilbert_layout(spark, SF_SMOKE).collect()[0]
    assert r.hilbert_files_scanned <= r.n_files_hilbert
    assert r.z_files_scanned <= r.n_files_z
    assert r.hilbert_rows_scanned >= r.matching_rows
    assert r.z_rows_scanned >= r.matching_rows
    assert r.hilbert_box_area > 0 and r.z_box_area > 0


def test_lww_upsert_matches_independent_log_replay(spark):
    """q9p: the per-winning-commit audit equals an independent Python
    replay of the synthesized 4-commit log (build log, keep the
    max-commit event per key, aggregate) — and key conservation holds:
    the winner rows partition the full key set."""
    import math as _math

    from tf_datapipeline_spark.operators.layout import q9p_lww_upsert

    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    log: dict[int, tuple[int, str, int | None]] = {}

    def event(k, commit, op, cents):
        cur = log.get(k)
        if cur is None or commit > cur[0]:
            log[k] = (commit, op, cents)

    for r in orders:
        k, p = r.o_orderkey, r.o_totalprice
        event(k, 1, "u", _math.floor(p * 100))
        if k % 5 == 0:
            event(k, 2, "u", _math.floor(p * 1.05 * 100))
        if k % 11 == 3 and k % 5 != 0:
            event(k, 2, "d", None)
        if k % 7 == 1:
            event(k, 3, "u", _math.floor(p * 1.1 * 100))
        if k % 22 == 3 and k % 7 != 1:
            event(k, 3, "u", _math.floor(p * 1.2 * 100))
        if k % 13 == 2:
            event(k, 4, "d", None)
    expect: dict[tuple[int, str], list[int]] = {}
    for commit, op, cents in log.values():
        e = expect.setdefault((commit, op), [0, 0])
        e[0] += 1
        if cents is not None:
            e[1] += cents

    rows = q9p_lww_upsert(spark, SF_SMOKE).collect()
    got = {
        (r.winner_commit, r.op): (r.n_keys, r.cents_sum) for r in rows
    }
    assert got == {
        k: (n, s if k[1] == "u" else None) for k, (n, s) in expect.items()
    }
    assert sum(r.n_keys for r in rows) == len(orders)


def test_time_travel_history_consistent(spark):
    """q9q: (1) version 1 is the initial load — n_live equals the orders
    row count with zero tombstones; (2) live + tombstoned keys is
    constant across versions (keys never vanish from the resolved
    state, they only flip arms); (3) the final version's live rows agree
    with q9p's LWW winners (count and cents) — the as-of read at the
    head IS the latest state."""
    from tf_datapipeline_spark.operators.layout import (
        q9p_lww_upsert,
        q9q_time_travel,
    )

    hist = {r.version: r for r in q9q_time_travel(spark, SF_SMOKE).collect()}
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert hist[1].n_live == n_orders and hist[1].n_tombstoned == 0
    totals = {v.n_live + v.n_tombstoned for v in hist.values()}
    assert totals == {n_orders}
    lww = q9p_lww_upsert(spark, SF_SMOKE).collect()
    live = [r for r in lww if r.op == "u"]
    head = hist[max(hist)]
    assert head.n_live == sum(r.n_keys for r in live)
    assert head.cents_sum == sum(r.cents_sum for r in live)
    assert head.n_tombstoned == sum(
        r.n_keys for r in lww if r.op == "d"
    )
