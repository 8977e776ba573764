"""Invariant pins for the table-layout operators (operators/layout.py):
file-level row conservation, manifest statuses and optimistic-concurrency
verdicts. The Hilbert, last-writer-wins and time-travel pins are in
tests/test_round11_ops.py."""

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
