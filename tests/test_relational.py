"""Invariant pins for the relational operators (operators/relational.py):
the expectation suite flags violations injected into a copy of the data,
and the co-located join rebuilds its bucketed tables on every call."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_SMOKE, jobs_in_group
from tf_datapipeline_spark.catalog import load_table


def test_expectation_suite_flags_injected_violations(spark, tmp_path):
    """q1aa: on the pristine corpus every constraint passes; on a
    corpus with one violation of EACH kind injected (duplicate key,
    orphan FK, non-positive price, null date, bad status) every
    constraint reports EXACTLY the injected count — the suite measures,
    not merely smells."""
    from tf_datapipeline_spark.operators.relational import q1aa_expectation_suite

    clean = {r.constraint_name: r for r in q1aa_expectation_suite(spark, SF_SMOKE).collect()}
    assert len(clean) == 5
    for name, r in clean.items():
        assert r.passed and r.n_violations == 0, name
        assert r.pass_rate == 1.0

    # corrupted twin corpus: base orders plus 5 surgical bad rows
    orders = load_table(spark, SF_SMOKE, "orders")
    cols = orders.columns
    base = orders.limit(1).collect()[0].asDict()
    first_key = base["o_orderkey"]

    def bad(**over):
        d = dict(base)
        d.update(over)
        return tuple(d[c] for c in cols)

    bad_rows = [
        bad(),  # duplicate o_orderkey (first_key appears twice)
        bad(o_orderkey=10**9 + 1, o_custkey=10**9),  # orphan custkey
        bad(o_orderkey=10**9 + 2, o_totalprice=-5.0),  # non-positive price
        bad(o_orderkey=10**9 + 3, o_orderdate=None),  # null date
        bad(o_orderkey=10**9 + 4, o_orderstatus="X"),  # bad domain
    ]
    corrupted = orders.unionAll(spark.createDataFrame(bad_rows, orders.schema))
    dirty_dir = str(tmp_path / "dirty")
    os.makedirs(dirty_dir)
    pq.write_table(
        pa.Table.from_pandas(corrupted.toPandas(), preserve_index=False),
        os.path.join(dirty_dir, "orders.parquet"),
    )
    cust = load_table(spark, SF_SMOKE, "customer")
    pq.write_table(
        pa.Table.from_pandas(cust.toPandas(), preserve_index=False),
        os.path.join(dirty_dir, "customer.parquet"),
    )

    dirty = {r.constraint_name: r for r in q1aa_expectation_suite(spark, dirty_dir).collect()}
    want = {
        "unique_o_orderkey": 1,
        "fk_o_custkey_in_customer": 1,
        "range_o_totalprice_positive": 1,
        "notnull_o_orderdate": 1,
        "domain_o_orderstatus": 1,
    }
    n_total = orders.count() + 5
    for name, v in want.items():
        r = dirty[name]
        assert r.n_violations == v, (name, r)
        assert not r.passed
        assert r.n_checked == n_total


def test_colocated_join_rebuilds_its_tables_per_call(spark):
    """q1n: a second call in one session writes both bucketed tables again
    (the same write jobs as the first call) instead of reading the first
    call's build, and returns the same rows."""
    from tf_datapipeline_spark.operators.relational import q1n_colocated_join

    first, n_first = jobs_in_group(
        spark, "q1n-first", lambda: q1n_colocated_join(spark, SF_SMOKE).collect()
    )
    second, n_second = jobs_in_group(
        spark, "q1n-second", lambda: q1n_colocated_join(spark, SF_SMOKE).collect()
    )
    assert n_first > 0
    assert n_second == n_first
    assert sorted(first) == sorted(second)
