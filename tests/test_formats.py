"""Invariant pins for the format operators (operators/formats.py): the XML
round trip conserves rows and values."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def test_xml_roundtrip_conserves_rows_and_values(spark):
    """q1ab: nothing is lost or invented in the XML round trip — the
    per-nation supplier counts sum to the supplier table's row count,
    the global min suppkey survives, and the exact-decimal acctbal total
    equals a direct parquet-side recomputation per nation."""
    from tf_datapipeline_spark.operators.formats import q1ab_xml_roundtrip

    rows = q1ab_xml_roundtrip(spark, SF_SMOKE).collect()
    sup = load_table(spark, SF_SMOKE, "supplier")
    nat = load_table(spark, SF_SMOKE, "nation")
    assert sum(r.n_suppliers for r in rows) == sup.count()
    assert min(r.min_suppkey for r in rows) == sup.agg(F.min("s_suppkey")).collect()[0][0]
    direct = {
        r.n_name: (r.n, r.cents)
        for r in sup.join(
            F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("s_acctbal") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    assert {r.n_name for r in rows} == set(direct)
    for r in rows:
        n, cents = direct[r.n_name]
        assert r.n_suppliers == n
        assert round(float(r.total_acctbal) * 100) == cents, r.n_name
