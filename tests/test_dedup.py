"""Invariant pins for the dedup operators (operators/dedup.py): the
duplicate-size histogram re-bins exact dedup's clusters. The LSH
calibration pin is in tests/test_round11_ops.py."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def test_dup_histogram_mass_matches_exact_dedup(spark):
    """q6j: the histogram is q61's cluster table re-binned — total doc
    mass equals the corpus size, per-size cluster counts match a direct
    recomputation from q61, the >= 2 mass equals q61's duplicate count,
    and the docs_at_least column is the exact suffix-cumulative."""
    from tf_datapipeline_spark.operators.dedup import (
        q61_dedup_exact_hash,
        q6j_dup_size_histogram,
    )

    rows = sorted(
        q6j_dup_size_histogram(spark, SF_SMOKE).collect(),
        key=lambda r: -r.cluster_size,
    )
    docs_n = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == docs_n
    q61 = q61_dedup_exact_hash(spark, SF_SMOKE).collect()
    per_size: dict[int, int] = {}
    for c in q61:
        per_size[c.n_copies] = per_size.get(c.n_copies, 0) + 1
    assert {r.cluster_size: r.n_clusters for r in rows} == per_size
    dup_docs = sum(c.n_copies for c in q61 if c.n_copies >= 2)
    assert sum(r.n_docs for r in rows if r.cluster_size >= 2) == dup_docs
    running = 0
    for r in rows:  # sorted by size DESC == the window's order
        running += r.n_docs
        assert r.docs_at_least == running
        assert abs(r.share_at_least - running / docs_n) < 1e-12
