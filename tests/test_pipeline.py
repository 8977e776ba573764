"""Invariant pins for the pipeline operators (operators/pipeline.py):
the importance sample's Horvitz-Thompson estimate closes on the true
total."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def test_importance_sample_ht_closure(spark):
    """q3f: the Horvitz-Thompson reweighted estimate is (a) never below
    the raw kept mass (weights are 1/p >= 1, FLOOR-quantized at 2^-20),
    and (b) closes on the true corpus char total within a pinned
    tolerance — 25% at this scale (85 kept docs; the estimator is
    unbiased over the hash randomness, a realization wanders ~1/sqrt(n))."""
    from tf_datapipeline_spark.operators.pipeline import q3f_importance_sample

    rows = q3f_importance_sample(spark, SF_SMOKE).collect()
    assert rows
    docs = load_table(spark, SF_SMOKE, "documents")
    true_chars = docs.agg(F.sum("n_chars")).collect()[0][0]
    est = sum(r.est_chars for r in rows)
    for r in rows:
        assert r.n_kept >= 1
        # weight 1/p >= 1 => per-doc estimate >= its raw chars (FLOOR
        # quantization can shave at most 2^-20 per doc)
        assert r.est_chars >= r.chars_kept - r.n_kept * 2**-20, r
        assert abs(r.est_share_of_corpus - r.est_chars / true_chars) < 1e-12
    assert abs(est - true_chars) / true_chars < 0.25
