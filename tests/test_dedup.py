"""Invariant pins for the dedup operators (operators/dedup.py): the
duplicate-size histogram re-bins exact dedup's clusters, and the LSH
calibration accounts for every candidate pair."""

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


def test_lsh_calibration_pair_accounting(spark):
    """q6k: (1) the decile pair counts re-add to the EXACT block-pair
    total sum(nC2) recomputed independently from the same md5 block
    assignment, (2) captured <= pairs per decile, (3) the theory curve
    is strictly increasing in the decile (the S-curve is monotone), and
    (4) a decile-9 (near-identical) pair is captured with probability
    ~1 in theory: theory_capture[9] > 0.9."""
    import hashlib

    from tf_datapipeline_spark.operators.dedup import (
        _CAL_BLOCKS,
        q6k_lsh_calibration,
    )

    rows = sorted(q6k_lsh_calibration(spark, SF_SMOKE).collect())
    assert rows
    for r in rows:
        assert 0 <= r.n_captured <= r.n_pairs, r
        assert abs(r.capture_rate - r.n_captured / r.n_pairs) < 1e-12, r
    theory = [r.theory_capture for r in rows]
    assert theory == sorted(theory) and len(set(theory)) == len(theory)
    if rows[-1].j_bucket == 9:
        assert rows[-1].theory_capture > 0.9

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    eligible = [d.doc_id for d in docs if len(d.text) >= 5]
    nb = max(16, -(-len(eligible) // 32))
    sizes: dict[int, int] = {}
    for did in eligible:
        h32 = int(hashlib.md5(str(did).encode()).hexdigest()[:8], 16)
        blk = h32 % nb
        if blk < _CAL_BLOCKS:
            sizes[blk] = sizes.get(blk, 0) + 1
    expect_pairs = sum(s * (s - 1) // 2 for s in sizes.values())
    assert sum(r.n_pairs for r in rows) == expect_pairs
