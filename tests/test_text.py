"""Invariant pins for the text operators (operators/text.py): ordered
length bands, Zipf ratios, BPE round-trips against an independent
reference, classifier and drift scoring, and gapless token packing."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table


def _python_bpe(tok: str, rules: list[str]) -> list[str]:
    """Independent greedy BPE reference: apply char-pair rules in rank
    order, each merging left-to-right non-overlapping."""
    units = list(tok)
    for rule in rules:
        c1, c2 = rule[0], rule[1]
        out: list[str] = []
        for u in units:
            if out and out[-1] == c1 and u == c2:
                out[-1] = rule
            else:
                out.append(u)
        units = out
    return units


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


def test_bpe_encode_roundtrips_and_matches_reference(spark):
    """q5t: (1) char conservation on EVERY row (n_unit_chars equals
    n_token_chars — a merge that loses or duplicates characters cannot
    pass), (2) the per-doc BPE token counts equal an independent Python
    greedy-BPE reference whose detokenization provably round-trips,
    (3) compression never inflates: n_bpe_tokens <= n_token_chars and
    >= n_ws_tokens."""
    from tf_datapipeline_spark.operators.text import _BPE_K, q5t_bpe_encode

    rows = {r.doc_id: r for r in q5t_bpe_encode(spark, SF_SMOKE).collect()}
    assert rows
    for r in rows.values():
        assert r.n_unit_chars == r.n_token_chars, r
        assert r.n_ws_tokens <= r.n_bpe_tokens <= r.n_token_chars, r
        assert r.bpe_per_char == r.n_bpe_tokens / r.n_token_chars
        assert r.bpe_per_ws_token == r.n_bpe_tokens / r.n_ws_tokens

    # independent merge-table derivation + encode for a doc sample
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    pair_counts: dict[str, int] = {}
    all_toks: dict[int, list[str]] = {}
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.strip()) if t]
        all_toks[d.doc_id] = toks
        for t in toks:
            for i in range(len(t) - 1):
                p = t[i : i + 2]
                pair_counts[p] = pair_counts.get(p, 0) + 1
    rules = [
        p
        for p, _ in sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :_BPE_K
        ]
    ]
    for d in docs[:25]:
        toks = all_toks[d.doc_id]
        n_bpe = 0
        for t in toks:
            units = _python_bpe(t, rules)
            assert "".join(units) == t  # detokenize round-trip
            n_bpe += len(units)
        r = rows[d.doc_id]
        assert r.n_ws_tokens == len(toks)
        assert r.n_bpe_tokens == n_bpe, (d.doc_id, r.n_bpe_tokens, n_bpe)


def test_quality_classifier_matches_independent_scoring(spark):
    """q5u: per-doc margins equal an independent Python re-computation
    (hashlib md5 feature hashing + the same frozen weight derivation),
    and the keep decision is exactly margin > 0 with score = margin/n."""
    import hashlib

    from tf_datapipeline_spark.operators.text import (
        _CLF_BUCKETS,
        q5u_quality_classifier,
    )

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    weights = {
        b: h32(f"w|{b}") % 2001 - 1000 for b in range(_CLF_BUCKETS)
    }
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    expect: dict[int, tuple[int, int]] = {}
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.strip()) if t]
        if not toks:
            continue
        margin = sum(weights[h32(t) % _CLF_BUCKETS] for t in toks)
        expect[d.doc_id] = (len(toks), margin)

    rows = {r.doc_id: r for r in q5u_quality_classifier(spark, SF_SMOKE).collect()}
    assert set(rows) == set(expect)
    for did, (n, margin) in expect.items():
        r = rows[did]
        assert (r.n_tokens, r.margin) == (n, margin), (did, r)
        assert r.keep == (margin > 0)
        assert r.score == margin / n


def test_chi2_drift_detects_injected_shift(spark):
    """q5w: the statistic is non-negative everywhere, and the
    whole-table identity holds: sum over sources of chi2 equals the
    classic contingency chi-square of the source x band table computed
    independently in Python (within the 2^-36 quantization floor each
    grid cell can lose)."""
    from tf_datapipeline_spark.operators.text import (
        _DRIFT_BAND_W,
        q5w_chi2_drift,
    )

    rows = q5w_chi2_drift(spark, SF_SMOKE).collect()
    assert all(r.chi2 >= 0.0 for r in rows)
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "source", "n_chars"
    ).collect()
    from collections import Counter

    cells = Counter(
        (r.source, int(r.n_chars // _DRIFT_BAND_W)) for r in docs
    )
    rowt = Counter()
    colt = Counter()
    for (s, b), o in cells.items():
        rowt[s] += o
        colt[b] += o
    n = sum(cells.values())
    chi2 = 0.0
    for s in rowt:
        for b in colt:
            e = float(rowt[s]) * colt[b] / n
            o = cells.get((s, b), 0)
            chi2 += (o - e) * (o - e) / e
    got = sum(r.chi2 for r in rows)
    n_cells = len(rowt) * len(colt)
    assert abs(got - chi2) <= n_cells / 2**36 + 1e-9 * chi2
    assert {r.n_bands for r in rows} == {len(colt)}


def test_tokenize_pack_layout_is_gapless(spark):
    """qt7: the packed layout is a PARTITION of the encoded token
    stream — doc k+1 starts exactly where doc k ends, chunk spans are
    consistent with the 512 boundary arithmetic, and the per-doc BPE
    counts are exactly q5t's."""
    from tf_datapipeline_spark.operators.text import (
        _PACK_B,
        q5t_bpe_encode,
        qt7_tokenize_pack,
    )

    rows = sorted(
        qt7_tokenize_pack(spark, SF_SMOKE).collect(), key=lambda r: r.doc_id
    )
    enc = {r.doc_id: r.n_bpe_tokens for r in q5t_bpe_encode(spark, SF_SMOKE).collect()}
    pos = 0
    for r in rows:
        assert r.start_tok == pos, r.doc_id
        assert r.n_bpe_tokens == enc[r.doc_id]
        assert r.chunk_first == r.start_tok // _PACK_B
        assert r.chunk_last == (r.start_tok + r.n_bpe_tokens - 1) // _PACK_B
        assert r.n_chunks == r.chunk_last - r.chunk_first + 1
        pos += r.n_bpe_tokens
