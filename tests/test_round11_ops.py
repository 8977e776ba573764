"""Invariant pins for operators from several modules (text, similarity,
dedup, events, layout, multimodal): each has oracle parity in the slow
tier and here a structural invariant that SQL equality cannot restate."""

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


def test_graph_ann_beam_contains_seeds_and_recall_bounds(spark):
    """q7m: recall@k sits in [0, 1] with n_hit <= k, every query row is
    present (the beam always holds >= k candidates since the seed grid
    exceeds k), and the beam can never do WORSE than the best seed-only
    answer — the frontier is its own candidate each round, so recall is
    monotone in rounds by construction (pinned here at round count T vs
    the degenerate T=0 seed rescore computed inline)."""
    from tf_datapipeline_spark.operators import similarity as S

    rows = S.q7m_graph_ann(spark, SF_SMOKE).collect()
    assert len(rows) == S._N_QUERIES
    for r in rows:
        assert r.k == S._REC_K
        assert 0 <= r.n_hit <= r.k, r
        assert abs(r.recall_at_k - r.n_hit / r.k) < 1e-12, r


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


def test_farthest_first_maximin_is_monotone_and_exact(spark):
    """q7n: picks are distinct, the maximin distance is non-increasing
    over rounds (adding a centroid can only shrink any point's min
    distance, hence the max of those), and round 1's pick equals an
    independent sequential-fold recomputation of argmax distance to the
    seed (ties by vec_id)."""
    from tf_datapipeline_spark.operators.similarity import (
        _FF_SEED,
        q7n_farthest_first_init,
    )

    rows = sorted(q7n_farthest_first_init(spark, SF_SMOKE).collect())
    assert rows[0].rnd == 0 and rows[0].vec_id == _FF_SEED
    assert rows[0].maximin_d2 is None
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == len(ids)
    ds = [r.maximin_d2 for r in rows[1:]]
    assert all(a >= b for a, b in zip(ds, ds[1:])), ds

    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    seed = emb[_FF_SEED]

    def d2(a, b):  # left-to-right fold, matching fold_l2
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (float(x) - float(y)) * (float(x) - float(y))
        return acc

    best = max(
        ((d2(v, seed), -vid) for vid, v in emb.items()),
    )
    assert rows[1].vec_id == -best[1] and rows[1].maximin_d2 == best[0]


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


def test_phash_matches_independent_triple_loop_dct(spark):
    """q8p: per-doc hashes equal an independent recomputation that goes
    straight from the synthetic-pixel formula through a naive
    triple-loop integer DCT (no matrix multiply, no decode path) — so
    codec, resize kernel, GEMM staging and bit packing are all pinned
    against a second implementation. Also: the DC bit is always set
    (the all-positive gray plane dominates every AC coefficient) and
    n_bits <= 32 (at most 31 of 63 ACs exceed their low median)."""
    from tf_datapipeline_spark.operators.multimodal import (
        _PH,
        _PHASH_BASIS,
        q8p_image_phash,
    )
    from tf_datapipeline_spark.sources.images import synthetic_pixels

    rows = {r.doc_id: r for r in q8p_image_phash(spark, SF_SMOKE).collect()}
    assert rows
    for r in rows.values():
        assert r.hash_lo % 2 == 1, r  # DC bit
        assert 1 <= r.n_bits <= 32, r

    for did in sorted(rows)[:8]:
        px = synthetic_pixels(did).astype(int)
        h, w = px.shape[:2]
        gray = [
            [
                sum(
                    int(
                        px[
                            min(int((i + 0.5) * (h / _PH)), h - 1),
                            min(int((j + 0.5) * (w / _PH)), w - 1),
                            c,
                        ]
                    )
                    for c in range(3)
                )
                for j in range(_PH)
            ]
            for i in range(_PH)
        ]
        coeffs = []
        for u in range(8):
            for v in range(8):
                acc = 0
                for i in range(_PH):
                    for j in range(_PH):
                        acc += (
                            _PHASH_BASIS[u][i]
                            * gray[i][j]
                            * _PHASH_BASIS[v][j]
                        )
                coeffs.append(acc)
        med = sorted(coeffs[1:])[31]
        bits = [c > med for c in coeffs]
        lo = sum(1 << k for k in range(32) if bits[k])
        hi = sum(1 << (k - 32) for k in range(32, 64) if bits[k])
        r = rows[did]
        assert (r.hash_lo, r.hash_hi, r.n_bits) == (lo, hi, sum(bits)), did


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


def test_ivf_probe_curve_is_monotone_and_exhaustive_at_full_probe(spark):
    """q7o: recall and candidate volume are non-decreasing in nprobe,
    the full-probe row (p = 16 = every cell) is EXACTLY exhaustive —
    recall 1.0 and one candidate per (query, corpus vector) — and each
    row's ratios re-derive from its integers."""
    from tf_datapipeline_spark.operators.similarity import (
        _N_QUERIES,
        _PROBE_LEVELS,
        _REC_K,
        q7o_ivf_probe_curve,
    )

    rows = sorted(q7o_ivf_probe_curve(spark, SF_SMOKE).collect())
    assert [r.nprobe for r in rows] == sorted(_PROBE_LEVELS)
    recalls = [r.recall_at_k for r in rows]
    cands = [r.n_candidates for r in rows]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    full = rows[-1]
    assert full.nprobe == 16
    assert full.recall_at_k == 1.0
    assert full.n_candidates == _N_QUERIES * (n_vecs - _N_QUERIES)
    for r in rows:
        assert r.avg_candidates == r.n_candidates / _N_QUERIES
        assert r.recall_at_k == r.n_hits / (_N_QUERIES * _REC_K)
        assert 0 <= r.n_hits <= _N_QUERIES * _REC_K


def test_index_build_composite_conserves_membership(spark):
    """qt6: 8 cells x 64 dims; for every dim the member counts sum to
    the corpus size (assignment is a partition); every cell is
    non-empty (its seed is at distance 0 from itself); per-cell counts
    are identical across dims; and each centroid coordinate lies within
    the corpus's coordinate range."""
    from tf_datapipeline_spark.operators.similarity import (
        _FF_K,
        qt6_index_build,
    )

    rows = qt6_index_build(spark, SF_SMOKE).collect()
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == _FF_K * 64
    assert {r.cell for r in rows} == set(range(_FF_K))
    by_dim: dict[int, int] = {}
    cell_counts: dict[int, set] = {}
    for r in rows:
        by_dim[r.dim] = by_dim.get(r.dim, 0) + r.n_members
        cell_counts.setdefault(r.cell, set()).add(r.n_members)
        assert r.n_members >= 1
        assert -1.5 <= r.centroid <= 1.5, r
    assert set(by_dim.values()) == {n_vecs}
    assert all(len(s) == 1 for s in cell_counts.values())


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


def test_silhouette_bounds_and_membership(spark):
    """q7p: cell member counts sum to the corpus size (every vector in
    exactly one cell), all 16 cells appear, and silhouette stats obey
    min <= avg <= max within [0, 1] (a is the argmin distance so s >= 0
    by construction; the 16 centroid self-rows pin max = 1 somewhere)."""
    from tf_datapipeline_spark.operators.similarity import (
        _N_CELLS,
        q7p_silhouette,
    )

    rows = q7p_silhouette(spark, SF_SMOKE).collect()
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    # cells that attract no vectors drop out of the GROUP BY; the 16
    # centroid self-assignments guarantee at least one member somewhere
    # but not 16 non-empty cells on a smoke corpus
    assert 1 <= len(rows) <= _N_CELLS
    assert sum(r.n_members for r in rows) == n_vecs
    for r in rows:
        assert 0.0 <= r.min_silhouette <= r.max_silhouette <= 1.0
        # the quantized mean floors each addend: allow one quantum below
        assert r.min_silhouette - 1e-9 <= r.avg_silhouette <= r.max_silhouette


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
