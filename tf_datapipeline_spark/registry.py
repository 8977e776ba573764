"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as
    name -> fn(spark, sf_dir) -> DataFrame
optionally with a DuckDB-runnable ANSI-SQL oracle twin. The driver runs
both at sf0.01 and compares row-count + schema + order-insensitive value
hash, so:
  - every computed column is aliased identically in Spark and SQL;
  - aggregate floats are rounded (or computed in exact decimal) so the
    two engines agree bit-for-bit despite different summation orders;
  - per-row float arithmetic is left unrounded (IEEE ops are deterministic
    and identical across engines).
Ops that SQL can't express (streaming state, binary UDF pipelines) register
without an oracle → the driver records a weaker rows-only check.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

_OPERATOR_MODULES = [
    "tf_datapipeline_spark.operators.relational",
    "tf_datapipeline_spark.operators.window",
    "tf_datapipeline_spark.operators.pipeline",
    "tf_datapipeline_spark.operators.events",
    "tf_datapipeline_spark.operators.text",
    "tf_datapipeline_spark.operators.dedup",
    "tf_datapipeline_spark.operators.similarity",
    "tf_datapipeline_spark.operators.multimodal",
    "tf_datapipeline_spark.streaming.events_stream",
    "tf_datapipeline_spark.operators.formats",
    "tf_datapipeline_spark.operators.prep",
    "tf_datapipeline_spark.operators.layout",
]

_loaded = False

# ---------------------------------------------------------------------------
# Driver-gate ordering. The round driver checks the FIRST 50 queries in
# `queries()` iteration order. Rounds 1-8 rotated this window a few slots
# at a time (the per-slot rotation rationale lives in git history of this
# file); that left 63 oracle-checked queries with sf0.01+sf1 local
# evidence but NO driver row ever. Round 9 switches to a ROUND-ROBIN
# refresh schedule, enforced by tools/gate_rotation.py: each round the
# window turns over (near-)completely to the stalest oracle-checked
# queries — never-gated first, then oldest last-green round — so every
# one of the ~215 oracle-checked queries earns a driver row within a
# 5-round cycle (215 / 50 ≈ 4.3). Rotated-out queries keep their green
# history AND their local oracle check (the slow pytest tier replays
# every registered oracle each round — that is the compensating control
# between driver rows).
#
# Only the current window is kept here; past rounds' windows (GATE_ORDER_R8
# through GATE_ORDER_R11) live in this file's git history and in the
# CORRECTNESS_r*.json artifacts.
# ---------------------------------------------------------------------------
# Permanent anchor slots (r9 advice): high-risk composites that exercise
# many operator layers in one query, re-gated EVERY round so an
# engine-side bug in shared machinery can't ride out a fully-rotated
# window between driver rows. The remaining WINDOW - len(GATE_ANCHORS)
# slots rotate round-robin (tools/gate_rotation.py).
# ---------------------------------------------------------------------------
GATE_ANCHORS = [
    "qp1_feed_pipeline",  # shuffle/split/batch/epoch composite (R1-B3)
    "qt0_text_profile",  # text-analysis composite over documents
    "qt1_prep_pipeline",  # prep + exact-dedup composite
    "qt4_stream_ingest",  # streaming quality gate + dual anti-join dedup
    "qt5_corpus_health",  # cross-family corpus monitor composite
]

# Round-12 window: the 5 anchors, then the 18 never-gated round-11
# operators (headed by the two r11-era never-gated ops, per the r11
# verdict), then the stalest of the staleness backlog — the block
# `tools/gate_rotation.py propose --round 12` emits verbatim.
GATE_ORDER_R12 = GATE_ANCHORS + [
    "q4zm_funnel_latency",  # never
    "q4zo_periodicity",  # never
    "q4zp_cusum_changepoint",  # never
    "q5t_bpe_encode",  # never
    "q5u_quality_classifier",  # never
    "q5w_chi2_drift",  # never
    "qt7_tokenize_pack",  # never
    "q7m_graph_ann",  # never
    "q7n_farthest_first_init",  # never
    "q7o_ivf_probe_curve",  # never
    "qt6_index_build",  # never
    "q7p_silhouette",  # never
    "q6k_lsh_calibration",  # never
    "q8p_image_phash",  # never
    "q4zn_stream_funnel_latency",  # never
    "q9o_hilbert_layout",  # never
    "q9p_lww_upsert",  # never
    "q9q_time_travel",  # never
    "q58_vocabulary",  # stale 9
    "q61_dedup_exact_hash",  # stale 9
    "q66_embedding_near_dup",  # stale 9
    "q72_label_centroids",  # stale 9
    "q81_pixel_stats",  # stale 9
    "q89_resize_nearest",  # stale 9
    "q32_split_exact_head",  # stale 8
    "q4u_stream_stream_join",  # stale 8
    "q4v_range_join_salted",  # stale 8
    "q5h_winnow_fingerprint",  # stale 8
    "q64_simhash",  # stale 8
    "q65_ngram_jaccard",  # stale 8
    "q86_audio_rms",  # stale 8
    "q8c_bbox_overlay",  # stale 8
    "q8d_jpeg_decode",  # stale 8
    "q1i_heavy_hitters",  # stale 7
    "q1w_approx_quantiles",  # stale 7
    "q22_topk_per_group",  # stale 7
    "q42_sessionization",  # stale 7
    "q4i_range_frame",  # stale 7
    "q55_tfidf",  # stale 7
    "q5g_doc_chunking",  # stale 7
    "q68_semantic_dedup",  # stale 7
    "q69_substring_dup",  # stale 7
    "q70_knn_bruteforce",  # stale 7
    "q8e_format_sniff",  # stale 7
    "q5c_contamination",  # stale 6
]
GATE_ORDER = GATE_ORDER_R12



def _gate_sorted(d: dict) -> dict:
    """Reorder: GATE_ORDER names first (in that order), then the rest in
    registration order."""
    head = {n: d[n] for n in GATE_ORDER if n in d}
    tail = {n: v for n, v in d.items() if n not in head}
    return {**head, **tail}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; `oracle` is the DuckDB ANSI-SQL twin (or None for
    rows-only checked ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    _load()
    missing = [n for n in GATE_ORDER if n not in _QUERIES]
    assert not missing, f"GATE_ORDER names not registered: {missing}"
    assert len(set(GATE_ORDER)) == len(GATE_ORDER), "duplicate GATE_ORDER names"
    return _gate_sorted(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load()
    return _gate_sorted(_ORACLES)
