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

# The driver value-checks the first 50 queries of `queries()`: a fixed
# window that leads with five composites spanning many operator layers,
# so a bug in shared machinery shows in every run.
GATE_ORDER = [
    "qp1_feed_pipeline",
    "qt0_text_profile",
    "qt1_prep_pipeline",
    "qt4_stream_ingest",
    "qt5_corpus_health",
    "q4zm_funnel_latency",
    "q4zo_periodicity",
    "q4zp_cusum_changepoint",
    "q5t_bpe_encode",
    "q5u_quality_classifier",
    "q5w_chi2_drift",
    "qt7_tokenize_pack",
    "q7m_graph_ann",
    "q7n_farthest_first_init",
    "q7o_ivf_probe_curve",
    "qt6_index_build",
    "q7p_silhouette",
    "q6k_lsh_calibration",
    "q8p_image_phash",
    "q4zn_stream_funnel_latency",
    "q9o_hilbert_layout",
    "q9p_lww_upsert",
    "q9q_time_travel",
    "q58_vocabulary",
    "q61_dedup_exact_hash",
    "q66_embedding_near_dup",
    "q72_label_centroids",
    "q81_pixel_stats",
    "q89_resize_nearest",
    "q32_split_exact_head",
    "q4u_stream_stream_join",
    "q4v_range_join_salted",
    "q5h_winnow_fingerprint",
    "q64_simhash",
    "q65_ngram_jaccard",
    "q86_audio_rms",
    "q8c_bbox_overlay",
    "q8d_jpeg_decode",
    "q1i_heavy_hitters",
    "q1w_approx_quantiles",
    "q22_topk_per_group",
    "q42_sessionization",
    "q4i_range_frame",
    "q55_tfidf",
    "q5g_doc_chunking",
    "q68_semantic_dedup",
    "q69_substring_dup",
    "q70_knn_bruteforce",
    "q8e_format_sniff",
    "q5c_contamination",
]


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
