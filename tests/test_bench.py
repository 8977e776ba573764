"""bench.py: its query lists, its one timing core, and a tooling import smoke."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import bench
from tests.conftest import REPO_DIR, SF_SMOKE

# The 28 names whose warm times `value` has always summed.
HEADLINE_28 = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
    "q06_forecast_revenue", "q09_topk_orders", "q20_window_rank",
    "q21_window_running", "q40_tumbling_window", "q42_sessionization",
    "q50_token_stats", "q55_tfidf", "q60_dedup_exact", "q61_dedup_exact_hash",
    "q62_minhash_signature", "q63_minhash_lsh_pairs", "q64_simhash",
    "q65_ngram_jaccard", "q70_knn_bruteforce", "q71_knn_ann_lsh", "q81_pixel_stats",
    "q84_etl_sharded_write", "q47_stream_tumbling_window",
    "q1b_small_quantity_revenue", "q4r_range_join", "q4a_asof_join",
    "q4p_stream_append_windows", "qt1_prep_pipeline", "q5g_doc_chunking",
]


def test_query_lists():
    from tf_datapipeline_spark import registry

    assert bench.HEADLINE == HEADLINE_28
    assert len(set(bench.EXTRA)) == len(bench.EXTRA) == 98
    assert not set(bench.HEADLINE) & set(bench.EXTRA)
    assert set(bench.HEADLINE + bench.EXTRA) <= set(registry.queries())


def test_time_queries_core(spark):
    from tf_datapipeline_spark import registry

    qs = registry.queries()
    seen: list[str] = []

    def recorder(spark, path):
        seen.append(path)
        return spark.range(3)

    def raiser(spark, path):
        raise ValueError("boom")

    fns = {
        "q01_pricing_summary": qs["q01_pricing_summary"],
        "q47_stream_tumbling_window": qs["q47_stream_tumbling_window"],
        "recorder": recorder,
        "raiser": raiser,
    }
    res = bench.time_queries(spark, fns, SF_SMOKE, passes=2)

    assert len(set(seen)) == 2
    for path in seen:
        assert os.path.basename(path) == os.path.basename(SF_SMOKE)
        assert not os.path.exists(path)  # the fresh paths are cleaned up
    assert set(res["failures"]) == {"raiser"}
    assert "boom" in res["failures"]["raiser"]
    assert set(res["times"]) == {"q01_pricing_summary", "q47_stream_tumbling_window", "recorder"}
    for name, ts in res["times"].items():
        assert len(ts) == 2 and all(0 < t <= w for t, w in zip(ts, res["wall"][name]))
    assert set(res["startup"]) == {"q47_stream_tumbling_window"}
    for s, w in zip(res["startup"]["q47_stream_tumbling_window"],
                    res["wall"]["q47_stream_tumbling_window"]):
        assert 0 <= s <= w
    assert 0 <= res["steal_share"] < 1
    rows = bench.summarize(res)
    assert rows["recorder"]["warm"] == round(res["times"]["recorder"][1], 3)
    assert "startup" in rows["q47_stream_tumbling_window"]


def test_summarize_needs_two_passes():
    with pytest.raises(ValueError, match=r"ran 1 pass\(es\); summarize needs >= 2"):
        bench.summarize({"times": {"q01_pricing_summary": [0.5]}, "startup": {}})


_IMPORT_TOOLS = """
import glob, importlib.util, os, sys
repo = sys.argv[1]
sys.path[:0] = [repo, os.path.join(repo, "tools")]
import bench
loaded = {"run", "sparktrace"} & set(sys.modules)
assert not loaded, f"import bench loaded perfbench modules {loaded}"
for path in sorted(glob.glob(os.path.join(repo, "tools", "*.py"))):
    name = "tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
from pyspark import SparkContext
assert SparkContext._gateway is None and SparkContext._active_spark_context is None
"""


def test_bench_and_tools_import_without_spark():
    env = {**os.environ, "PYTHONDONTWRITEBYTECODE": "1"}
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_TOOLS, REPO_DIR],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
