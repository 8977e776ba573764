"""Measured scaling curve for SCALING.md.

Runs the bench headline queries at several scales with a FIXED
methodology — for each scale, 3 passes per query; pass 1 is the COLD
time (JIT warm-up, first footer reads), min(pass 2, pass 3) is the
WARM steady state; every pass rebuilds its shared tables. The
per-scale (cold, warm) pairs make cross-scale exponents
apples-to-apples; bench.py's min-of-up-to-3-within-budget would compare
a warm small scale against a cold large one.

Usage: python tools/measure_scaling.py out.json dir1 dir2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)


def main() -> None:
    out_path = sys.argv[1]
    dirs = sys.argv[2:]
    import bench
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.session import get_spark

    spark = get_spark("scaling-measure")
    qs = registry.queries()
    names = bench.HEADLINE + bench.EXTRA
    # SPARK_GRAFT_ONLY=q68_semantic_dedup,q69_substring_dup -> targeted
    # re-measure without paying the full set at every scale
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",")}
        names = [n for n in names if n in wanted] or sorted(
            n for n in qs if n in wanted
        )
    qs["q01_pricing_summary"](spark, "/root/testdata/sf0.001").collect()

    results: dict[str, dict] = {}
    for d in dirs:
        cold: dict[str, float] = {}
        warm: dict[str, float] = {}
        for p in range(3):
            for name in names:
                t0 = time.perf_counter()
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                t = time.perf_counter() - t0
                if p == 0:
                    cold[name] = round(t, 3)
                else:
                    warm[name] = round(min(warm.get(name, t), t), 3)
        results[d] = {"cold": cold, "warm": warm}
        print(d, "done", flush=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)


if __name__ == "__main__":
    main()
