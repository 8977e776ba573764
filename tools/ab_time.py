"""Matched-window A/B timing harness (r11 verdict task 2).

Interleaves VARIANTS of one query inside a single session so every
variant sees the same host state: cycle = one timed noop-sink run of
each variant (guide §1.4/§1.5) followed by one constant-work
calibration probe (bench.py's), repeated N times. The per-variant MIN
is only trusted when at least one cycle's probe sat in the quiet band
— the probes are printed with the result so the reader can judge.

Usage:
  python tools/ab_time.py <experiment_module> [cycles]

<experiment_module> is an importable python path exposing
  VARIANTS: dict[str, Callable[[SparkSession, str], DataFrame]]
for example a throwaway module `exp_q65.py` on PYTHONPATH with
  VARIANTS = {"shipped": q65_ngram_jaccard, "candidate": q65_candidate}
Each callable builds the DataFrame for one variant; equality of the
variants' RESULTS is the caller's job (oracle parity / collect-compare
— this tool times, it does not verify). The variants and outcomes of
past A/B rounds are written up in OPTIMIZATION_r12.md.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)


def main() -> None:
    mod_name = sys.argv[1]
    cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from bench import calibration_probe
    from tf_datapipeline_spark.session import get_spark

    mod = importlib.import_module(mod_name)
    variants = mod.VARIANTS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-time")

    times: dict[str, list[float]] = {name: [] for name in variants}
    probes: list[float] = [round(calibration_probe(spark), 3)]
    # warm-up: one untimed run of each variant (JIT / partition index)
    for name, fn in variants.items():
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for c in range(cycles):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"c{c}:{name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name].append(round(time.perf_counter() - t0, 3))
        probes.append(round(calibration_probe(spark), 3))
        print(
            json.dumps(
                {
                    "cycle": c,
                    "probe": probes[-1],
                    **{n: times[n][-1] for n in variants},
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "min": {n: min(ts) for n, ts in times.items()},
                "all": times,
                "probes": probes,
            }
        )
    )


if __name__ == "__main__":
    main()
