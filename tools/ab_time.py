"""Matched-window A/B timing: `python tools/ab_time.py <module> [passes]`.

<module> is importable and exposes VARIANTS: {name: fn(spark, sf_dir) ->
DataFrame}. Each pass of `bench.time_queries` at $SPARK_GRAFT_SF_DIR runs
every variant once, so all of them see the same host state. Equality of
the variants' results is the caller's job: this tool only times them.
"""

import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import bench
    from tf_datapipeline_spark.session import get_spark

    variants = importlib.import_module(sys.argv[1]).VARIANTS
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    res = bench.time_queries(get_spark("ab-time"), variants, sf_dir, passes)
    print(json.dumps({**bench.summarize(res), "all": res["times"],
                      "steal_share": res["steal_share"], "failures": res["failures"]}))


if __name__ == "__main__":
    main()
