"""Cross-ALGORITHM verification of q67 (near-dup clusters) at scales
where the registered DuckDB oracle is infeasible.

q67's oracle is a recursive-CTE REACHABILITY fixpoint; its materialized
(src, dst) set is quadratic in component size, and an sf10
attempt filled the disk with DuckDB spill before completing. Rather
than weaken the oracle, big-scale verification decomposes the claim:

  1. the EDGES (q63's LSH pairs) are already hash-exact cross-engine at
     the target scale (q63 passed the sf10 sweep), and
  2. this tool recomputes the clustering from those edges with an
     INDEPENDENT algorithm — sequential union-find with path
     compression + union by size — and compares (doc_id, cluster_id =
     min node id, cluster_size) row-for-row against Spark's iterative
     min-label/pointer-doubling CC.

Agreement of two structurally different algorithms over cross-engine-
verified edges is stronger evidence than re-running one of them twice.

Usage: python tools/verify_cc.py <sf_dir>
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
    sf_dir = sys.argv[1]

    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.session import get_spark

    spark = get_spark("verify-cc")
    qs = registry.queries()

    t0 = time.time()
    edges = [
        (r.doc_a, r.doc_b)
        for r in qs["q63_minhash_lsh_pairs"](spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    ]
    t_edges = round(time.time() - t0, 1)

    # union-find with path compression + union by size
    parent: dict[int, int] = {}
    size: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]

    # component -> min id, then per-doc expected rows
    comp_min: dict[int, int] = {}
    comp_n: dict[int, int] = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
        comp_n[r] = comp_n.get(r, 0) + 1
    expected = {v: (comp_min[find(v)], comp_n[find(v)]) for v in parent}

    t0 = time.time()
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in qs["q67_dedup_clusters"](spark, sf_dir).collect()
    }
    t_cc = round(time.time() - t0, 1)

    mismatches = sum(1 for k, v in expected.items() if got.get(k) != v)
    mismatches += sum(1 for k in got if k not in expected)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_edges": len(edges),
                "n_docs": len(expected),
                "n_components": len(comp_min),
                "max_component": max(comp_n.values()) if comp_n else 0,
                "spark_rows": len(got),
                "mismatches": mismatches,
                "edges_sec": t_edges,
                "cc_sec": t_cc,
                "match": mismatches == 0 and len(got) == len(expected),
            }
        )
    )


if __name__ == "__main__":
    main()
