"""Staged sf10 verification for the qt1/qt2 prep composites (closing
the last documented scale exclusion — their oracles' recursive-CTE
reachability fixpoint is quadratic in component size and infeasible at
sf10, where the near-dup graph has a ~300k-doc giant component).

Decomposition (the verify_cc pattern, extended to the composites):
  1. q63's LSH edges are already hash-exact cross-engine at the target
     scale (sf10 dedup sweep, r6; re-collected here).
  2. The clustering is recomputed from those edges with an INDEPENDENT
     sequential union-find (path compression + union by size) and
     compared row-for-row against Spark's pointer-doubling labels — the
     same cross-ALGORITHM check tools/verify_cc.py runs for q67.
  3. The VERIFIED label table is staged into DuckDB, and the qt1/qt2
     oracle, built by the same prep builders without the recursive label
     CTEs (`label_ctes=""`: flags, 5-gram overlap, [sem], reasoned),
     runs declaratively against it, value-compared to the Spark
     composite output with the driver-gate comparison.

Usage: python tools/staged_prep_oracle.py <sf_dir> <out_json>
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
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
    comp_min: dict[int, int] = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in parent}


def main() -> None:
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    import duckdb

    from tests.oracle_harness import _norm_rows, expected_duck_type
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.catalog import TABLES, table_path
    from tf_datapipeline_spark.operators.dedup import materialize_cc_labels
    from tf_datapipeline_spark.operators.prep import (
        _prep_oracle,
        _prep_semantic_oracle,
    )
    from tf_datapipeline_spark.session import get_spark

    report: dict[str, dict] = {"sf_dir": sf_dir}
    spark = get_spark("staged-prep-oracle")
    qs = registry.queries()

    # ---- 1+2: independent union-find over the cross-engine-verified edges
    t0 = time.time()
    edges = [
        (r.doc_a, r.doc_b)
        for r in qs["q63_minhash_lsh_pairs"](sf_dir=sf_dir, spark=spark)
        .select("doc_a", "doc_b")
        .collect()
    ]
    expected = _union_find_labels(edges)
    got = {
        r.doc_id: r.label for r in materialize_cc_labels(spark, sf_dir).collect()
    }
    mism = sum(1 for k, v in expected.items() if got.get(k) != v)
    mism += sum(1 for k in got if k not in expected)
    report["labels_stage"] = {
        "n_edges": len(edges),
        "n_labeled_docs": len(got),
        "mismatches": mism,
        "sec": round(time.time() - t0, 1),
        "match": mism == 0,
    }
    print(f"labels stage: {len(edges)} edges, {len(got)} docs, "
          f"{mism} mismatches", flush=True)

    # ---- 3: stage the verified labels, run the non-recursive oracle rest
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    con.execute("CREATE TABLE labels (doc_id BIGINT, label BIGINT)")
    con.executemany(
        "INSERT INTO labels VALUES (?, ?)", list(got.items())
    )

    for name, oracle_fn in (
        ("qt1_prep_pipeline", _prep_oracle),
        ("qt2_prep_semantic", _prep_semantic_oracle),
    ):
        t0 = time.time()
        staged_sql = oracle_fn(label_ctes="")
        try:
            df = qs[name](spark, sf_dir)
            got_rows = [tuple(r) for r in df.collect()]
            types = dict(
                (r[0], r[1])
                for r in con.execute(f"DESCRIBE ({staged_sql})").fetchall()
            )
            exp_rows = con.execute(staged_sql).fetchall()
            exp_cols = [d[0] for d in con.description]
            problems = []
            if sorted(df.columns) != sorted(exp_cols):
                problems.append(f"cols {df.columns} vs {exp_cols}")
            for col, dtype in df.dtypes:
                if types.get(col) != expected_duck_type(dtype):
                    problems.append(f"type {col}: {dtype} vs {types.get(col)}")
            if len(got_rows) != len(exp_rows):
                problems.append(f"rows {len(got_rows)} vs {len(exp_rows)}")
            if not problems and _norm_rows(got_rows, df.columns) != _norm_rows(
                exp_rows, exp_cols
            ):
                problems.append("value mismatch")
            status = "pass" if not problems else "fail"
            detail = "; ".join(problems)
        except Exception as e:  # noqa: BLE001 — accumulate, don't abort
            status, detail = "error", f"{type(e).__name__}: {e}"[:400]
        report[name] = {
            "status": status,
            "sec": round(time.time() - t0, 1),
            "detail": detail,
        }
        print(f"{name}: {status} ({report[name]['sec']}s) {detail}", flush=True)

    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    ok = report["labels_stage"]["match"] and all(
        report[n]["status"] == "pass"
        for n in ("qt1_prep_pipeline", "qt2_prep_semantic")
    )
    print(f"STAGED PREP ORACLE {'PASS' if ok else 'FAIL'} -> {out_path}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
