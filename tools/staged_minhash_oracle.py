"""Staged DuckDB oracle for the two streaming MinHash composites:
q6c_stream_incremental_dedup and qt4_stream_ingest.

Their registered oracles derive the corpus MinHash signature as a
shared CTE (`catalog.oracle_with`), so at sf10 each run re-derives the
500k-doc signature table inside DuckDB (~40+ min single-node, observed
in the r8 sweep) — the only two streaming rows without sf10-adjacent
evidence. This tool STAGES the oracle: it builds the signature table
ONCE as a DuckDB table, value-checks the staged table itself against
Spark's signature checkpoint (the same exact compare the driver gate
uses — so the stage is verified, not trusted), then runs both oracle
BODIES (the staged table takes the shared CTE's place) against the
Spark results with the standard order-insensitive exact compare.

Usage: python tools/staged_minhash_oracle.py <sf_dir> <out_json>
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
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    import duckdb

    from tests.oracle_harness import _norm_rows, expected_duck_type
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.catalog import TABLES, oracle_with, table_path
    from tf_datapipeline_spark.operators.dedup import _SIG_CTES, _materialize_sig
    from tf_datapipeline_spark.session import get_spark
    from tf_datapipeline_spark.streaming.events_stream import (
        _stream_incr_dedup_body,
        _stream_ingest_body,
    )

    report: dict[str, dict] = {}
    spark = get_spark("staged-minhash-oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )

    # ---- stage: build the signature table once
    t0 = time.time()
    con.execute("CREATE TABLE sig AS " + oracle_with("SELECT * FROM sig", **_SIG_CTES))
    stage_sec = round(time.time() - t0, 1)

    # ---- verify the stage itself against Spark's sig (exact compare)
    t0 = time.time()
    sdf = _materialize_sig(spark, sf_dir)
    got = _norm_rows([tuple(r) for r in sdf.collect()], sdf.columns)
    exp_rows = con.execute("SELECT * FROM sig").fetchall()
    exp_cols = [d[0] for d in con.description]
    exp = _norm_rows(exp_rows, exp_cols)
    sig_match = sorted(sdf.columns) == sorted(exp_cols) and got == exp
    report["sig_stage"] = {
        "rows": len(exp_rows),
        "stage_sec": stage_sec,
        "verify_sec": round(time.time() - t0, 1),
        "match": bool(sig_match),
    }
    print(f"sig stage: {len(exp_rows)} rows in {stage_sec}s, "
          f"match={sig_match}", flush=True)

    # ---- run both composites against the staged table
    qs = registry.queries()
    bodies = {
        "q6c_stream_incremental_dedup": _stream_incr_dedup_body(),
        "qt4_stream_ingest": _stream_ingest_body(),
    }
    for name, body in bodies.items():
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            got_rows = [tuple(r) for r in df.collect()]
            types = dict(
                (r[0], r[1])
                for r in con.execute(f"DESCRIBE ({body})").fetchall()
            )
            exp_rows = con.execute(body).fetchall()
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
            "rows": len(exp_rows) if status == "pass" else None,
        }
        print(f"{name}: {status} ({report[name]['sec']}s) {detail}", flush=True)

    report["sf_dir"] = sf_dir
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    ok = report["sig_stage"]["match"] and all(
        report[n]["status"] == "pass"
        for n in ("q6c_stream_incremental_dedup", "qt4_stream_ingest")
    )
    print(f"STAGED ORACLE {'PASS' if ok else 'FAIL'} -> {out_path}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
