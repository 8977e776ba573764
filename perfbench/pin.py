"""Regenerate pins.json: the expected result hash of every workload query
on the generated corpus, computed by the query's DuckDB oracle twin
(`registry.oracle_sql()`), an engine independent of the one under test.

    python3 perfbench/pin.py

Every workload query has a twin, so no pin comes from the engine itself.
Run it only when the corpus generator or a query's defined result
changes, and review the diff.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

from check import PINS_PATH, WORKLOADS, resolve, result_hash
from run import DATA_DIR, ROOT


def oracle_hash(sql: str) -> tuple[str, int]:
    con = duckdb.connect()
    try:
        for name in os.listdir(DATA_DIR):
            path = os.path.join(DATA_DIR, name)
            con.execute(
                f"CREATE VIEW {name.removesuffix('.parquet')} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return result_hash(rows, cols), len(rows)


def main() -> int:
    if not os.path.isdir(DATA_DIR):
        import gen

        os.makedirs(os.path.dirname(DATA_DIR), exist_ok=True)
        gen.generate(DATA_DIR)
    sys.path.insert(0, ROOT)
    from tf_datapipeline_spark import registry

    oracles = registry.oracle_sql()
    pins = {}
    for prefixes in WORKLOADS.values():
        for name in resolve(list(registry.queries()), prefixes):
            h, n = oracle_hash(oracles[name])
            pins[name] = {"hash": h, "rows": n}
    with open(PINS_PATH, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    print(f"pinned {len(pins)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
