"""Workload definitions and the order-insensitive result hash.

The hash is taken over rows normalized by the repository's DuckDB-oracle
harness (`tests.oracle_harness._norm_rows`), so a hash taken from Spark
rows and one taken from DuckDB rows agree exactly when the harness would
call the results equal.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS_PATH = os.path.join(HERE, "pins.json")

# Query-name prefixes per workload; each resolves to exactly one registered
# query (see `resolve`).
WORKLOADS: dict[str, list[str]] = {
    "tabular": ["q01", "q03", "q05", "q20", "q2a", "q40", "q42", "q4a", "q9a"],
    # the curation operators, then the ingest stages
    "pipeline": ["q50", "q5h", "qt1", "q61", "q70", "q81", "q8h", "q4zk"],
}

# Time of one timed pass on a 4-vCPU host, net of steal; `--seconds`
# divided by it gives the number of timed passes (see run.timed_passes).
NOMINAL_PASS_S: dict[str, float] = {"tabular": 5.0, "pipeline": 10.0}


def resolve(names: list[str], prefixes: list[str]) -> list[str]:
    """Full registered names for `prefixes`; raises if any is missing or
    ambiguous, so a renamed query fails the run instead of dropping out."""
    out = []
    for p in prefixes:
        hits = [n for n in names if n.startswith(p + "_")]
        if len(hits) != 1:
            raise KeyError(f"query prefix {p!r} matches {hits}")
        out.append(hits[0])
    return out


def result_hash(rows, cols: list[str]) -> str:
    """sha256 over the sorted column names and the harness-normalized rows."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tests.oracle_harness import _norm_rows

    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in _norm_rows([tuple(r) for r in rows], cols):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def load_pins() -> dict[str, dict]:
    with open(PINS_PATH) as f:
        return json.load(f)
