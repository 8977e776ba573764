"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine's catalog reads (`catalog.TABLES`) as one
single-row-group Parquet file each, at the row counts and value
distributions of the engine's sf0.01 oracle tier: a TPC-H-shaped star
schema, an `events` clickstream, a `documents` corpus with near- and
exact duplicates, and labelled unit-norm `embeddings`.

corpus.json holds the row count and the Arrow type of every column of
that tier's tables; `generate` refuses to publish a corpus that differs
from it. `events.ts` is stored as it is in every tier: TIMESTAMP(µs)
without a timezone.

The tables are a fixed corpus (`DATA_SEED`), not a function of the
benchmark's `--seed`: outputs are checked against hashes pinned for this
corpus (pins.json), so the corpus must not move between runs.

Usage: python3 perfbench/gen.py <out_dir>
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
CORPUS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus.json")

# sf0.01 row counts
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int)
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def star_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, N_PART)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, N_PART)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]
            ),
            "p_type": _pick(rng, PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )
    n = N_LINEITEM
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    return t


def events_table(rng: np.random.Generator) -> pa.Table:
    """Clickstream over 30 days; event_id order is time order, and no two
    events share a timestamp."""
    n = N_EVENTS
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.unique(rng.integers(0, span_us, 2 * n))
    offsets = np.sort(rng.choice(offsets, n, replace=False))
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator) -> pa.Table:
    """Uniform-vocabulary documents of 10-100 words; ~5% near-duplicates
    (a parent with 3 words replaced, plus a ' dup' suffix) and a few
    exact copies, which the dedup operators must find."""
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.004:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.054:
            words = [w for w in texts[int(rng.integers(0, i))].split() if w != "dup"]
            for _ in range(3):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            texts.append(" ".join(words) + " dup")
        else:
            idx = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[j] for j in idx))
    langs = rng.choice(LANGS, N_DOCS, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [str(x) for x in langs],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator) -> pa.Table:
    """Unit-norm vectors around 10 label centres, with 2% near-copies."""
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, N_VECS)
    x = rng.standard_normal((N_VECS, DIM)) + 0.76 * centers[labels]
    for i in range(20, N_VECS):
        if rng.random() < 0.02:
            j = int(rng.integers(0, i))
            x[i] = x[j] + 0.05 * rng.standard_normal(DIM)
            labels[i] = labels[j]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def shape(data_dir: str) -> dict[str, dict]:
    """Row count and column types of every table under `data_dir`, in the
    form corpus.json keeps them."""
    out = {}
    for name in sorted(os.listdir(data_dir)):
        f = pq.ParquetFile(os.path.join(data_dir, name))
        out[name.removesuffix(".parquet")] = {
            "rows": f.metadata.num_rows,
            "columns": {fld.name: str(fld.type) for fld in f.schema_arrow},
        }
    return out


def generate(out_dir: str) -> None:
    """Write every table under `out_dir` (created if missing). Writes to a
    sibling temp dir, checks it against corpus.json and renames, so a
    half-written or misshapen corpus never exists at `out_dir`."""
    rng = np.random.default_rng(DATA_SEED)
    tables = star_tables(rng)
    tables["events"] = events_table(rng)
    tables["documents"] = documents_table(rng)
    tables["embeddings"] = embeddings_table(rng)
    tmp = out_dir.rstrip("/") + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name in TABLES:
        pq.write_table(
            tables[name],
            os.path.join(tmp, f"{name}.parquet"),
            row_group_size=1 << 30,
            store_schema=False,
        )
    with open(CORPUS_PATH) as f:
        expected = json.load(f)
    got = shape(tmp)
    if got != expected:
        bad = sorted(t for t in expected.keys() | got.keys() if got.get(t) != expected.get(t))
        raise RuntimeError(f"generated tables differ from corpus.json: {bad}")
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/gen.py <out_dir>")
    generate(sys.argv[1])
