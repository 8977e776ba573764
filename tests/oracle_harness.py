"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registered Spark query and its oracle SQL side by side and asserts
row-count + column-name + TYPE + value equality (order-insensitive).
Floats are compared EXACTLY — the engine's queries are designed (exact
decimal sums, deterministic per-row IEEE arithmetic) so both engines
agree bit-for-bit; a soft tolerance here would hide mismatches the
driver would flag.

The TYPE check exists because the driver's value hash is type-sensitive:
an earlier gate run lost seven rows to DuckDB `SUM(BIGINT) -> HUGEINT` /
`MIN(expr) -> BIGINT` aggregates hashed against Spark bigint/int results
whose VALUES were bit-identical. Every oracle must therefore CAST its
aggregates to the width the Spark side declares; this harness maps
Spark dtypes to the DuckDB type names DESCRIBE reports and fails on any
divergence, so that whole failure class is caught locally.
"""

from __future__ import annotations

import math

import duckdb

from tf_datapipeline_spark.catalog import TABLES, table_path

# Spark simple dtype -> the DuckDB DESCRIBE column_type it must pair with.
_SPARK_TO_DUCK = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "binary": "BLOB",
    "date": "DATE",
    "timestamp_ntz": "TIMESTAMP",
    "timestamp": "TIMESTAMP WITH TIME ZONE",
}


def expected_duck_type(spark_dtype: str) -> str:
    """DuckDB type name a Spark dtype must pair with for the driver's
    type-sensitive hash to match."""
    if spark_dtype in _SPARK_TO_DUCK:
        return _SPARK_TO_DUCK[spark_dtype]
    if spark_dtype.startswith("decimal("):
        return spark_dtype.upper().replace(" ", "")
    if spark_dtype.startswith("array<") and spark_dtype.endswith(">"):
        return expected_duck_type(spark_dtype[6:-1]) + "[]"
    return spark_dtype.upper()


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        types = dict(
            (r[0], r[1]) for r in con.execute(f"DESCRIBE ({sql})").fetchall()
        )
        return con.execute(sql).fetchall(), [d[0] for d in con.description], types
    finally:
        con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # datetime/date — compare as ISO strings
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=repr)


def compare(spark_df, oracle_query: str, sf_dir: str, name: str = "?"):
    got_rows = [tuple(r) for r in spark_df.collect()]
    got_cols = spark_df.columns
    exp_rows, exp_cols, exp_types = run_oracle(oracle_query, sf_dir)

    assert sorted(got_cols) == sorted(exp_cols), (
        f"{name}: column mismatch spark={sorted(got_cols)} oracle={sorted(exp_cols)}"
    )
    type_problems = [
        f"{col}: spark {dtype} (needs DuckDB {expected_duck_type(dtype)}) "
        f"vs oracle {exp_types.get(col)}"
        for col, dtype in spark_df.dtypes
        if exp_types.get(col) != expected_duck_type(dtype)
    ]
    assert not type_problems, (
        f"{name}: type-width mismatch (driver hash is type-sensitive): "
        + "; ".join(type_problems)
    )
    assert len(got_rows) == len(exp_rows), (
        f"{name}: row count spark={len(got_rows)} oracle={len(exp_rows)}"
    )
    g = _norm_rows(got_rows, got_cols)
    e = _norm_rows(exp_rows, exp_cols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
