"""The SQL spellings that differ between Spark SQL and the DuckDB oracle.

A builder shared by both engines writes one text: Spark's spelling
wherever DuckDB parses it too. DuckDB reads `/*+ BROADCAST(x) */` as a
comment and accepts `CAST(x AS STRING)`, `hour()`, `day()`, `split()`,
`filter()`, `array_sort(array_agg(x))`, `<<` and `>>` with Spark's
results. The constructs below have no common spelling; each function
returns Spark's text for dialect "spark" and the oracle's for "duckdb".
The order-pinned vector folds are in functions/vectors.py and the md5
hex window in functions/texthash.py.
"""

from __future__ import annotations


def explode(arr: str, dialect: str) -> str:
    """A SELECT-list generator: one row per element of array `arr`."""
    return f"explode({arr})" if dialect == "spark" else f"unnest({arr})"


def explode_series(lo: str | int, hi: str | int, dialect: str) -> str:
    """A SELECT-list generator: one INT row per integer lo..hi
    (inclusive), the element type of Spark's sequence() over INTs.
    Needs hi >= lo: below that sequence() counts down and
    generate_series() is empty."""
    if dialect == "spark":
        return f"explode(sequence({lo}, {hi}))"
    return f"CAST(unnest(generate_series({lo}, {hi})) AS INT)"


def split_ws(s: str, dialect: str) -> str:
    """The array of the pieces of `s` between runs of whitespace."""
    if dialect == "spark":
        return f"split({s}, '\\\\s+')"
    return f"regexp_split_to_array({s}, '\\s+')"


def size(arr: str, dialect: str) -> str:
    """The element count of array `arr`."""
    return f"size({arr})" if dialect == "spark" else f"len({arr})"


def element_at(arr: str, i: str, dialect: str) -> str:
    """Element `i` (1-based) of array `arr`."""
    return f"element_at({arr}, {i})" if dialect == "spark" else f"{arr}[{i}]"


def join_strings(arr: str, sep: str, dialect: str) -> str:
    """The string elements of array `arr` joined by the literal `sep`."""
    if dialect == "spark":
        return f"concat_ws('{sep}', {arr})"
    return f"array_to_string({arr}, '{sep}')"


def string_agg_ordered(value: str, order: str, sep: str, dialect: str) -> str:
    """Aggregate: the group's `value` column as strings, in `order`
    (both plain column names), joined by the literal `sep`."""
    if dialect == "spark":
        return (
            f"array_join(transform(array_sort(collect_list(struct({order}, {value}))), "
            f"s -> CAST(s.{value} AS STRING)), '{sep}')"
        )
    return f"string_agg(CAST({value} AS STRING), '{sep}' ORDER BY {order})"


def idiv(a: str, b: str, dialect: str) -> str:
    """Integer division a / b of non-negative operands."""
    return f"{a} DIV {b}" if dialect == "spark" else f"{a} // {b}"


def bxor(a: str, b: str, dialect: str) -> str:
    """Bitwise xor of two integers."""
    return f"({a} ^ {b})" if dialect == "spark" else f"xor({a}, {b})"


def epoch_day(d: str, dialect: str) -> str:
    """Days from 1970-01-01 to the DATE `d`."""
    if dialect == "spark":
        return f"datediff({d}, DATE '1970-01-01')"
    return f"datediff('day', DATE '1970-01-01', {d})"


def materialized(dialect: str) -> str:
    """The keyword that makes a CTE read twice run once: DuckDB's
    `AS MATERIALIZED (...)`; Spark has none."""
    return "" if dialect == "spark" else "MATERIALIZED "
