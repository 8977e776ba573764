"""Order-independent (exact) floating aggregates.

Why: `SUM(double)` is order-dependent (IEEE addition is not associative),
so Spark (parallel, partition-order) and any oracle engine disagree in the
last ulps. Casting each addend to DECIMAL makes addition exact and
associative: both engines produce bit-identical results regardless of
partition count or plan shape. This matters beyond the correctness gate —
it also makes results stable across reruns of a 1000-executor job.

The cost is a decimal-typed partial aggregate (still map-side combinable,
still whole-stage codegen'd in Spark). Measured honestly: on the sf0.1
local bench the 8-aggregate q01 runs ~6.7x slower than plain double sums
(1.70s vs 0.26s, decimal widths 18 and 28 within 6% of each other — the
accumulator, decimal(p+10), is 128-bit either way). The tempting fast
path — sum pre-scaled BIGINTs, long-backed — was evaluated and rejected:
int64 overflows at ~1e9 rows of 1e9-scale addends, far below the 1e14-row
headroom this module guarantees; at cluster scale the relative overhead
shrinks as shuffle/IO grow, and correctness-at-any-scale is the contract.

Per-row float arithmetic (a*b, a/b, comparisons) is left as plain double:
single IEEE ops are deterministic and identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 28 digits total, `scale` fractional: enough headroom for 1e14 rows of
# 1e9-scale addends without overflow at scale 4.
_PRECISION = 28


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Exact sum: cast each addend to DECIMAL(28, scale), sum, emit double.

    The final decimal -> double conversion goes THROUGH A STRING on both
    engines. Found by an sf1 parity sweep: once a sum carries
    >16 significant digits (5e10 at scale 6 — any 10x growth step gets
    there), DuckDB's direct decimal->double cast double-rounds (int128
    -> double, then / 10^scale: two roundings) while Spark's
    BigDecimal.doubleValue() rounds once, so the engines differ in the
    last ulp. Both engines' string->double parse is correctly rounded
    from identical digit strings, so the string route is deterministic
    and engine-independent at ANY magnitude. Cost: one tiny conversion
    per GROUP (not per row)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(T.DecimalType(_PRECISION, scale)))
        .cast("string")
        .cast("double")
    )


def davg(col: Column | str, scale: int = 4) -> Column:
    """Exact-sum average: exact decimal sum divided by count (one IEEE
    division at the end — deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def sql_dsum(expr: str, scale: int = 4) -> str:
    """SQL twin of :func:`dsum` (same string-routed final conversion).
    CONCAT(x, '') is the decimal->string spelling BOTH dialects accept
    with identical digit output (several queries run one shared SQL
    string in Spark and DuckDB, so VARCHAR/STRING type names are out).

    TRY_CAST, not CAST, for the final string->double step: DuckDB's
    CONCAT *skips* NULL arguments, so an empty/all-NULL group produces
    '' — a hard Conversion Error under CAST — while Spark's CONCAT
    propagates NULL. TRY_CAST maps both '' (DuckDB) and NULL (Spark) to
    NULL, matching dsum()'s NULL-on-empty-group behavior on both engines
    (both dialects support TRY_CAST with identical semantics here)."""
    return (
        f"TRY_CAST(CONCAT(SUM(CAST(({expr}) AS "
        f"DECIMAL({_PRECISION},{scale}))), '') AS DOUBLE)"
    )


def sql_davg(expr: str, scale: int = 4) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"({sql_dsum(expr, scale)} / COUNT({expr}))"
