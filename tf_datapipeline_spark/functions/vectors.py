"""Order-pinned vector kernels over packed float arrays: squared norm,
dot product and squared L2 distance.

Contract: every form folds the array LEFT TO RIGHT in IEEE double, each
element cast to double before the multiply, starting from 0.0. Float32
elements cast to double exactly, each product and each running sum
rounds once, identically, in every engine, so Spark's
``aggregate``/``zip_with``, DuckDB's ``list_reduce``/``list_zip`` and
the numpy loop below produce bit-identical doubles. The 0.0 init is
inert (0.0 + t == t for every t but -0.0, which needs an exact-zero
first term; L2 terms are >= 0). A pairwise or decimal-quantized sum
would not be: numpy's ``.sum()`` reorders, and DuckDB's double->DECIMAL
cast mis-rounds near half-ulp boundaries
(tests/test_properties.py::test_duckdb_decimal_cast_misrounds_near_half_ulp).

One order, three spellings:

- Column forms ``norm2``, ``dot``, ``l2`` for DataFrame code;
- SQL text ``fold_norm2``, ``fold_dot``, ``fold_l2`` for the ``"spark"``
  and ``"duckdb"`` dialects, with ``fold_l2_slice`` (a subvector's
  distance) and ``fold_sum_ordered`` (a group's values summed in a
  given order) in the same order;
- ``seq_norm2`` and ``seq_dot`` for numpy, row-wise over a matrix.

tests/test_similarity.py::test_vector_folds_are_bit_identical pins the
four forms to each other, and tests/test_plans.py audits that no other
module spells the fold inline.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from tf_datapipeline_spark.functions import dialect as D


def norm2(arr: Column | str) -> Column:
    """Sum of squares of a packed float array."""
    return F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two packed float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def l2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance of two packed float arrays."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def fold_norm2(dialect: str, e: str) -> str:
    """SQL twin of :func:`norm2`."""
    if dialect == "spark":
        return (
            f"aggregate(transform({e}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
        )
    return (
        f"list_reduce(list_transform({e},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, t) -> acc + t)"
    )


def fold_dot(dialect: str, a: str, b: str) -> str:
    """SQL twin of :func:`dot`."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b},"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
        )
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),"
        " (acc, t) -> acc + t)"
    )


def fold_l2(dialect: str, a: str, b: str) -> str:
    """SQL twin of :func:`l2`."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b},"
            " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
            " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
        )
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
        " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))),"
        " (acc, t) -> acc + t)"
    )


def seq_norm2(mat: np.ndarray) -> np.ndarray:
    """Row-wise :func:`norm2` of a float64 matrix, accumulated column by
    column in the same order as the folds."""
    acc = np.zeros(len(mat))
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * mat[:, i]
    return acc


def seq_dot(mat: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise :func:`dot` of a float64 matrix with one vector `v`, in
    the same order as the folds."""
    acc = np.zeros(len(mat))
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * v[i]
    return acc


def fold_l2_slice(dialect: str, a: str, b: str, start: str, n: int) -> str:
    """Squared L2 distance of the `n`-element slices of arrays `a` and
    `b` after the 0-based offset `start`, in :func:`fold_l2`'s order."""
    x, y = (D.element_at(v, f"{start} + i", dialect) for v in (a, b))
    diff = f"i -> CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE)"
    if dialect == "spark":
        sq = f"transform(transform(sequence(1, {n}), {diff}), d -> d * d)"
        return f"aggregate({sq}, CAST(0 AS DOUBLE), (a, b) -> a + b)"
    sq = f"list_transform(list_transform(generate_series(1, {n}), {diff}), d -> d * d)"
    return f"list_reduce({sq}, (a, b) -> a + b)"


def fold_sum_ordered(dialect: str, expr: str, order: str) -> str:
    """Aggregate: the sum of the group's DOUBLE `expr` values, folded left
    to right in `order` (a column unique within the group)."""
    if dialect == "spark":
        return (
            "aggregate(transform(array_sort(collect_list("
            f"named_struct('p', {order}, 'v', {expr}))), x -> x.v), "
            "CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
        )
    return f"list_reduce(list({expr} ORDER BY {order}), (acc, t) -> acc + t)"
