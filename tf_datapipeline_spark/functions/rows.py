"""The one per-row Arrow loop.

The reference maps a Python function over every record (`dataset.map`:
decode, then preprocess; SURVEY.md M1/M2). Here that stage is
`map_rows`: Spark hands the Python worker Arrow batches of a DataFrame's
columns, and the caller's function sees one input row at a time and
returns its output rows. Every row-at-a-time Python stage in the package
goes through it (`operators/multimodal.map_decoded`, the per-image decode
loop, is built on it), so rows cross Arrow in this one place;
tests/test_plans.py::test_row_loops_live_in_one_place fails on a batch
loop written anywhere else.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def map_rows(
    df: DataFrame, rows_of: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """`df.mapInPandas` over `df`'s columns, in their order: call
    `rows_of(*values)` once per input row and emit the tuples it returns
    (zero, one or several) under `schema`, a DDL string of top-level
    `name type` fields whose names are the output columns. The plan's
    MapInPandas node carries `rows_of`'s name."""
    columns = [field.split()[0] for field in schema.split(",")]

    def each_row(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for values in zip(*(col for _, col in pdf.items())):
                rows.extend(rows_of(*values))
            yield pd.DataFrame(rows, columns=columns)

    each_row.__name__ = rows_of.__name__
    return df.mapInPandas(each_row, schema=schema)
