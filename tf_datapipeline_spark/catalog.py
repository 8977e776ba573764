"""Parquet catalog over the driver test tables.

The reference's only "catalog" is a directory-of-files image corpus whose
label is encoded in the path (reference: generator.py:8-34). Our engine's
catalog is a flat Parquet directory per scale factor; Spark gets schema,
column pruning, and predicate pushdown from the Parquet footers for free.

The session's temp views are the only table state, and they are the ten
`TABLES`: nothing else binds a view outside this module. `register_views`
binds one view per table to a directory, with each schema declared from
the parquet footer (no Spark job). `load_table` is `spark.table` over
those views, and `read_table_stream` is its streaming twin: the one
place a stream opens a catalog table. A view pins its table's schema and
file listing when it is bound, so:

- a caller that replaces a catalog view with other data must drop it
  afterwards; the next read then binds it again;
- a caller that rewrites a table in place must call
  `spark.catalog.refreshTable(name)`, or later reads keep the old
  listing (a file that grew in place is read only up to its old length).

A query that reads an intermediate table more than once declares it as a
shared CTE, once for both engines: `sql_with` runs the query on Spark
and `oracle_with` spells its DuckDB oracle (see `sql_with`).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def adaptive_scan_parallelism(
    spark: SparkSession, sf_dir: str, name: str = "documents"
) -> int:
    """Target partition count for a heavy per-row stream over `name`,
    or 0 when the scan already parallelizes.

    The guide §2.5 input-skew remedy, made SCALE-ADAPTIVE: a table
    stored as one small file (the local corpus: documents.parquet is a
    single 580 KB file with one row group) yields a ONE-TASK scan, so
    per-row-heavy streams (the md5-per-5-gram shingle explode, the
    winnow transform) serialize on one core no matter how many the
    session has. When the scan's split count is below the session's
    core count, `docs_scan_source` repartitions the input to
    `defaultParallelism` — the shuffle moves (once) an input that is
    small by the very condition that fired, and keyless round-robin
    repartition is deterministic (sortBeforeRepartition) with every
    consumer order-independent. At production scale the input has at
    least as many splits as cores and this returns 0: no shuffle is
    ever added where the scan already parallelizes. Measured (matched
    quiet window, OPTIMIZATION_r12.md): the MinHash signature build
    2.6 s → 0.85 s at sf0.1/local[32]."""
    splits = load_table(spark, sf_dir, name).rdd.getNumPartitions()
    cores = spark.sparkContext.defaultParallelism
    return cores if splits < cores else 0


def docs_scan_source(spark: SparkSession, sf_dir: str) -> str:
    """The ONE way to pick the `documents` source of a heavy per-row
    stream: a SQL relation over the registered `documents` view — the
    bare view when its scan parallelizes, else a REPARTITION-hinted
    projection. The SQL generators take it as their source relation;
    DataFrame callers read `SELECT ... FROM <it>`. Callers project
    before the explode, so Catalyst places the round-robin exchange
    BELOW it (one above would shuffle n_positions × text)."""
    register_views(spark, sf_dir)
    n = adaptive_scan_parallelism(spark, sf_dir, "documents")
    if not n:
        return "documents"
    return f"(SELECT /*+ REPARTITION({n}) */ * FROM documents)"


def sql_with(
    spark: SparkSession, sf_dir: str, body: str, **shared: str | DataFrame
) -> DataFrame:
    """`body`, a query over the catalog views of `sf_dir` (registered
    here) and the `shared` tables, analyzed by Spark.

    This is the one shared-table step. Spark inlines CTEs, so a CTE that
    `body` references N times is derived (and its tables scanned) N
    times. Each `shared` entry is therefore bound, in order, as a temp
    view under its bare CTE name: SQL text is run once as an eager
    `localCheckpoint`, a DataFrame is bound as it is. A later entry and
    `body` read the earlier ones by name. Once `body` is analyzed every
    name bound here is dropped, also when analysis fails: the returned
    frame keeps its plan, the checkpoints live as long as it does, and
    nothing is cached across calls, so each call pays its own build and
    sees the current table data. `oracle_with` is the DuckDB twin."""
    clash = sorted(set(shared) & set(TABLES))
    if clash:
        raise ValueError(f"shared table names collide with catalog tables: {clash}")
    register_views(spark, sf_dir)
    bound = []
    try:
        for name, src in shared.items():
            if isinstance(src, str):
                src = spark.sql(src).localCheckpoint()
            src.createOrReplaceTempView(name)
            bound.append(name)
        return spark.sql(body)
    finally:
        for name in bound:
            spark.catalog.dropTempView(name)


def oracle_with(body: str, **shared: str) -> str:
    """The DuckDB spelling of `sql_with`: each `shared` entry becomes a
    `MATERIALIZED` CTE (DuckDB inlines a plain CTE per reference too),
    and `body` reads them from a subquery, so it is the same text the
    Spark side analyzes."""
    ctes = ",\n".join(
        f"{name} AS MATERIALIZED ({sql}\n)" for name, sql in shared.items()
    )
    return f"WITH {ctes}\nSELECT * FROM ({body}\n)"


def footer_schema(path: str) -> StructType:
    """The Spark schema of the parquet table at `path` — one file or a
    Spark output directory — from its parquet footer alone, no Spark job:
    the schema Spark's own inference reports (test-pinned for every
    testdata table). Naive timestamps map to TIMESTAMP_NTZ, as Spark
    reads them; TIMESTAMP(NANOS) maps to the raw-nanos bigint that the
    `nanosAsLong` reader (session.py) produces."""
    arrow = ds.dataset(path, format="parquet").schema
    arrow = pa.schema(
        [
            f.with_type(pa.int64())
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            else f
            for f in arrow
        ]
    )
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def _read(spark: SparkSession, path: str) -> DataFrame:
    """Plain parquet scan (Catalyst keeps pushdown/pruning) over a
    declared footer schema, so no schema-inference job runs."""
    return spark.read.schema(footer_schema(path)).parquet(path)


# session applicationId -> the directory the catalog views were last
# bound from: the catalog's only module state. Binding reads ten footers
# and builds ten relations (~0.25 s), so it runs only when the target
# directory changes or a view has gone missing.
_VIEWS_AT: dict[str, str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Bind one temp view per table to the parquet files in `sf_dir` (a
    table absent from it has no view). A no-op when the views already
    point at `sf_dir` and all exist, so a dropped view is bound again;
    a same-name view over other data still exists to this check, which
    is why a caller that replaces a view must drop it afterwards. An
    in-place rewrite of a bound table needs
    `spark.catalog.refreshTable(name)`."""
    app = spark.sparkContext.applicationId
    target = os.path.abspath(sf_dir)
    if _VIEWS_AT.get(app) == target and all(
        spark.catalog.tableExists(name) for name in TABLES
    ):
        return
    _VIEWS_AT.pop(app, None)  # a failed bind must not leave a stale marker
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            spark.catalog.dropTempView(name)
        elif name == "events":
            _load_events(spark, sf_dir).createOrReplaceTempView(name)
        else:
            _read(spark, path).createOrReplaceTempView(name)
    _VIEWS_AT[app] = target


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table: `spark.table(name)` over the catalog views, bound
    to `sf_dir` first when they point elsewhere or this view is gone.
    The frame keeps its plan when the views are bound to another
    directory later. Callers should `.select()` early so ReadSchema
    stays narrow at 100 TB."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if _VIEWS_AT.get(spark.sparkContext.applicationId) == os.path.abspath(sf_dir):
        try:
            return spark.table(name)
        except AnalysisException:  # the view was dropped: bind it again
            pass
    register_views(spark, sf_dir)
    return spark.table(name)


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The streaming twin of `load_table`: a parquet file-source stream
    over one table, its schema declared from the footer (a stream source
    needs one up front). A table directory (Spark output, any number of
    part files) is the stream's path; a single-file table is read
    through its parent directory plus a `pathGlobFilter` on its file
    name, since a stream's path must be a directory. Columns come as
    stored: `read_events_stream` normalizes events.ts."""
    path = table_path(sf_dir, name)
    reader = spark.readStream.schema(footer_schema(path)).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", os.path.basename(path)).load(
        os.path.dirname(path)
    )


def events_raw_ts_type(spark: SparkSession, sf_dir: str) -> str:
    """Storage type of events.ts as the parquet reader reports it, from
    the footer (no Spark job): "bigint" for TIMESTAMP(NANOS),
    "timestamp_ntz" for naive µs, "timestamp" for tz-aware. The stream
    reader declares its schema from it. nanosAsLong is set at session
    build (session.py); this defensive idempotent set covers sessions
    built outside get_spark, so the reader agrees with "bigint"."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return footer_schema(table_path(sf_dir, "events"))["ts"].dataType.simpleString()


def nanos_to_timestamp(col: str) -> Column:
    """Raw-nanos bigint -> TIMESTAMP, truncated to micros — the same
    ns→µs truncation DuckDB applies."""
    return F.timestamp_micros(F.expr(f"{col} DIV 1000"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to TIMESTAMP_NTZ — in ONE place, for every
    storage variant the driver testdata has used:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
      read raw nanos as long (legacy conf, which only affects NANOS
      fields) and truncate to micros (`nanos_to_timestamp`).
    - parquet TIMESTAMP(µs) without timezone: Spark reads TIMESTAMP_NTZ
      natively; pass through.
    - tz-aware TIMESTAMP: cast to NTZ (the session timezone is pinned to
      UTC in session.py, so the cast is value-preserving).

    TIMESTAMP_NTZ is the canonical type because it is exactly what DuckDB
    reads for naive parquet timestamps — oracle twins then agree on both
    values AND type (the driver's value hash is type-sensitive)."""
    ts_type = events_raw_ts_type(spark, sf_dir)
    df = _read(spark, table_path(sf_dir, "events"))
    if ts_type == "bigint":  # TIMESTAMP(NANOS) footer read as raw nanos
        df = df.withColumn("ts", nanos_to_timestamp("ts").cast("timestamp_ntz"))
    elif ts_type == "timestamp":  # tz-aware storage; UTC session => no-op cast
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def validate_required_schema(df: DataFrame, required: dict[str, str]) -> DataFrame:
    """Schema-on-read with REQUIRED fields — the reference's
    parse_single_example with FixedLenFeatures and no defaults errors on
    any missing key (P1, data_queue.py:15-23). Raises ValueError listing
    every missing/mistyped column; returns df unchanged when valid, so it
    composes as a pass-through assertion at pipeline boundaries."""
    actual = dict(df.dtypes)
    problems = []
    for name, dtype in required.items():
        if name not in actual:
            problems.append(f"missing required column {name!r} ({dtype})")
        elif actual[name] != dtype:
            problems.append(
                f"column {name!r}: expected {dtype}, found {actual[name]}"
            )
    if problems:
        raise ValueError("schema validation failed: " + "; ".join(problems))
    return df
