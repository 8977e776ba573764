"""Interchange-format sources/sinks (SURVEY.md §2A S6/S7 widened): the
engine's tables round-trip through CSV and JSON-lines — the two text
containers every ingest pipeline meets — and the results are value-checked
against the raw-parquet oracle, so the codec path itself is verified
(delimiters, quoting, header handling, float round-trip).

Float discipline: Spark's CSV/JSON writers emit shortest-round-trip
doubles (Java Double.toString), so read-back values are bit-identical and
the exact-decimal aggregate matches the oracle computed on the original
parquet.

Scale notes: both writers/readers are splittable line formats — a 100 TB
drop of .csv/.jsonl shards parallelizes by file and by block exactly like
the reference's sharded record files (S6, make_tf_record.py:94-97);
schemas are always EXPLICIT (inference would scan twice and guess types).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.functions.exact import dsum, sql_dsum
from tf_datapipeline_spark.registry import query
from tf_datapipeline_spark.sources.etl import scratch_dir

_CUSTOMER_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)
_NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"
_REGION_SCHEMA = "r_regionkey int, r_name string"
_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


# --------------------------------------------------------------------------
# q1o — CSV round-trip: customer/nation/region written as headered CSV,
# read back with explicit schemas, then the standard dim-join rollup.
# --------------------------------------------------------------------------
@query(
    "q1o_csv_roundtrip",
    oracle=f"""
    SELECT n.n_name, r.r_name AS region_name,
           COUNT(*) AS n_customers,
           {sql_dsum("c.c_acctbal", 2)} AS total_acctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
    """,
)
def q1o_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir(f"csv_{_tag(sf_dir)}")
    tables = {
        "customer": _CUSTOMER_SCHEMA,
        "nation": _NATION_SCHEMA,
        "region": _REGION_SCHEMA,
    }
    dfs = {}
    for t, schema in tables.items():
        path = f"{root}/{t}"
        load_table(spark, sf_dir, t).write.mode("overwrite").option(
            "header", "true"
        ).csv(path)
        dfs[t] = spark.read.schema(schema).option("header", "true").csv(path)
    joined = (
        dfs["customer"]
        .join(
            F.broadcast(dfs["nation"]),
            dfs["customer"].c_nationkey == dfs["nation"].n_nationkey,
        )
        .join(
            F.broadcast(dfs["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return joined.groupBy(
        "n_name", F.col("r_name").alias("region_name")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", 2).alias("total_acctbal"),
    )


# --------------------------------------------------------------------------
# q1p — JSON-lines round-trip: orders written as .jsonl, read back with an
# explicit schema (timestamps included), then an order-priority rollup.
# --------------------------------------------------------------------------
@query(
    "q1p_jsonl_roundtrip",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", 2)} AS total_price,
           CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_order
    FROM orders GROUP BY 1
    """,
)
def q1p_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir(f"jsonl_{_tag(sf_dir)}/orders")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").json(path)
    orders = spark.read.schema(_ORDERS_SCHEMA).json(path)
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 2).alias("total_price"),
        F.min("o_orderdate").cast("timestamp_ntz").alias("first_order"),
    )


# --------------------------------------------------------------------------
# q1q — partition-pruned layout round-trip: events written Hive-partitioned
# by event_date (sources/partitioned.py), then a single-week rollup read
# back through the partition filter — the scan opens only matching
# date directories (PartitionFilters pinned in tests/test_plans.py
# test_partition_pruning). At 100 TB this is the difference between
# scanning a week and scanning the lake. Oracle recomputes the same week
# from the raw table.
# --------------------------------------------------------------------------
@query(
    "q1q_partitioned_week",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", 6)} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY 1, 2
    """,
)
def q1q_partitioned_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.sources.partitioned import write_events_by_date

    out = scratch_dir(f"events_by_date_{_tag(sf_dir)}")
    write_events_by_date(spark, sf_dir, out)
    ev = spark.read.parquet(out).filter(
        F.col("event_date").between("2024-01-08", "2024-01-14")
    )
    return ev.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q1r — schema-evolution read: two parquet drops of the documents profile,
# the second with an added column (quality tier), merged with mergeSchema
# — old files surface NULL for the new column and the engine backfills
# with a default. This is the lake-evolution contract (new ETL fields
# must not break old partitions). The oracle derives the same tier rule:
# docs in the second half carry the tier, the first half backfills ''.
# --------------------------------------------------------------------------
@query(
    "q1r_schema_evolution",
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 1
                THEN CASE WHEN n_chars >= 400 THEN 'long' ELSE 'short' END
                ELSE '' END AS tier,
           lang,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def q1r_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir(f"evolve_{_tag(sf_dir)}")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    # drop 1: the original schema (even doc_ids)
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(
        f"{root}/v1"
    )
    # drop 2: evolved schema with a derived tier column (odd doc_ids)
    docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "tier",
        F.when(F.col("n_chars") >= 400, "long").otherwise("short"),
    ).write.mode("overwrite").parquet(f"{root}/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/v1", f"{root}/v2"
    )
    return merged.select(
        F.coalesce("tier", F.lit("")).alias("tier"), "lang"
    ).groupBy("tier", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# q1t — ORC round-trip: orders written as ORC (Spark's second columnar
# container, zlib-striped), read back with an explicit schema, filtered —
# the filter reaches the ORC reader as a search argument (ORC predicate
# pushdown skips non-matching stripes, the columnar-scan analog of q1q's
# partition pruning) — then rolled up. Oracle computes the same rollup
# from the raw parquet, so the ORC codec path (types, timestamps, float
# round-trip) is value-checked end to end.
# --------------------------------------------------------------------------
@query(
    "q1t_orc_roundtrip",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", 2)} AS total_price,
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_order
    FROM orders
    WHERE o_totalprice > 150000
    GROUP BY 1
    """,
)
def q1t_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir(f"orc_{_tag(sf_dir)}/orders")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    # ORC is self-describing; the embedded schema preserves the parquet
    # source's TIMESTAMP_NTZ exactly (an explicit LTZ schema would fail
    # the reader's type-compatibility check).
    orders = spark.read.orc(path)
    return (
        orders.filter(F.col("o_totalprice") > 150000)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_price"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


# --------------------------------------------------------------------------
# q1ab — XML round-trip: supplier written as element-rows XML
# (Spark 4's NATIVE xml source — no external package), read back with an
# explicit schema, then a per-nation supplier rollup value-checked
# against the raw-parquet oracle. XML is the interchange container
# enterprise feeds still arrive in; the read path is splittable by file
# (a 100 TB drop of .xml shards parallelizes like the CSV/JSONL twins —
# q1o/q1p), and the schema is explicit for the same
# no-inference-double-scan reason. Float discipline: the XML writer
# emits shortest-round-trip doubles like the CSV/JSON writers, so the
# exact-decimal aggregate matches the oracle bit-for-bit.
# --------------------------------------------------------------------------
_SUPPLIER_SCHEMA = (
    "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
)


@query(
    "q1ab_xml_roundtrip",
    oracle=f"""
    SELECT n.n_name,
           COUNT(*) AS n_suppliers,
           {sql_dsum("s.s_acctbal", 2)} AS total_acctbal,
           MIN(s.s_suppkey) AS min_suppkey
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1
    """,
)
def q1ab_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir(f"xml_{_tag(sf_dir)}")
    path = f"{root}/supplier"
    load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    ).write.mode("overwrite").format("xml").option("rootTag", "suppliers").option(
        "rowTag", "supplier"
    ).save(path)
    sup = (
        spark.read.schema(_SUPPLIER_SCHEMA)
        .format("xml")
        .option("rowTag", "supplier")
        .load(path)
    )
    nat = load_table(spark, sf_dir, "nation")
    return (
        sup.join(
            F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum("s_acctbal", 2).alias("total_acctbal"),
            F.min("s_suppkey").alias("min_suppkey"),
        )
    )
