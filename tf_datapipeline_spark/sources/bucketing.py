"""Bucketed (pre-shuffled) storage for co-located joins.

The reference pre-shards its record files once at ETL time so readers
get parallel sequential I/O for free (S6, make_tf_record.py:111-128).
Bucketing is the same idea applied to JOIN keys: pay the shuffle once at
write time, then every subsequent join/aggregation on the bucket key
runs shuffle-free — at 100 TB the difference between re-exchanging a
fact table per query and never moving it again. tests/test_plans.py
asserts the Exchange really disappears from the bucketed join plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 8
) -> None:
    """Persist df as a parquet table hash-bucketed (and sorted) by key —
    Spark's durable pre-partitioning. Bucket count is the write-once
    parallelism contract: pick ~(table size / 128 MB) on a cluster."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def bucketed_orders_lineitem(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Write orders+lineitem bucketed on the join key; returns the table
    names. Every call rebuilds both tables, so each call pays its own
    build and reads the current source rows."""
    from tf_datapipeline_spark.catalog import load_table

    import hashlib
    import shutil
    from urllib.parse import urlparse

    # stable across processes (Python's str hash is seed-randomized)
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    t_orders, t_lineitem = f"orders_b{suffix}", f"lineitem_b{suffix}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def build(table: str, df: DataFrame) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # a fresh session's catalog doesn't know tables a previous process
        # wrote; saveAsTable refuses to adopt the orphaned location, so
        # clear it too
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
        write_bucketed(df, table, "o_orderkey", n_buckets)

    build(t_orders, load_table(spark, sf_dir, "orders"))
    build(
        t_lineitem,
        load_table(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ),
    )
    return t_orders, t_lineitem


def colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem on the bucketed key: Catalyst sees matching
    bucket specs on both sides and plans a SortMergeJoin with NO Exchange
    (and no per-query sort — buckets are sorted at write time)."""
    t_orders, t_lineitem = bucketed_orders_lineitem(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return o.join(li, "o_orderkey").select(
        "o_orderkey", "o_custkey", "o_totalprice", "l_extendedprice", "l_quantity"
    )
