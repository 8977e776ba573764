"""SparkSession factory.

Local mode runs one task slot per core the process may use
(SPARK_GRAFT_CPUS overrides the count); cluster-relevant settings (AQE,
skew-join handling, broadcast threshold, Arrow batching for binary-heavy
rows) are the same knobs a 1000-executor deployment would set — nothing
here is local-only magic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tf_datapipeline_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale rationale:
      - AQE on: runtime partition coalescing + skew-join splitting is the
        only robust answer to skewed keys at 100 TB.
      - shuffle.partitions matches local cores here; on a real cluster this
        is sized to ~2-3x total executor cores (AQE coalesces the rest).
      - session timezone pinned UTC so results are comparable across
        engines (the DuckDB oracle is UTC-naive).
      - Arrow enabled: every pandas-UDF operator (image decode/augment,
        embedding kernels) moves data in Arrow batches, not pickled rows.
      - maxRecordsPerBatch bounded: multimodal rows are MB-scale; 10k-row
        Arrow batches of images would OOM an executor.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.filterPushdown", "true")
        # read TIMESTAMP(NANOS) parquet fields as raw int64 instead of
        # erroring — affects ONLY nanos-typed fields (the events table's
        # legacy storage era; catalog._load_events truncates to µs).
        # Set here so table loaders don't have to mutate session conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
