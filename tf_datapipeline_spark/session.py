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

from tf_datapipeline_spark import cds


def get_spark(app_name: str = "tf_datapipeline_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale rationale:
      - AQE on: runtime partition coalescing + skew-join splitting is the
        only robust answer to skewed keys at 100 TB.
      - shuffle.partitions is max(local cores, 8) here; on a real cluster
        this is sized to ~2-3x total executor cores (AQE coalesces the rest).
        Streams run without AQE, so `run_bounded` starts each bounded
        stream with the count capped at the task slots.
      - session timezone pinned UTC so results are comparable across
        engines (the DuckDB oracle is UTC-naive).
      - Arrow enabled: every pandas-UDF operator (image decode/augment,
        embedding kernels) moves data in Arrow batches, not pickled rows.
      - maxRecordsPerBatch bounded: multimodal rows are MB-scale; 10k-row
        Arrow batches of images would OOM an executor.
      - Python workers run `worker_daemon`, pyspark's daemon with zip
        importers that skip re-reading unchanged archives on every task.

    Class-data archive. JVM start and first-time class loading are most of
    a new job's set-up, so a driver JVM this call starts maps Spark's
    classes pre-parsed from a dynamic CDS archive (`cds.py`), passed in
    `spark.driver.defaultJavaOptions`, which a caller's
    `spark.driver.extraJavaOptions` does not override:
      - key: the JDK (home and `release` file), each jar under
        $SPARK_HOME/jars (path, size, mtime) and the compressed-oops mode
        (on below a 32 GB heap). The archive is
        `<checkout>/.jvm-cds/<key>.jsa`.
      - miss: the first call per key builds it in a subprocess under a
        file lock (40–50 s on 4 vCPU, once per checkout and key).
      - conf dir: CDS refuses a non-empty directory on the classpath, and
        Spark puts its conf dir there. SPARK_CONF_DIR is pointed at an
        empty directory, which is allowed only while the conf dir in
        force holds nothing but `*.template` files; otherwise this raises.
      - fail loudly: under -Xshare:auto a JVM that rejects the archive
        runs unshared without a word. If the started JVM has not mapped
        the archive, it is stopped, the archive rebuilt once and the JVM
        started again; if it still has not, this raises.
    A call that finds a gateway JVM already running (a session stopped
    and rebuilt in one process, or an external gateway) reuses it as is.
    """
    from pyspark import SparkContext

    heap = driver_heap()
    builder = engine_builder(app_name, heap)
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        spark = builder.getOrCreate()
    else:
        spark = _start_shared(builder, heap)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_heap() -> str:
    """The driver heap: SPARK_GRAFT_DRIVER_MEM as given, else half the
    host's physical memory and never more than 48g, so a caller that
    sets no heap cannot start a driver that outgrows its host."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 48 << 30) >> 20}m"


def engine_builder(app_name: str, heap: str) -> SparkSession.Builder:
    """A session builder with the engine's settings (see get_spark) and a
    driver heap of `heap`."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    return (
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
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "tf_datapipeline_spark.worker_daemon")
    )


def _start_shared(builder: SparkSession.Builder, heap: str) -> SparkSession:
    """Start the driver JVM from the class-data archive for `heap`; see
    get_spark."""
    cds.use_empty_conf_dir()
    path = cds.archive_path(heap)
    builder.config("spark.driver.defaultJavaOptions", f"-XX:SharedArchiveFile={path}")
    for _ in range(2):
        cds.ensure_archive(path, heap)
        spark = builder.getOrCreate()
        if cds.is_mapped(spark, path):
            return spark
        cds.stop_jvm(spark)
        os.remove(path)
    raise RuntimeError(
        f"the driver JVM did not map the class-data archive {path}, even "
        "after rebuilding it: the JVM would have run unshared. Check that "
        "spark.driver.memory, the JDK and the jars match between the "
        "archive build and this launch, and that nothing else sets "
        "spark.driver.defaultJavaOptions."
    )
