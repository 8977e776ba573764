"""The driver JVM's class-data-sharing (CDS) archive.

A new driver JVM spends most of its first seconds loading and verifying
Spark's classes. JDK 17's dynamic AppCDS archive (JEP 350) holds those
classes pre-parsed: a JVM started with `-XX:SharedArchiveFile` maps them
instead of loading them. `session.get_spark` starts every driver JVM
from one; this module keys, builds and checks it.

Run as `python -m tf_datapipeline_spark.cds <archive> <heap>` it builds
an archive: one session under `-XX:ArchiveClassesAtExit`, a fixed warm-up,
then a JVM exit that writes the archive. The warm-up depends on nothing
but the code, so the archive is the same whichever caller built it.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVE_DIR = os.path.join(ROOT, ".jvm-cds")
# The driver's SPARK_CONF_DIR: CDS refuses a non-empty directory on the
# classpath, and Spark puts the conf dir there.
CONF_DIR = os.path.join(ARCHIVE_DIR, "conf")
# A heap of this size or more turns compressed oops off, which changes
# the layout an archive records.
_COMPRESSED_OOPS_MAX = 32 << 30
_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
_BUILD_TIMEOUT_S = 900


def heap_bytes(mem: str) -> int:
    """Bytes of a JVM memory string as `spark.driver.memory` reads it:
    "48g", "1024m"; a bare number is MiB."""
    s = mem.strip().lower().removesuffix("b")
    if s and s[-1] in _UNITS:
        return int(s[:-1]) * _UNITS[s[-1]]
    return int(s) << 20


def java_home() -> str:
    """The JDK spark-submit launches: $JAVA_HOME, else `java` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.path.realpath(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    if java is None:
        raise RuntimeError("no JAVA_HOME and no java on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(jdk: str, jars_dir: str, compressed_oops: bool) -> str:
    """What an archive is valid for: the JDK (its home and `release`
    file), each jar on the driver classpath (path, size, mtime) and the
    compressed-oops mode. A JVM that differs in any of them rejects the
    archive."""
    h = hashlib.sha256(f"{jdk}\0oops={int(compressed_oops)}\0".encode())
    with open(os.path.join(jdk, "release"), "rb") as f:
        h.update(f.read())
    for jar in sorted(glob.glob(os.path.join(jars_dir, "*.jar"))):
        st = os.stat(jar)
        h.update(f"\0{jar}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def archive_path(heap: str) -> str:
    """Where the archive for a driver heap of `heap` lives."""
    key = archive_key(
        java_home(),
        os.path.join(spark_home(), "jars"),
        heap_bytes(heap) < _COMPRESSED_OOPS_MAX,
    )
    return os.path.join(ARCHIVE_DIR, f"{key}.jsa")


def use_empty_conf_dir() -> None:
    """Point SPARK_CONF_DIR at an empty directory, which CDS accepts on
    the classpath. Allowed only while the conf dir in force holds nothing
    but `*.template` files, so no setting is lost by leaving it."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home(), "conf")
    if os.path.isdir(conf):
        live = [n for n in os.listdir(conf) if not n.endswith(".template")]
        if live:
            raise RuntimeError(
                f"Spark conf dir {conf} holds {sorted(live)}: the driver JVM "
                "starts from a class-data archive, which cannot have a "
                "non-empty directory on the classpath, and moving the conf "
                "dir aside would drop those files. Move their settings into "
                "session.get_spark or PYSPARK_SUBMIT_ARGS."
            )
    os.makedirs(CONF_DIR, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = CONF_DIR


def ensure_archive(path: str, heap: str, build=None) -> None:
    """Build the archive at `path` unless it is intact. The build runs
    under an exclusive lock on `<key>.lock`, so processes that miss
    together build it once. It writes `<path>.tmp`, renamed into place
    only when complete, so a killed build leaves just the `.tmp`, which
    the next miss overwrites. `build(tmp, heap)` defaults to the build
    subprocess, `_build`."""
    if _intact(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path.removesuffix(".jsa") + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if _intact(path):  # built by whoever held the lock
            return
        tmp = path + ".tmp"
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        (build or _build)(tmp, heap)
        if not os.path.isfile(tmp) or os.path.getsize(tmp) == 0:
            raise RuntimeError(f"class-data archive build wrote nothing to {tmp}")
        os.replace(tmp, path)
        with open(tmp, "w") as f:
            f.write(_stamp(path))
        os.replace(tmp, path + ".stamp")


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size} {st.st_mtime_ns}"


def _intact(path: str) -> bool:
    """Whether `path` is the file the build left, by the size and mtime
    recorded beside it. A JVM maps the archive without checking its
    length, so a truncated one would crash it (SIGBUS) instead of being
    rejected."""
    try:
        with open(path + ".stamp") as f:
            return f.read() == _stamp(path)
    except FileNotFoundError:
        return False


def _build(tmp: str, heap: str) -> None:
    """Run the archive build (this module's __main__) in a fresh Python. The
    caller's PYSPARK_SUBMIT_ARGS is dropped so the warm-up session is the
    same for every caller."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-m", "tf_datapipeline_spark.cds", tmp, heap],
        cwd=ROOT,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        timeout=_BUILD_TIMEOUT_S,
    )
    if proc.returncode:
        raise RuntimeError(
            f"class-data archive build failed ({proc.returncode}):\n"
            + proc.stdout[-4000:]
        )


def is_mapped(spark, path: str) -> bool:
    """Whether the driver JVM of `spark` runs with the archive `path`
    mapped. Under the default -Xshare:auto a JVM that rejects an archive
    still starts, unshared and silently; its memory map shows it."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    target = os.path.realpath(path)
    with open(f"/proc/{pid}/maps") as f:
        return any(line.rstrip("\n").endswith(" " + target) for line in f)


def stop_jvm(spark) -> None:
    """Stop the session, then its gateway JVM, and wait for the JVM to
    exit: closing its stdin ends the gateway, and a JVM under
    -XX:ArchiveClassesAtExit writes the archive before it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=_BUILD_TIMEOUT_S)
        SparkContext._gateway = None
        SparkContext._jvm = None


def warm_up(spark, work_dir: str) -> None:
    """Load the classes a job of this engine loads: a parquet write and a
    filtered read, a join and a groupBy under AQE, a window, an Arrow
    `mapInPandas`, the noop sink, and a short availableNow stream with
    `applyInPandasWithState`."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    table = os.path.join(work_dir, "t")
    spark.range(0, 20_000, numPartitions=4).selectExpr(
        "id", "id % 97 AS k", "CAST(id AS DOUBLE) / 7 AS v", "CAST(id AS STRING) AS s"
    ).write.parquet(table)
    df = spark.read.parquet(table).filter("k < 60")
    dim = spark.range(97).selectExpr("id AS k", "id % 7 AS g")
    df.join(dim, "k").groupBy("g").agg(F.sum("v"), F.count("*")).collect()
    rank = F.row_number().over(Window.partitionBy("k").orderBy(F.desc("v")))
    df.withColumn("r", rank).filter("r <= 3").orderBy("k", "r").collect()

    def double(batches):
        for pdf in batches:
            yield pdf.assign(v=pdf.v * 2)

    df.mapInPandas(double, df.schema).write.format("noop").mode("overwrite").save()

    def count(key, pdfs, state):
        n = (state.get[0] if state.exists else 0) + sum(len(p) for p in pdfs)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    stream = (
        spark.readStream.schema(df.schema)
        .parquet(table)
        .groupBy("k")
        .applyInPandasWithState(
            count, "k long, n long", "n long", "append", GroupStateTimeout.NoTimeout
        )
        .writeStream.format("memory")
        .queryName("cds_warm_up")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
    spark.sql("SELECT COUNT(*) FROM cds_warm_up").collect()


def main(tmp: str, heap: str) -> None:
    from tf_datapipeline_spark.session import engine_builder

    use_empty_conf_dir()
    spark = (
        engine_builder("jvm-cds-build", heap)
        .config("spark.driver.defaultJavaOptions", f"-XX:ArchiveClassesAtExit={tmp}")
        .getOrCreate()
    )
    with tempfile.TemporaryDirectory() as work_dir:
        warm_up(spark, work_dir)
    stop_jvm(spark)


if __name__ == "__main__":
    main(*sys.argv[1:])
