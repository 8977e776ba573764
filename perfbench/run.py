"""Repository benchmark: cold-path passes over one workload's queries.

    python3 perfbench/run.py --workload tabular --seed 1 --seconds 20 --trace 0

One process drives `local[<cpus>]` in a closed loop: one client issues the
next query only after the previous one finished. Each query is built by
its registered function (`build`) and run through the noop sink
(`action`). Every pass reads the tables through a path no earlier pass in
the session used (a fresh symlink to the generated corpus), so no memo
keyed on the input path carries a build from one pass into the next. The
seed shuffles query order within each pass.

A run:
  1. generates the input corpus under .perfbench/data once per checkout;
  2. sets up the session cold: a new JVM, the registry, the first views;
  3. makes one untimed pass that collects every result and checks its
     hash against pins.json; it is also the JIT warm-up;
  4. makes the timed passes that fill `--seconds` at the workload's
     nominal pass time (at least two).

Every reported time is net of the CPU time the hypervisor stole from this
guest during the interval (see `Interval`).

The last stdout line is the JSON result. `--trace 1` enables the Spark
event log at launch and reports the per-layer metrics instead of the
end-to-end ones. A detailed artifact goes to .perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

from check import NOMINAL_PASS_S, WORKLOADS, load_pins, resolve, result_hash

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(WORK, "data", "sf0.01")
OUT_DIR = os.path.join(WORK, "out")
DRIVER_MEM = "1g"
MIN_PASSES = 2

MODULES = [
    "operators.relational",
    "operators.window",
    "operators.events",
    "operators.layout",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.prep",
    "operators.multimodal",
    "streaming",
]
MODULE_METRICS = {
    "build_s": "s",
    "action_s": "s",
    "build_jobs": "count",
    "action_jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "driver_s": "s",
}
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_gmean_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "catalog.register_views_s": "s",
    "catalog.documents_splits": "count",
    **{f"{m}.{k}": u for m in MODULES for k, u in MODULE_METRICS.items()},
    "streaming.jobs": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.batch_max_s": "s",
    "streaming.startup_s": "s",
    "streaming.state_rows": "count",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.write_amp": "ratio",
    "functions.python_rows": "count",
    "functions.python_mb_sent": "MB",
    "plans.exchanges": "count",
    "plans.python_evals": "count",
    "failed_tasks": "count",
    "trace.pass_s": "s",
}


def module_of(fn) -> str:
    mod = fn.__module__.removeprefix("tf_datapipeline_spark.")
    return "streaming" if mod.startswith("streaming.") else mod


def timed_passes(workload: str, seconds: float) -> int:
    """Timed passes that fill `seconds` at the workload's nominal pass time.

    The count depends on the arguments only, not on how fast the host is
    that minute: the JIT is still warming up across these passes, so a
    time-bound loop gave a fast run more passes further down the warm-up
    curve and a lower median, which widened the spread between runs."""
    return max(MIN_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def configure_launch(run_dir: str, trace: bool) -> dict:
    """Set the launch environment before the JVM starts instead of
    inheriting the caller's: core count, driver heap, local and temp dirs
    inside the run dir, and the package on the Python workers' path."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    conf = {
        # no hsperfdata file under /tmp: the run writes only inside its dir.
        # The heap is committed at full size from the start, so the peak
        # resident set does not depend on when the collector grows it.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            # the launcher JVM that spark-submit starts first
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        }
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return {"cpus": cpus, "driver_memory": DRIVER_MEM, "trace": trace}


def vm_hwm_mb(pid) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_cpu_s() -> list[tuple[float, float]]:
    """Busy and stolen CPU seconds so far of the whole guest, then of each
    of its CPUs (/proc/stat). Busy is user + nice + system + irq +
    softirq; stolen is time a CPU of this guest was ready to run while the
    hypervisor ran another guest."""
    hz = os.sysconf("SC_CLK_TCK")
    out = []
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu"):
                break
            v = [int(x) for x in line.split()[1:9]]
            out.append(((v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz))
    return out


class Interval:
    """Wall time of an interval, raw and net of steal.

    If the hypervisor steals a share s of the time this guest's CPUs want
    to run, evenly, every runnable thread advances at 1 - s of its speed,
    and the interval takes 1 / (1 - s) times as long as on an unshared
    host, whatever its parallelism. `net_s` = wall x (1 - s), with
    s = stolen / (stolen + busy) over the interval. On a shared 4-vCPU
    host this halved the spread of pass times between runs; it does not
    remove a neighbour's contention for caches and memory bandwidth."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.cpu0 = host_cpu_s()

    def stop(self) -> dict:
        wall = time.perf_counter() - self.t0
        deltas = [(b1 - b0, s1 - s0) for (b0, s0), (b1, s1) in zip(self.cpu0, host_cpu_s())]
        busy, stolen = deltas[0]
        share = stolen / (stolen + busy) if stolen + busy > 0 else 0.0
        return {"wall_s": wall, "net_s": wall * (1.0 - share), "steal_s": stolen,
                "busy_s": busy, "steal_share": share, "per_cpu": deltas[1:]}


def table_stats(data_dir: str) -> dict:
    import pyarrow.parquet as pq

    return {
        name.removesuffix(".parquet"): {
            "rows": pq.ParquetFile(os.path.join(data_dir, name)).metadata.num_rows,
            "bytes": os.path.getsize(os.path.join(data_dir, name)),
        }
        for name in sorted(os.listdir(data_dir))
    }


def scratch_writes(since: float) -> tuple[int, int]:
    """Files and bytes under the package's scratch root modified since
    `since` (epoch seconds): what the shard writers and sinks wrote."""
    files = size = 0
    for dirpath, _, names in os.walk(os.path.join(ROOT, ".scratch")):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


def plan_counts(text: str) -> dict:
    ops = [line.lstrip("+-:* ").split(" ")[0] for line in text.splitlines()]
    return {
        "exchanges": sum(op.endswith("Exchange") for op in ops),
        "python_evals": sum(
            op.endswith(("Python", "InPandas", "InArrow", "InPandasWithState"))
            for op in ops
        ),
    }


class Bench:
    def __init__(
        self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str, pins: dict
    ):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.pins = pins
        self.spark = None
        self.tracker = None
        self.n_paths = 0
        self.setup_times: dict = {}
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0

    def fresh_path(self) -> str:
        """A path to the corpus that no earlier pass used."""
        self.n_paths += 1
        d = os.path.join(self.run_dir, "paths", str(self.n_paths))
        os.makedirs(d)
        os.symlink(DATA_DIR, os.path.join(d, "sf"))
        return os.path.join(d, "sf")

    def setup(self) -> None:
        """session.get_spark + registry.queries() + the first
        catalog.register_views, in a new JVM: the fixed cost a job pays
        before its first query."""
        whole = Interval()
        t0 = time.perf_counter()
        from tf_datapipeline_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from tf_datapipeline_spark import catalog, registry

        self.catalog = catalog
        self.queries = registry.queries()
        t2 = time.perf_counter()
        catalog.register_views(self.spark, self.fresh_path())
        t3 = time.perf_counter()
        self.setup_times = {"session_s": t1 - t0, "registry_s": t2 - t1,
                            "views_s": t3 - t2, **whole.stop()}

    def run_query(self, name: str, p: int, path: str, timed: bool) -> dict | None:
        sc = self.spark.sparkContext
        group = f"{name}#{p}"
        sc.setJobGroup(group, group)
        self.tracker.current = (name, p)
        self.attempted += 1
        rec = {"name": name, "pass": p, "start_ms": time.time() * 1000.0}
        try:
            whole = Interval()
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, path)
            t1 = time.perf_counter()
            rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            if timed:
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.collect()
            t2 = time.perf_counter()
        except Exception as exc:  # one failing query must not end the run
            self.failures.append(
                {"query": name, "pass": p, "error": f"{type(exc).__name__}: {exc}"[:500]}
            )
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec["end_ms"] = time.time() * 1000.0
        rec["build_s"], rec["action_s"] = t1 - t0, t2 - t1
        rec["latency_net_s"] = whole.stop()["net_s"]
        rec["action_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group)) - rec["build_jobs"]
        rec["stream_runs"] = self.tracker.runs_of((name, p))
        rec["stream_jobs"] = sum(
            len(sc.statusTracker().getJobIdsForGroup(r)) for r in rec["stream_runs"]
        )
        if timed:
            rec["df"] = df
        else:
            rec["hash"] = result_hash(rows, df.columns)
            pin = self.pins.get(name, {}).get("hash")
            if rec["hash"] != pin:
                self.failures.append(
                    {"query": name, "pass": p, "error": f"result hash {rec['hash']} != pin {pin}"}
                )
        return rec

    def run_pass(self, p: int, names: list[str], timed: bool) -> dict:
        order = list(names)
        random.Random(f"{self.seed}:{p}").shuffle(order)
        path = self.fresh_path()
        since = time.time()
        whole = Interval()
        t0 = time.perf_counter()
        self.catalog.register_views(self.spark, path)
        t1 = time.perf_counter()
        recs = [self.run_query(n, p, path, timed) for n in order]
        ps = {
            "pass": p,
            "timed": timed,
            **whole.stop(),
            "register_views_s": t1 - t0,
            "queries": [r for r in recs if r is not None],
        }
        # bookkeeping outside the pass wall: write volume and, on the
        # first traced pass, plan shapes
        if self.trace:
            ps["files_written"], ps["bytes_written"] = scratch_writes(since)
            if p == 1:
                from tf_datapipeline_spark.plans.inspect import formatted_plan

                for r in ps["queries"]:
                    r["plan"] = plan_counts(formatted_plan(r["df"]))
        for r in ps["queries"]:
            r.pop("df", None)
        return ps

    def run(self) -> dict:
        self.setup()
        spark = self.spark
        names = resolve(list(self.queries), WORKLOADS[self.workload])
        unknown = {module_of(self.queries[n]) for n in names} - set(MODULES)
        if unknown:
            raise RuntimeError(f"workload queries in modules with no layer metrics: {unknown}")
        from sparktrace import StreamTracker

        self.tracker = StreamTracker()
        spark.streams.addListener(self.tracker)
        probe = {}
        if self.trace:
            import bench as repo_bench

            probe["before"] = repo_bench.calibration_probe(spark)
        self.passes.append(self.run_pass(0, names, timed=False))
        start = time.perf_counter()
        for p in range(1, timed_passes(self.workload, self.seconds) + 1):
            self.passes.append(self.run_pass(p, names, timed=True))
        measured_s = time.perf_counter() - start
        if self.trace:
            probe["after"] = repo_bench.calibration_probe(spark)
        info = {
            "measured_s": measured_s,
            "calibration_probe_s": probe,
            "host_steal_share": median(ps["steal_share"] for ps in self.passes if ps["timed"]),
            "streams_all_terminated": self.tracker.wait_terminated(),
            "app_id": spark.sparkContext.applicationId,
            "spark": spark.version,
            "python": sys.version.split()[0],
        }
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        info["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        if self.trace:
            docs = self.catalog.load_table(spark, self.fresh_path(), "documents")
            info["documents_splits"] = docs.rdd.getNumPartitions()
        return info

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def job_count_check(passes: list[dict]) -> dict:
    """Job counts per fresh-path pass. Query order changes between passes,
    so a per-path memo shared by several queries moves its jobs to
    whichever query runs first; the per-pass totals must not move. A
    total that drops in a later pass means a memo carried a build across
    fresh paths."""
    build = {ps["pass"]: sum(r["build_jobs"] + r["stream_jobs"] for r in ps["queries"])
             for ps in passes}
    action = {ps["pass"]: sum(r["action_jobs"] for r in ps["queries"])
              for ps in passes if ps["timed"]}
    per_query: dict[str, set] = defaultdict(set)
    for ps in passes:
        for r in ps["queries"]:
            per_query[r["name"]].add(r["build_jobs"] + r["stream_jobs"])
    return {
        "build_jobs_per_pass": build,
        "action_jobs_per_pass": action,
        "carryover_suspect": len(set(build.values())) > 1 or len(set(action.values())) > 1,
        "order_dependent_queries": sorted(n for n, c in per_query.items() if len(c) > 1),
    }


def end_to_end(b: Bench, info: dict, timed: list[dict]) -> tuple[dict, dict]:
    per_query: dict[str, list[float]] = defaultdict(list)
    for ps in timed:
        for r in ps["queries"]:
            per_query[r["name"]].append(r["latency_net_s"])
    latencies = sorted(t for ts in per_query.values() for t in ts)
    typical = {n: median(ts) for n, ts in per_query.items()}
    metrics = {
        "setup_s": b.setup_times["net_s"],
        "pass_s": median(ps["net_s"] for ps in timed),
        "query_gmean_s": statistics.geometric_mean(typical.values()),
        "peak_rss_mb": info["peak_rss_mb"],
    }
    slowest = max(typical, key=typical.get)
    samples = {"passes": len(timed), "latency_samples": len(latencies),
               "query_p50_s": median(latencies),
               "slowest_query": {"name": slowest, "median_s": typical[slowest]},
               "setup_wall_s": b.setup_times["wall_s"],
               "pass_wall_s": median(ps["wall_s"] for ps in timed)}
    return metrics, samples


def per_layer(b: Bench, info: dict, timed: list[dict]) -> tuple[dict, list[dict]]:
    """Per-layer metrics: medians over timed passes of per-pass totals,
    plus a per-(query, pass) table attributing everything to its module."""
    from sparktrace import parse_event_log

    log = parse_event_log(os.path.join(b.run_dir, "eventlog", info["app_id"]))
    rows = []
    per_pass = []
    for ps in timed:
        acc: dict[str, float] = defaultdict(float)
        batches = []
        stream_wall = 0.0
        for r in ps["queries"]:
            m = module_of(b.queries[r["name"]])
            own = log.get(f"{r['name']}#{ps['pass']}", {})
            runs = [log.get(run_id, {}) for run_id in r["stream_runs"]]
            evs = [own, *runs]
            union_ms = sum(e.get("job_union_ms", 0) for e in evs)
            row = {
                "query": r["name"],
                "pass": ps["pass"],
                "module": m,
                "build_s": r["build_s"],
                "action_s": r["action_s"],
                "build_jobs": r["build_jobs"],
                "action_jobs": r["action_jobs"],
                "stream_jobs": r["stream_jobs"],
                "tasks": sum(e.get("tasks", 0) for e in evs),
                "executor_cpu_s": sum(e.get("executor_cpu_s", 0.0) for e in evs),
                "shuffle_write_mb": sum(e.get("shuffle_write_bytes", 0) for e in evs) / 1e6,
                "driver_s": max(0.0, r["end_ms"] - r["start_ms"] - union_ms) / 1000.0,
            }
            rows.append(row)
            for k in MODULE_METRICS:
                acc[f"{m}.{k}"] += row[k]
            acc["functions.python_rows"] += sum(e.get("python_rows", 0) for e in evs)
            acc["functions.python_mb_sent"] += sum(e.get("python_bytes_sent", 0) for e in evs) / 1e6
            acc["failed_tasks"] += sum(e.get("failed_tasks", 0) for e in evs)
            acc["input_bytes"] += sum(e.get("input_bytes", 0) for e in evs)
            acc["streaming.jobs"] += r["stream_jobs"]
            for run_id in r["stream_runs"]:
                runs_batches = b.tracker.batches_of(run_id)
                batches += [bt["trigger_s"] for bt in runs_batches]
                acc["streaming.state_rows"] += runs_batches[-1]["state_rows"] if runs_batches else 0
            if r["stream_runs"]:
                stream_wall += r["build_s"]
        acc["streaming.batches"] = len(batches)
        acc["streaming.batch_p50_s"] = median(batches)
        acc["streaming.batch_max_s"] = max(batches, default=0.0)
        acc["streaming.startup_s"] = stream_wall - sum(batches) if batches else 0.0
        acc["sources.files_written"] = ps["files_written"]
        acc["sources.bytes_written"] = ps["bytes_written"]
        acc["sources.write_amp"] = (
            ps["bytes_written"] / acc["input_bytes"] if acc["input_bytes"] else 0.0
        )
        acc["trace.pass_s"] = ps["wall_s"]
        per_pass.append(acc)
    first = timed[0]["queries"]
    metrics = {
        "session.start_s": b.setup_times["session_s"],
        "registry.load_s": b.setup_times["registry_s"],
        "catalog.register_views_s": median(ps["register_views_s"] for ps in timed),
        "catalog.documents_splits": info["documents_splits"],
        "plans.exchanges": sum(r["plan"]["exchanges"] for r in first),
        "plans.python_evals": sum(r["plan"]["python_evals"] for r in first),
    }
    for name in PER_LAYER:
        if name not in metrics:
            metrics[name] = median(acc.get(name, 0.0) for acc in per_pass)
    return metrics, rows


def reconcile(metrics: dict) -> dict:
    """How much of the traced pass the per-module build and action times
    plus `register_views` account for. The rest is the benchmark's own
    bookkeeping between queries."""
    accounted = metrics["catalog.register_views_s"] + sum(
        metrics[f"{m}.{k}"] for m in MODULES for k in ("build_s", "action_s")
    )
    gap = 1.0 - accounted / metrics["trace.pass_s"]
    return {"accounted_s": accounted, "pass_s": metrics["trace.pass_s"], "gap": gap,
            "within_10pct": abs(gap) <= 0.10}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "tf_datapipeline_spark", "registry.py")):
        print("no tf_datapipeline_spark package next to perfbench/", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        import gen

        os.makedirs(os.path.dirname(DATA_DIR), exist_ok=True)
        gen.generate(DATA_DIR)

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    env = configure_launch(run_dir, bool(args.trace))
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, load_pins())
    try:
        info = b.run()
        b.shutdown()  # flushes the event log
        timed = [ps for ps in b.passes if ps["timed"]]
        e2e, samples = end_to_end(b, info, timed)
        artifact = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "env": {**env, "spark": info["spark"], "python": info["python"],
                    "tables": table_stats(DATA_DIR)},
            "calibration_probe_s": info["calibration_probe_s"],
            "host_steal_share": info["host_steal_share"],
            "measured_s": info["measured_s"],
            "setup": b.setup_times,
            "passes": b.passes,
            "streams": {
                run_id: {"owner": list(owner), "batches": b.tracker.batches_of(run_id)}
                for run_id, owner in b.tracker.owner.items()
            },
            "streams_all_terminated": info["streams_all_terminated"],
            "job_counts": job_count_check(b.passes),
            "failures": b.failures,
            "end_to_end": e2e,
            "samples": samples,
        }
        metrics, units = e2e, END_TO_END
        if args.trace:
            metrics, artifact["attribution"] = per_layer(b, info, timed)
            artifact["per_layer"], units = metrics, PER_LAYER
            artifact["reconcile"] = reconcile(metrics)
            untraced = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
            if os.path.isfile(untraced):
                with open(untraced) as f:
                    base = json.load(f)["end_to_end"]["pass_s"]
                artifact["tracing_overhead_s"] = e2e["pass_s"] - base
    finally:
        b.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if artifact["job_counts"]["carryover_suspect"]:
        print(f"job totals changed between fresh-path passes: {artifact['job_counts']}",
              file=sys.stderr)
    if artifact["host_steal_share"] > 0.05:
        print(f"host busy: the hypervisor stole {artifact['host_steal_share']:.0%} of the "
              "CPU time of a typical timed pass", file=sys.stderr)
    if args.trace and not artifact["reconcile"]["within_10pct"]:
        print(f"per-module times do not reconcile: {artifact['reconcile']}", file=sys.stderr)
    result = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len({(f["query"], f["pass"]) for f in b.failures}),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
