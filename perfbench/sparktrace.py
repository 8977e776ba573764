"""Streaming attribution and Spark event-log parsing.

Both read what Spark itself reports, the way an operator would on a
cluster: a `StreamingQueryListener` for micro-batch progress, and the
JSON event log (enabled at launch, uncompressed, not rolled) for jobs,
tasks, executor CPU, shuffle and Python-worker SQL metrics.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming.listener import StreamingQueryListener


class StreamTracker(StreamingQueryListener):
    """Maps every streaming run to the benchmark query that started it.

    Stream jobs carry the stream's run id as their job group, not the
    caller's, so the caller's group cannot find them. `onQueryStarted` is
    delivered synchronously from `DataStreamWriter.start()`, while the
    benchmark's `current` label still names the running query; progress
    and termination events arrive later on the listener bus."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.current: tuple[str, int] | None = None
        self.owner: dict[str, tuple[str, int]] = {}  # runId -> (query, pass)
        self.query_ids: dict[str, tuple[str, int]] = {}  # stream id -> (query, pass)
        self.batches: dict[str, list[dict]] = defaultdict(list)  # runId -> progress
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            owner = self.current or ("?", -1)
            self.owner[str(event.runId)] = owner
            self.query_ids[str(event.id)] = owner

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state_rows = sum(op.numRowsTotal for op in (p.stateOperators or []))
        with self._lock:
            self.batches[str(p.runId)].append(
                {
                    "batch": p.batchId,
                    "trigger_s": (p.durationMs or {}).get("triggerExecution", 0) / 1000.0,
                    "input_rows": p.numInputRows,
                    "state_rows": state_rows,
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, timeout_s: float = 15.0) -> bool:
        """Block until every started run has delivered its termination
        event (progress events precede it on the bus)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.owner) <= self.terminated:
                    return True
            time.sleep(0.05)
        return False

    def runs_of(self, key: tuple[str, int]) -> list[str]:
        with self._lock:
            return [r for r, o in self.owner.items() if o == key]

    def batches_of(self, run_id: str) -> list[dict]:
        with self._lock:
            return sorted(self.batches.get(run_id, []), key=lambda b: b["batch"])


_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def _walk_plan(info: dict, python_ids: set[int]) -> None:
    if _PYTHON_NODE.search(info.get("nodeName", "")):
        for m in info.get("metrics", []):
            if m["name"] in ("number of output rows", "data sent to Python workers"):
                python_ids.add(m["accumulatorId"])
    for child in info.get("children", []):
        _walk_plan(child, python_ids)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def parse_event_log(path: str) -> dict[str, dict]:
    """Totals per job group from one application's event log.

    The group is the benchmark's `name#pass` group for jobs the query's
    own thread submitted, or a stream's run id for micro-batch jobs; jobs
    in no group are totalled under ""."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    python_ids: set[int] = set()
    tasks: list[dict] = []
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "tasks": 0,
            "failed_tasks": 0,
            "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0,
            "input_bytes": 0,
            "python_rows": 0,
            "python_bytes_sent": 0,
            "job_intervals": [],
        }
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
                out[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    out[job_group[jid]]["job_intervals"].append(
                        (job_start[jid], ev["Completion Time"])
                    )
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith(
                ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
            ):
                _walk_plan(ev.get("sparkPlanInfo") or {}, python_ids)
    # task events are resolved after the whole log is read: a stage's
    # plan metrics may be announced by an adaptive update that is logged
    # after some of its tasks
    for ev in tasks:
        rec = out[job_group.get(stage_job.get(ev["Stage ID"], -1), "")]
        info = ev.get("Task Info") or {}
        metrics = ev.get("Task Metrics") or {}
        rec["tasks"] += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if info.get("Failed") or reason != "Success":
            rec["failed_tasks"] += 1
        rec["executor_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
        rec["shuffle_write_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        rec["input_bytes"] += (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("ID") in python_ids:
                value = int(acc.get("Update") or 0)
                if acc.get("Name") == "data sent to Python workers":
                    rec["python_bytes_sent"] += value
                else:
                    rec["python_rows"] += value
    for rec in out.values():
        rec["job_union_ms"] = _union_ms(rec.pop("job_intervals"))
    return dict(out)
