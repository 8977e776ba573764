"""Capture .explain("formatted") for a set of queries into .plans/<tag>/.

Usage:
  python tools/capture_plans.py <tag> <suffix> [q1,q2,... | ALL]

Writes .plans/<tag>/<query>_<suffix>.txt for each query (suffix is
"before" / "after" per the optimization-round deliverable); .plans/ is
git-ignored, so a capture leaves the checkout clean (the committed
plans/r11 and plans/r12 are earlier captures). Uses
$SPARK_GRAFT_SF_DIR (default sf0.1) so the plans match the bench scale.
Each plan is written in `canonical_plan` form, so the captures of two
checkouts diff cleanly (`diff -r <a>/.plans/<tag> <b>/.plans/<tag>`). A query that
runs streams (a bounded stream returns its sink's rows, whose plan is a
`LocalTableScan`) also gets each stream's last micro-batch plan,
appended in `canonical_stream_plan` form. Scan fields such as
`DataFilters` are captured whole, not cut at Spark's metadata length.
"""

from __future__ import annotations

import os
import re
import sys
from collections.abc import Iterator

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

# ids that depend on what ran earlier in the JVM, not on the plan
_IDS = [
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),  # checkpoint RDDs
    # the Java call site that made an RDD prints as
    # `NativeMethodAccessorImpl.java:0` or, once the JVM has swapped its
    # reflection accessor after enough calls, `<unknown>:0`
    (re.compile(r"(RDD\[N\] at \w+ at )[^\s,]+:\d+"), r"\1<callsite>"),
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+#"), r"\1_N#"),  # lambda variables
    # the distinct-aggregate group id literals follow the groups' order
    (re.compile(r"\(gid#N = \d+\)"), "(gid#N = ?)"),
]
# a stream's physical plan names its run, its checkpoint, its batch time
# and the sink's writer object
_STREAM_IDS = [
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"checkpoint = [^,\]]+"), "checkpoint = <checkpoint>"),
    (re.compile(r"((?:No|ProcessingTime|EventTime)Timeout), \d+"), r"\1, <batch_ts>"),
    (re.compile(r"(?<=[A-Za-z])@[0-9a-f]+\b"), "@N"),
]
_LIST_LINE = re.compile(r"^(Input|Output|Keys|Results) \[(\d+)\]: \[(.*)\]$")
_NODE = re.compile(r"^\(\d+\) (\w+)")


def _split_top(s: str) -> list[str]:
    """Comma-separated items of `s`, splitting only outside brackets."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    return items + [tail] if tail else items


def _sorted_list(body: str) -> str:
    return "[" + ", ".join(sorted(_split_top(body))) + "]"


def _canonical_expand(args: str) -> str:
    """An Expand node's `[[group], ...], [output]` arguments with each
    projection group's entries sorted (its group-id literal masked) and
    the groups and the output attributes sorted: Spark orders the
    distinct-aggregate groups by expression ids, so the same query
    plans them in either order depending on what ran before it."""
    groups, output = _split_top(args)
    canon = []
    for g in _split_top(groups[1:-1]):
        entries = ["?" if e.isdigit() else e for e in _split_top(g[1:-1])]
        canon.append(_sorted_list(", ".join(entries)))
    return "[" + ", ".join(sorted(canon)) + "], " + _sorted_list(output[1:-1])


def _canonical_hashpartitioning(line: str) -> str:
    """`hashpartitioning(keys..., n)` with its keys sorted: the keys
    follow the child's attribute order (see canonical_plan)."""
    start = line.find("hashpartitioning(")
    if start < 0:
        return line
    open_at = start + len("hashpartitioning")
    depth = 0
    for end in range(open_at, len(line)):
        depth += {"(": 1, ")": -1}.get(line[end], 0)
        if depth == 0:
            break
    *keys, n = _split_top(line[open_at + 1 : end])
    return f"{line[:open_at]}({', '.join(sorted(keys) + [n])}{line[end:]}"


def canonical_plan(plan: str) -> str:
    """`plan` (formatted explain text) with run-dependent ids masked, the
    attribute lists of Input/Output/Keys/Results lines and hash
    partitioning keys sorted, and each Expand node's groups sorted
    (`_canonical_expand`). Two plans that differ only in what ran before
    them in the JVM or in where the checkout lives compare equal; column
    ORDER within a node is not compared."""
    plan = plan.replace(REPO_DIR, "<repo>")
    for pat, rep in _IDS:
        plan = pat.sub(rep, plan)
    out, node = [], None
    for line in plan.splitlines():
        head = _NODE.match(line)
        if head:
            node = head.group(1)
        listed = _LIST_LINE.match(line)
        if listed:
            label, n, body = listed.groups()
            line = f"{label} [{n}]: {_sorted_list(body)}"
        elif node == "Expand" and line.startswith("Arguments: "):
            line = "Arguments: " + _canonical_expand(line[len("Arguments: "):])
        out.append(_canonical_hashpartitioning(line))
    return "\n".join(out) + "\n"


def canonical_stream_plan(plan: str) -> str:
    """A streaming query's `explainInternal` text in `canonical_plan`
    form, with its run and watermark ids, checkpoint path, batch
    timestamp and writer object masked."""
    for pat, rep in _STREAM_IDS:
        plan = pat.sub(rep, plan)
    return canonical_plan(plan)


def capture(spark, names: list[str], sf_dir: str) -> Iterator[tuple[str, str]]:
    """(name, `canonical_plan` text) of each registered query in `names`
    over `sf_dir`, with the plans of the streams it ran appended. A scan
    node's metadata fields (`DataFilters`, `PushedFilters`, ...) are
    printed whole: Spark cuts them at `spark.sql.maxMetadataStringLength`
    before the ids are masked, so the cut would move with the ids' digit
    counts. The session's conf is restored afterwards."""
    from pyspark.sql.streaming import DataStreamWriter

    from tf_datapipeline_spark import registry

    # keep the handle of every stream a query starts, so its plan can be
    # explained after the query has drained it
    started = []
    start = DataStreamWriter.start

    def start_and_keep(self, *args, **kwargs):
        handle = start(self, *args, **kwargs)
        started.append(handle)
        return handle

    key = "spark.sql.maxMetadataStringLength"
    saved = spark.conf.get(key)
    DataStreamWriter.start = start_and_keep
    spark.conf.set(key, str(2**31 - 1))
    qs = registry.queries()
    try:
        for name in names:
            started.clear()
            try:
                df = qs[name](spark, sf_dir)
                plan = canonical_plan(
                    df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                )
                for i, handle in enumerate(started):
                    stream_plan = canonical_stream_plan(
                        handle._jsq.explainInternal(False)
                    )
                    plan += f"\n== Stream {i} ==\n{stream_plan}"
            except Exception as exc:  # noqa: BLE001 - record the failure in-file
                plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}"
            yield name, plan
    finally:
        DataStreamWriter.start = start
        spark.conf.set(key, saved)


def main() -> None:
    tag = sys.argv[1]
    suffix = sys.argv[2]
    names_arg = sys.argv[3] if len(sys.argv) > 3 else "ALL"

    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    names = (
        sorted(registry.queries())
        if names_arg == "ALL"
        else [n for n in names_arg.split(",") if n]
    )
    out_dir = os.path.join(REPO_DIR, ".plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name, plan in capture(spark, names, sf_dir):
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
