"""The partition-offset scan (pipeline.offset_scan) behind every global
row number, group rank and running sum.

A raw metric bucket (q4zf's cents) has ~user-cardinality distinct
values, so its per-bucket collect would grow with the corpus. When the
first, limited collect overflows _MAX_OFFSET_BUCKETS rows, offset_scan
re-buckets to EQUI-DEPTH cells from approxQuantile cut points
(monotone, so global order is preserved; equi-width cuts collapse when
one outlier stretches the span). The cut count follows the row count,
k = min(ceiling, ceil(n / _TARGET_BUCKET_ROWS)); the tests that need the
sketch path monkeypatch the target down so a 20k-row frame gets k > 1.
These tests pin:

  1. the coarse bucket count is bounded and balanced, and monotone,
  2. a small overflowing input is ONE constant bucket: no sketch, no
     Python node,
  3. an already-bounded bucket is left raw (no cuts),
  4. numbering and the weighted running sum equal the global sort /
     window, per group too, on the fitting and the overflow paths,
  5. the job counts of the fitting and the constant-bucket paths,
  6. the plan of an ungrouped overflowing scan on both branches.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

import tf_datapipeline_spark.operators.pipeline as _pipeline
from tests.conftest import SF_SMOKE, jobs_in_group
from tf_datapipeline_spark.operators.pipeline import (
    _MAX_OFFSET_BUCKETS,
    offset_scan,
)
from tf_datapipeline_spark.plans.inspect import formatted_plan


def _wide_df(spark, n=20_000):
    # distinct, skew-clustered values spanning a huge range: two dense
    # clusters plus a far outlier, > _MAX_OFFSET_BUCKETS distinct.
    return spark.range(n).select(
        F.col("id").alias("k"),
        (
            F.when(F.col("id") % 3 == 0, F.col("id") * 7)
            .when(F.col("id") % 3 == 1, F.lit(2**40) + F.col("id") * 11)
            .otherwise(F.lit(2**55) + F.col("id"))
        ).alias("v"),
    )


def _spy_cuts(monkeypatch):
    """Record every frame offset_scan re-buckets with equi-depth cuts."""
    applied = []
    real = _pipeline._apply_cuts

    def spy(df, cuts):
        out = real(df, cuts)
        applied.append(out)
        return out

    monkeypatch.setattr(_pipeline, "_apply_cuts", spy)
    return applied


def test_coarsen_bounds_bucket_count(spark, monkeypatch):
    # force the sketch path (k > 1) on a 20k-row frame: with the real
    # 64Ki-row target a 20k input would collapse to one bucket
    monkeypatch.setattr(_pipeline, "_TARGET_BUCKET_ROWS", 64)
    applied = _spy_cuts(monkeypatch)
    offset_scan(_wide_df(spark), F.col("v"), [F.asc("v"), F.asc("k")])
    # the full frame the final plan numbers (the other is the slim copy)
    out = next(f for f in applied if "v" in f.columns)
    counts = {
        r["_b"]: r["n"]
        for r in out.groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(counts) <= _MAX_OFFSET_BUCKETS + 1
    # BALANCE under range outliers: _wide_df's 2^55 whale values stretch
    # the span ~2^35x beyond the dense clusters; equi-width shifting
    # funneled everything into one bucket. Equi-depth must keep every
    # bucket within a small multiple of ideal (values are unique here, so
    # no tie excuse). k = ceil(20000/64) capped at the ceiling, so ideal
    # is total / k.
    total = sum(counts.values())
    k = _pipeline._adaptive_k(total)
    assert k > 1  # the sketch path is actually exercised
    ideal = total / k
    assert max(counts.values()) <= max(16, 8 * ideal), (
        max(counts.values()),
        ideal,
    )
    # monotone: coarse bucket order == raw value order
    pairs = [
        (r["v"], r["_b"]) for r in out.select("v", "_b").distinct().collect()
    ]
    pairs.sort()
    assert all(
        pairs[i][1] <= pairs[i + 1][1] for i in range(len(pairs) - 1)
    )


def test_coarsen_small_input_single_bucket(spark, monkeypatch):
    # a wide-SPAN but small-COUNT input needs no sketch at all — every
    # row lands in one constant bucket (one ≤64Ki-row sort task), and
    # the plan carries no Python eval node.
    applied = _spy_cuts(monkeypatch)
    numbered, total = offset_scan(
        _wide_df(spark), F.col("v"), [F.asc("v"), F.asc("k")]
    )
    assert applied == []
    plan = formatted_plan(numbered)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" not in plan  # one bucket: every offset is 0
    rows = numbered.select("rn", "_n").collect()
    assert total == 20_000
    assert sorted(r["rn"] for r in rows) == list(range(1, total + 1))
    assert {r["_n"] for r in rows} == {total}


def test_coarsen_leaves_bounded_buckets_alone(spark, monkeypatch):
    applied = _spy_cuts(monkeypatch)
    df = spark.range(1000).select(F.col("id").alias("k"))
    numbered, total = offset_scan(df, F.floor(F.col("k") / 64), ["k"])
    assert applied == []  # 16 raw buckets fit: no sketch, no re-bucket
    assert "EvalPython" not in formatted_plan(numbered)
    assert total == 1000
    assert all(r["rn"] == r["k"] + 1 for r in numbered.collect())


@pytest.mark.parametrize("branch,target", [("one-bucket", None), ("cuts", 64)])
def test_ungrouped_overflow_plan(spark, monkeypatch, branch, target):
    """The plan of an ungrouped scan whose first collect overflows. The
    one-constant-bucket branch DOES plan an `Exchange SinglePartition`:
    Spark folds the literal bucket out of the window's partition spec.
    That exchange is bounded, because the branch is taken only when the
    observed row count is at most _TARGET_BUCKET_ROWS, so its one sort
    task never holds more rows than that. The sketched-cuts branch
    partitions every window by the cut bucket and plans NO
    `Exchange SinglePartition`."""
    if target is not None:
        monkeypatch.setattr(_pipeline, "_TARGET_BUCKET_ROWS", target)
    applied = _spy_cuts(monkeypatch)
    numbered, total = offset_scan(
        _wide_df(spark), F.col("v"), [F.asc("v"), F.asc("k")]
    )
    plan = formatted_plan(numbered)
    assert (len(applied) > 0) == (branch == "cuts"), branch
    if branch == "one-bucket":
        assert "Arguments: SinglePartition" in plan, plan  # the Exchange
        assert numbered.count() == total <= _pipeline._TARGET_BUCKET_ROWS
    else:
        assert "SinglePartition" not in plan, plan


def test_offset_scan_numbers_in_global_order(spark):
    df = _wide_df(spark)
    numbered, total = offset_scan(df, F.col("v"), [F.asc("v"), F.asc("k")])
    rows = numbered.select("k", "v", "rn").collect()
    assert total == len(rows) == 20_000
    by_rn = sorted(rows, key=lambda r: r["rn"])
    assert [r["rn"] for r in by_rn] == list(range(1, total + 1))
    assert [(r["v"], r["k"]) for r in by_rn] == sorted(
        (r["v"], r["k"]) for r in rows
    )


def test_offset_scan_running_sum_matches_global(spark):
    df = _wide_df(spark, n=5_000).withColumn("val", F.col("k") % 97)
    out, _ = offset_scan(
        df, F.col("v"), [F.asc("v"), F.asc("k")],
        weight=F.col("val"), name="running_sum",
    )
    ordered = sorted(out.collect(), key=lambda r: (r["v"], r["k"]))
    acc = 0
    for r in ordered:
        assert r["running_sum"] == acc, (r["k"], r["running_sum"], acc)
        acc += r["val"]


@pytest.mark.parametrize(
    "path,target,width",
    [("fits", None, 2**50), ("one-bucket", None, 1), ("cuts", 64, 1)],
)
def test_grouped_weighted_scan_matches_window(spark, monkeypatch, path, target, width):
    """Per-group exclusive running sum and group count against the
    single-partition-per-group Window they replace: on the fitting path
    (few raw buckets), on the overflow path that collapses to one
    constant bucket, and on the overflow path that sketches cuts."""
    if target is not None:
        monkeypatch.setattr(_pipeline, "_TARGET_BUCKET_ROWS", target)
    applied = _spy_cuts(monkeypatch)
    df = _wide_df(spark, n=9_000).select(
        "k", "v", (F.col("k") % 5).alias("g"), (F.col("k") % 89).alias("w")
    )
    got, total = offset_scan(
        df, F.floor(F.col("v") / width), [F.asc("v"), F.asc("k")],
        groups=["g"], weight=F.col("w"), name="s",
    )
    assert (len(applied) > 0) == (path == "cuts"), path
    before = (
        Window.partitionBy("g").orderBy("v", "k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.select(
        "k",
        F.coalesce(F.sum("w").over(before), F.lit(0)).alias("s"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("_n"),
    )
    assert total == 9_000
    assert sorted(got.select("k", "s", "_n").collect()) == sorted(want.collect())


def test_small_scans_run_few_jobs(spark, monkeypatch):
    """q35 at the smoke scale builds in ≤ 2 jobs (the one limited bucket
    collect), and so does an overflowing input of ≤ _TARGET_BUCKET_ROWS
    rows: its observed row count picks one constant bucket, with no
    checkpoint, sketch or recount."""
    from tf_datapipeline_spark import registry

    q35 = registry.queries()["q35_batch_ragged_tail"]
    _, n_jobs = jobs_in_group(spark, "offset-q35", lambda: q35(spark, SF_SMOKE))
    assert n_jobs <= 2, n_jobs

    def no_sketch(df, cuts):
        raise AssertionError("sketched cuts for a one-bucket input")

    monkeypatch.setattr(_pipeline, "_apply_cuts", no_sketch)
    df = _wide_df(spark, n=_MAX_OFFSET_BUCKETS + 100)
    (numbered, total), n_jobs = jobs_in_group(
        spark, "offset-overflow",
        lambda: offset_scan(df, F.col("v"), [F.asc("v"), F.asc("k")]),
    )
    assert total == _MAX_OFFSET_BUCKETS + 100
    assert n_jobs <= 2, n_jobs
