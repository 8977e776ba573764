"""The two-pass offset-numbering device (pipeline.offset_row_number /
offset_running_sum) and its r10 bucket coarsening.

The r9 advice: q4zf passed a raw metric (cents) as the bucket, so the
pass-1 per-bucket collect was ~user-cardinality — corpus-proportional
driver memory behind a '100 TB' comment. The fix guards on the exact
value SPAN (hi - lo + 1 ≤ ceiling keeps raw buckets and the plan
byte-identical) and otherwise re-buckets to ≤ _MAX_OFFSET_BUCKETS
EQUI-DEPTH cells from approxQuantile cut points (monotone, so global
order is preserved; equi-width was the first draft and collapses when
one outlier stretches the span). These tests pin:

  1. the coarse bucket count is bounded for a corpus-sized distinct set,
  2. numbering is still exactly the global sort order,
  3. an already-bounded bucket is left untouched (pre-r10 plans intact),
  4. offset_running_sum agrees with the unpartitioned running sum.

`_coarsen_bucket` is the one coarsening step offset_row_number,
offset_running_sum and grouped_offset_row_number all call, so 1 and 3
hold for each of them.

r11: the sketch's bucket count ADAPTS to the measured row count
(k = min(ceiling, ceil(n / _TARGET_BUCKET_ROWS))) — a fixed-4096
sketch paid approxQuantile's eps=1/4096, 4095-probe cost ceiling on
every input, which dominated q4zf/q4zm at bench scale. The balance
test monkeypatches the target down so the sketch path (k > 1) is
exercised on a 20k-row frame; a new test pins the k ≤ 1 degenerate
case (small input → ONE constant bucket, no sketch, no Python node).
"""

from __future__ import annotations

import pyspark.sql.functions as F

import tf_datapipeline_spark.operators.pipeline as _pipeline
from tf_datapipeline_spark.operators.pipeline import (
    _MAX_OFFSET_BUCKETS,
    _coarsen_bucket,
    offset_row_number,
    offset_running_sum,
)


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


def test_coarsen_bounds_bucket_count(spark, monkeypatch):
    # force the sketch path (k > 1) on a 20k-row frame: with the real
    # 64Ki-row target a 20k input would collapse to one bucket
    monkeypatch.setattr(_pipeline, "_TARGET_BUCKET_ROWS", 64)
    df = _wide_df(spark).withColumn("_b", F.col("v"))
    out, _ = _coarsen_bucket(df, df)
    counts = {
        r["_b"]: r["n"]
        for r in out.groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(counts) <= _MAX_OFFSET_BUCKETS + 1
    # BALANCE under range outliers (the r10 review finding): _wide_df's
    # 2^55 whale values stretch the span ~2^35x beyond the dense
    # clusters; equi-width shifting funneled everything into one bucket.
    # Equi-depth must keep every bucket within a small multiple of ideal
    # (values are unique here, so no tie excuse). k = ceil(20000/64)
    # capped at the ceiling, so ideal is total / k.
    total = sum(counts.values())
    k = _pipeline._adaptive_k(total, _MAX_OFFSET_BUCKETS)
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


def test_coarsen_small_input_single_bucket(spark):
    # r11 adaptive k: a wide-SPAN but small-COUNT input needs no sketch
    # at all — every row lands in constant bucket 0 (one ≤64Ki-row sort
    # task), and the plan carries no Python eval node.
    df = _wide_df(spark).withColumn("_b", F.col("v"))
    out, _ = _coarsen_bucket(df, df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    vals = {r["_b"] for r in out.select("_b").distinct().collect()}
    assert vals == {0}


def test_coarsen_leaves_bounded_buckets_alone(spark):
    df = spark.range(1000).withColumn("_b", F.col("id") % 17)
    slim, b = _coarsen_bucket(df, df)
    assert slim is df and b is df  # byte-identical plan for every pre-r10 caller


def test_offset_row_number_matches_global_sort(spark):
    df = _wide_df(spark)
    numbered, total = offset_row_number(
        df, F.col("v"), [F.asc("v"), F.asc("k")]
    )
    rows = numbered.select("k", "v", "rn").collect()
    assert total == len(rows) == 20_000
    by_rn = sorted(rows, key=lambda r: r["rn"])
    assert [r["rn"] for r in by_rn] == list(range(1, total + 1))
    assert [(r["v"], r["k"]) for r in by_rn] == sorted(
        (r["v"], r["k"]) for r in rows
    )


def test_offset_running_sum_matches_global(spark):
    df = _wide_df(spark, n=5_000).withColumn("val", F.col("k") % 97)
    out = offset_running_sum(
        df, F.col("v"), [F.asc("v"), F.asc("k")], F.col("val")
    ).collect()
    ordered = sorted(out, key=lambda r: (r["v"], r["k"]))
    acc = 0
    for r in ordered:
        assert r["running_sum"] == acc, (r["k"], r["running_sum"], acc)
        acc += r["val"]
