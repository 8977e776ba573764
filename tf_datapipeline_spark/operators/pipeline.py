"""The reference's own pipeline operator surface, re-expressed relationally
(SURVEY.md §2A): label-dictionary build (S1/P6), seeded shuffle (R1),
train/validation split (R2), epoch repeat (B3), batching math (B1/B2),
shard assignment (S6), one-hot encode (M12), argmax (A2) and accuracy-style
metric reductions (A1/A3/A4).

Randomness discipline: the reference shuffles with `random.seed(0);
random.shuffle(filenames)` (reference: make_tf_record.py:10,155-156). A
Python shuffle is neither distributed nor oracle-checkable, so the engine
uses an arithmetic permutation key — a Knuth multiplicative hash of the
row key — which is deterministic, seedable, computable in any engine, and
embarrassingly parallel at 100 TB. Tests verify it is a permutation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.functions.dicts import dense_id_dict
from tf_datapipeline_spark.registry import query
from tf_datapipeline_spark.functions.texthash import sql_hash32

# Knuth's multiplicative constant (2^32 / phi); modulus 2^32.
_SHUFFLE_MULT = 2654435761
_SHUFFLE_MOD = 4294967296


def shuffle_key(col: Column, seed: int = 0) -> Column:
    """Deterministic pseudo-random permutation key for seeded shuffles
    (R1). seed offsets the multiplicative hash so different seeds give
    different orders."""
    return (
        (col.cast("bigint") + F.lit(seed)) * F.lit(_SHUFFLE_MULT) % F.lit(_SHUFFLE_MOD)
    )


def sql_shuffle_key(expr: str, seed: int = 0) -> str:
    return f"((({expr}) + {seed}) * {_SHUFFLE_MULT}) % {_SHUFFLE_MOD}"


_MAX_OFFSET_BUCKETS = 4096  # driver prefix-table ceiling (corpus-independent)

# Per-bucket row target for the equi-depth cuts. The bucket count only has
# to keep the driver prefix table bounded (≤ _MAX_OFFSET_BUCKETS rows) and
# each (group, bucket) window task's sort bounded; a 64Ki-row in-task sort
# is noise at any scale. A fixed 4096-cut sketch (approxQuantile at
# eps=1/4096, 4095 probes) costs seconds even on a 3000-row table, so the
# cut count follows the row count, k = min(ceiling, ceil(n / 64Ki)): a
# small input is one constant bucket, a 100 TB one gets the full 4096.
_TARGET_BUCKET_ROWS = 65536


def _adaptive_k(n: int) -> int:
    return min(_MAX_OFFSET_BUCKETS, -(-n // _TARGET_BUCKET_ROWS))


def _apply_cuts(df: DataFrame, cuts: "np.ndarray") -> DataFrame:
    """Monotone re-bucket of `_b`: the number of cut points ≤ the raw
    value, by a vectorized Arrow-batched np.searchsorted (a pure-SQL
    binary search either duplicates the index expression exponentially
    or scans all cuts linearly)."""

    @F.pandas_udf("bigint")
    def _equi_depth(vals: pd.Series) -> pd.Series:
        return pd.Series(
            np.searchsorted(cuts, vals.to_numpy(), side="right").astype("int64")
        )

    return df.withColumn("_b", _equi_depth("_b"))


def offset_scan(
    df: DataFrame,
    bucket: Column,
    order_cols: list[Column | str],
    *,
    groups: tuple[str, ...] | list[str] = (),
    weight: Column | None = None,
    name: str = "rn",
) -> tuple[DataFrame, int]:
    """Global (or per-group) scan over `order_cols` without a window on
    the whole frame or on a low-cardinality group key alone: every window
    is partitioned by (groups, bucket), so no data-sized
    `Exchange SinglePartition` or one-task-per-group sort appears (an
    input of ≤ _TARGET_BUCKET_ROWS rows is one bucket, one sort task).

    Appends `name` — the 1-based row number within the group, or with
    `weight` the exclusive running sum of `weight` (the sum over rows
    strictly before) — and `_n`, the group's row count. Returns
    (frame, total row count).

    `bucket` must be a monotone function of the leading order key, so
    bucket order is the group's global order. Per-(group, bucket)
    aggregates go to the driver; their prefix sums are each bucket's
    offset, broadcast-joined back. `groups` must be a low-cardinality
    key (q26's five market segments).

    The first job collects at most _MAX_OFFSET_BUCKETS + 1 aggregate
    rows; when they fit they are the offsets. Otherwise the row count
    that job observed sets the cut count k (_adaptive_k). At k ≤ 1 every
    row shares one constant bucket: offsets are 0 and no further job
    runs. Above it the slim (groups, bucket, weight) columns are
    checkpointed, cut at equi-depth quantiles of the raw bucket and
    recounted (≤ |groups|·k rows). Equi-width cuts collapse under range
    outliers (one whale value puts every other row in one bucket);
    quantile cuts stay balanced for any distribution. The cuts map raw
    buckets monotonically, so the result never depends on where they
    land, only the plan balance does. Ties in the leading key cannot be
    split by any monotone bucketing; that skew is inherent to exact
    numbering.
    """
    spark = df.sparkSession
    groups = list(groups)
    keys = [*groups, "_b"]
    b = df.withColumn("_b", bucket.cast("bigint"))
    aggs = [F.count(F.lit(1)).alias("n")]
    if weight is not None:
        b = b.withColumn("_v", weight.cast("bigint"))
        aggs.append(F.coalesce(F.sum("_v"), F.lit(0)).alias("s"))
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    if weight is None:
        scan = F.row_number().over(w).cast("bigint")
    else:
        before = w.rowsBetween(Window.unboundedPreceding, -1)
        scan = F.coalesce(F.sum("_v").over(before), F.lit(0))

    counted = Observation()
    cells = (
        b.observe(counted, F.count(F.lit(1)).alias("n"))
        .groupBy(*keys)
        .agg(*aggs)
        .limit(_MAX_OFFSET_BUCKETS + 1)
        .collect()
    )
    if len(cells) > _MAX_OFFSET_BUCKETS:
        total = counted.get["n"]
        k = _adaptive_k(total)
        if k <= 1:
            # one constant bucket: every offset is 0, and the group count
            # is a window over the same partitioning (a join on a literal
            # bucket would constant-fold into a nested-loop join)
            out = (
                b.withColumn("_b", F.lit(0).cast("bigint"))
                .withColumn(name, scan)
                .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
            )
            return out.drop("_b", "_v"), total
        slim = b.select(*keys, *(["_v"] if weight is not None else []))
        slim = slim.localCheckpoint()
        qs = slim.stat.approxQuantile("_b", [i / k for i in range(1, k)], 1.0 / k)
        cuts = np.array(sorted(int(v) for v in qs), dtype=np.int64)
        b = _apply_cuts(b, cuts)
        cells = _apply_cuts(slim, cuts).groupBy(*keys).agg(*aggs).collect()

    by_group: dict[tuple, list] = {}
    for r in cells:
        by_group.setdefault(tuple(r[c] for c in groups), []).append(r)
    offsets, total = [], 0
    for g, rows in by_group.items():
        n = sum(r["n"] for r in rows)
        total += n
        acc = 0
        for r in sorted(rows, key=lambda r: r["_b"]):
            offsets.append((*g, r["_b"], acc, n))
            acc += r["n" if weight is None else "s"]
    if not groups and len(offsets) <= 1:
        # one bucket: its offset is 0
        out = b.withColumn(name, scan).withColumn("_n", F.lit(total).cast("bigint"))
        return out.drop("_b", "_v"), total
    fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in b.select(*groups).schema
    ]
    odf = spark.createDataFrame(
        offsets, ", ".join([*fields, "_b bigint, _off bigint, _n bigint"])
    )
    out = b.join(F.broadcast(odf), keys).withColumn(name, scan + F.col("_off"))
    return out.drop("_b", "_v", "_off"), total


# --------------------------------------------------------------------------
# q30 — label dictionary: sorted class names → dense ids, joined back.
# Reference: sorted(class_names) → dict(zip(names, range(n)))
# (generator.py:34-38, make_tf_record.py:151); here the "class name" is
# documents.lang. The dictionary is tiny → broadcast join back.
# --------------------------------------------------------------------------
@query(
    "q30_label_dictionary",
    oracle="""
    WITH dict AS (
      SELECT lang,
             CAST(ROW_NUMBER() OVER (ORDER BY lang) - 1 AS INTEGER) AS label_id
      FROM (SELECT DISTINCT lang FROM documents)
    )
    SELECT d.doc_id, d.lang, dict.label_id
    FROM documents d JOIN dict USING (lang)
    """,
)
def q30_label_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dict_df = dense_id_dict(docs, "lang", "label_id")
    return docs.join(F.broadcast(dict_df), "lang").select("doc_id", "lang", "label_id")


# --------------------------------------------------------------------------
# q31 — seeded shuffle + split, scalable form: a modulo of the permutation
# key assigns ~10% to validation. O(1) per row, no global sort — the form
# that survives 100 TB. Reference semantics analog: R1+R2
# (make_tf_record.py:155-158).
# --------------------------------------------------------------------------
@query(
    "q31_seeded_shuffle_split",
    oracle=f"""
    SELECT doc_id,
           {sql_shuffle_key("doc_id")} AS shuffle_key,
           CASE WHEN {sql_shuffle_key("doc_id")} % 10 = 0
                THEN 'validation' ELSE 'train' END AS split
    FROM documents
    """,
)
def q31_seeded_shuffle_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = shuffle_key(F.col("doc_id"))
    return docs.select(
        "doc_id",
        key.alias("shuffle_key"),
        F.when(key % 10 == 0, "validation").otherwise("train").alias("split"),
    )


# --------------------------------------------------------------------------
# q32 — exact-head split: the reference's literal semantics (shuffle, then
# the first N records are validation; make_tf_record.py:157-158). Exact
# AND scalable: the permutation key is uniform in [0, 2^32), so its top
# bits are an order-preserving bucket (a fixed 64-cell grid) — offset_scan
# gives the global rank with every window partitioned by bucket, no
# single-task Exchange.
# --------------------------------------------------------------------------
_KEY_BUCKETS = 64  # order-preserving buckets over the uniform 32-bit key
_KEY_BUCKET_W = _SHUFFLE_MOD // _KEY_BUCKETS
@query(
    "q32_split_exact_head",
    oracle=f"""
    WITH shuffled AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY {sql_shuffle_key("doc_id")}, doc_id) AS rn,
             COUNT(*) OVER () AS total
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN rn <= total / 10 THEN 'validation' ELSE 'train' END AS split
    FROM shuffled
    """,
)
def q32_split_exact_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    key = shuffle_key(F.col("doc_id"))
    numbered, total = offset_scan(
        docs, F.floor(key / _KEY_BUCKET_W), [key, F.col("doc_id")]
    )
    return numbered.select(
        "doc_id",
        F.when(F.col("rn") <= F.lit(total) / 10, "validation")
        .otherwise("train")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# q33 — epoch repeat (B3): dataset.repeat(num_epochs)
# (dataset_queue.py:56). Cardinality = epochs × rows; realized as a cross
# join with a tiny epoch dim (broadcast, no shuffle of the fact side).
# --------------------------------------------------------------------------
@query(
    "q33_epoch_repeat",
    oracle="""
    SELECT d.doc_id, e.epoch
    FROM documents d
    CROSS JOIN (VALUES (0), (1), (2)) AS e(epoch)
    """,
)
def q33_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    return docs.crossJoin(F.broadcast(epochs))


# --------------------------------------------------------------------------
# q34 — one-hot encode (M12): tf.one_hot(labels, class_num)
# (train.py:85). Nation's region key one-hot over the 5 regions; flat
# integer columns so the oracle can check exactly.
# --------------------------------------------------------------------------
@query(
    "q34_one_hot",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END AS r_0,
           CASE WHEN n_regionkey = 1 THEN 1 ELSE 0 END AS r_1,
           CASE WHEN n_regionkey = 2 THEN 1 ELSE 0 END AS r_2,
           CASE WHEN n_regionkey = 3 THEN 1 ELSE 0 END AS r_3,
           CASE WHEN n_regionkey = 4 THEN 1 ELSE 0 END AS r_4
    FROM nation
    """,
)
def q34_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cols = [
        F.when(F.col("n_regionkey") == i, 1).otherwise(0).alias(f"r_{i}")
        for i in range(5)
    ]
    return nation.select("n_nationkey", *cols)


# --------------------------------------------------------------------------
# q35 — batching math (B1/B2): fixed-size batches with a ragged tail
# (generator.py:44-47 `min(batch_size, remaining)`;
# dataset.batch, dataset_queue.py:57). Logical batch ids over a
# deterministic order; the output shows every batch full except the tail.
# In execution, batching is an Arrow detail (maxRecordsPerBatch) — this is
# the *logical* operator for when batch identity matters.
# --------------------------------------------------------------------------
@query(
    "q35_batch_ragged_tail",
    oracle="""
    WITH numbered AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
      FROM documents
    )
    SELECT CAST(FLOOR(rn / 16.0) AS BIGINT) AS batch_id, COUNT(*) AS batch_rows
    FROM numbered GROUP BY 1
    """,
)
def q35_batch_ragged_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # doc_id itself is the order key: bucket its value range directly
    # (4096-wide, order-preserving; balanced for the dense ids this table
    # carries, and correctness never depends on balance).
    numbered, _ = offset_scan(
        docs, F.floor(F.col("doc_id") / 4096), [F.col("doc_id")]
    )
    return (
        numbered.select(F.floor((F.col("rn") - 1) / 16).alias("batch_id"))
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("batch_rows"))
    )


# --------------------------------------------------------------------------
# q36 — shard assignment (S6): the ETL writer's contiguous range sharding
# into _NUM_SHARDS=5 (make_tf_record.py:111,120-128:
# shard i gets records [i*ceil(N/5), (i+1)*ceil(N/5))).
# --------------------------------------------------------------------------
@query(
    "q36_shard_assignment",
    oracle=f"""
    WITH numbered AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY {sql_shuffle_key("doc_id")}, doc_id) - 1 AS rn,
             COUNT(*) OVER () AS total
      FROM documents
    )
    SELECT CAST(FLOOR(rn / CAST(CEIL(total / 5.0) AS BIGINT)) AS BIGINT) AS shard_id,
           COUNT(*) AS shard_rows,
           MIN(rn) AS first_rn, MAX(rn) AS last_rn
    FROM numbered GROUP BY 1
    """,
)
def q36_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    key = shuffle_key(F.col("doc_id"))
    numbered, total = offset_scan(
        docs, F.floor(key / _KEY_BUCKET_W), [key, F.col("doc_id")]
    )
    per_shard = math.ceil(total / 5) if total else 1
    rn0 = F.col("rn") - 1
    return (
        numbered.select((rn0 / per_shard).cast("bigint").alias("shard_id"), rn0.alias("rn"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("shard_rows"),
            F.min("rn").alias("first_rn"),
            F.max("rn").alias("last_rn"),
        )
    )


# --------------------------------------------------------------------------
# q37 — argmax (A2): tf.argmax(logits, 1) (train.py:89-90) over the
# embedding array; 1-based position of the max (first occurrence), a pure
# array expression (no UDF, stays in codegen).
# --------------------------------------------------------------------------
@query(
    "q37_argmax",
    oracle="""
    SELECT vec_id,
           CAST(list_position(embedding, list_aggregate(embedding, 'max')) AS BIGINT)
             AS argmax_pos
    FROM embeddings
    """,
)
def q37_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.array_position(F.col("embedding"), F.array_max(F.col("embedding"))).alias(
            "argmax_pos"
        ),
    )


# --------------------------------------------------------------------------
# q38 — accuracy-style metric reduction (A1):
# reduce_mean(cast(equal(pred, truth))) (train.py:58-59). "Prediction" is
# the argmax index mod 10 vs the stored label; integer sums → exact.
# --------------------------------------------------------------------------
@query(
    "q38_accuracy_metric",
    oracle="""
    SELECT label,
           CAST(SUM(CASE WHEN (list_position(embedding, list_aggregate(embedding, 'max')) - 1) % 10 = label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN (list_position(embedding, list_aggregate(embedding, 'max')) - 1) % 10 = label
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
    FROM embeddings
    GROUP BY label
    """,
)
def q38_accuracy_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pred = (
        F.array_position(F.col("embedding"), F.array_max(F.col("embedding"))) - 1
    ) % 10
    correct = F.when(pred == F.col("label"), 1).otherwise(0)
    return emb.groupBy("label").agg(
        F.sum(correct).alias("n_correct"),
        F.count(F.lit(1)).alias("n"),
        (F.sum(correct).cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# q39 — epoch/step bookkeeping (A4): steps-per-epoch = ceil(rows / batch)
# (train.py:115-117), per split from q31's assignment.
# --------------------------------------------------------------------------
@query(
    "q39_step_math",
    oracle=f"""
    SELECT CASE WHEN {sql_shuffle_key("doc_id")} % 10 = 0
                THEN 'validation' ELSE 'train' END AS split,
           COUNT(*) AS n_rows,
           CAST(CEIL(COUNT(*) / 16.0) AS BIGINT) AS steps_per_epoch,
           CAST(CEIL(COUNT(*) / 16.0) AS BIGINT) * 2 AS total_steps_2_epochs
    FROM documents GROUP BY 1
    """,
)
def q39_step_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = shuffle_key(F.col("doc_id"))
    split = F.when(key % 10 == 0, "validation").otherwise("train").alias("split")
    steps = F.ceil(F.count(F.lit(1)) / 16.0).cast("bigint")
    return (
        docs.select(split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            steps.alias("steps_per_epoch"),
            (steps * 2).alias("total_steps_2_epochs"),
        )
    )


# --------------------------------------------------------------------------
# q3a — deterministic stratified sampling: ~1-in-5 of each lang stratum
# via the arithmetic permutation key (NOT rand()-based Bernoulli — the
# sample must be identical under task retries, repartitions, and across
# engines; df.sample() is none of those). Output proves stratification:
# per-stratum picked counts alongside stratum size.
# --------------------------------------------------------------------------
@query(
    "q3a_stratified_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT lang, doc_id, {sql_shuffle_key("doc_id", 3)} AS k FROM documents
    )
    SELECT lang,
           COUNT(*) AS stratum_size,
           CAST(SUM(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(MIN(CASE WHEN k % 5 = 0 THEN doc_id END) AS BIGINT) AS first_sampled
    FROM keyed GROUP BY lang
    """,
)
def q3a_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = shuffle_key(F.col("doc_id"), seed=3)
    picked = (k % 5 == 0).cast("int")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("stratum_size"),
        F.sum(picked).alias("n_sampled"),
        F.min(F.when(picked == 1, F.col("doc_id"))).alias("first_sampled"),
    )


# --------------------------------------------------------------------------
# q3b — source-weighted dataset mixing: each source gets a sampling rate
# derived from its name (even sources 80%, odd sources 30% here — in a
# real pipeline the weights come from a mixing config). Selection is the
# deterministic permutation key against a per-source threshold: O(1) per
# row, no rand(), identical under retries and across engines — how a
# 100 TB corpus is re-weighted without materializing per-source splits.
# --------------------------------------------------------------------------
@query(
    "q3b_weighted_mix",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id,
             {sql_shuffle_key("doc_id", 11)} % 100 AS pct,
             CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
                  THEN 80 ELSE 30 END AS rate
      FROM documents
    )
    SELECT source, MIN(rate) AS rate_pct,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN pct < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM keyed GROUP BY source
    """,
)
def q3b_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pct = shuffle_key(F.col("doc_id"), seed=11) % 100
    rate = F.when(
        F.substring("source", 4, 10).cast("bigint") % 2 == 0, 80
    ).otherwise(30)
    kept = (pct < rate).cast("int")
    return docs.select("source", rate.alias("rate"), kept.alias("kept")).groupBy(
        "source"
    ).agg(
        F.min("rate").alias("rate_pct"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
    )


# --------------------------------------------------------------------------
# qp1 — composite feed pipeline: seeded shuffle (R1/R4) -> train/val split
# (R2) -> per-epoch reshuffle (B3, seed+epoch) -> fixed-size batches with
# ragged tails (B1/B2), reduced to per-(epoch, split, batch) audit rows.
# One driver-gate query exercising the whole feed chain the reference
# builds from queue runners (train.py:113-129, make_tf_record.py:155-158);
# windows are partitioned by (epoch, split) — no global sort.
# --------------------------------------------------------------------------
@query(
    "qp1_feed_pipeline",
    oracle=f"""
    WITH base AS (
      SELECT d.doc_id, e.epoch,
             CASE WHEN {sql_shuffle_key("d.doc_id")} % 10 = 0
                  THEN 'validation' ELSE 'train' END AS split,
             ((d.doc_id + e.epoch) * {_SHUFFLE_MULT}) % {_SHUFFLE_MOD} AS ek
      FROM documents d CROSS JOIN (VALUES (0), (1)) AS e(epoch)
    ), numbered AS (
      SELECT epoch, split, doc_id, ek,
             ROW_NUMBER() OVER (PARTITION BY epoch, split ORDER BY ek, doc_id) - 1 AS rn
      FROM base
    )
    SELECT epoch, split, CAST(FLOOR(rn / 16.0) AS BIGINT) AS batch_id,
           COUNT(*) AS batch_rows,
           CAST(arg_min(doc_id, ek) AS BIGINT) AS first_doc
    FROM numbered GROUP BY 1, 2, 3
    """,
)
def qp1_feed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    key0 = shuffle_key(F.col("doc_id"))
    ek = ((F.col("doc_id") + F.col("epoch")) * F.lit(_SHUFFLE_MULT)) % F.lit(
        _SHUFFLE_MOD
    )
    base = docs.crossJoin(F.broadcast(epochs)).select(
        "doc_id",
        "epoch",
        F.when(key0 % 10 == 0, "validation").otherwise("train").alias("split"),
        ek.alias("ek"),
    )
    w = Window.partitionBy("epoch", "split").orderBy("ek", "doc_id")
    numbered = base.withColumn("rn", F.row_number().over(w) - F.lit(1))
    return (
        numbered.groupBy(
            "epoch", "split", F.floor(F.col("rn") / 16).alias("batch_id")
        )
        .agg(
            F.count(F.lit(1)).alias("batch_rows"),
            F.min_by("doc_id", "ek").alias("first_doc"),
        )
    )


# --------------------------------------------------------------------------
# qp2 — composite label/metric kernel: label dictionary (S1/P6 analog over
# the embeddings labels), one-hot encode (M12, train.py:85), argmax (A2,
# train.py:89-90), accuracy reduction (A1, train.py:58-59) and step math
# (A4, train.py:115-117) in one oracle-checked result — the training-side
# scalar surface as a single driver-gate row per label.
# --------------------------------------------------------------------------
@query(
    "qp2_label_metrics",
    oracle="""
    WITH pred AS (
      SELECT label,
             CASE WHEN (list_position(embedding, list_aggregate(embedding, 'max')) - 1) % 10
                       = label
                  THEN 1 ELSE 0 END AS correct
      FROM embeddings
    ), per_label AS (
      SELECT label, COUNT(*) AS n, CAST(SUM(correct) AS BIGINT) AS n_correct
      FROM pred GROUP BY label
    ), dict AS (
      SELECT label, ROW_NUMBER() OVER (ORDER BY label) - 1 AS label_id
      FROM (SELECT DISTINCT label FROM embeddings)
    )
    SELECT p.label, d.label_id, p.n, p.n_correct,
           CAST(p.n_correct AS DOUBLE) / p.n AS accuracy,
           CAST(CEIL(p.n / 16.0) AS BIGINT) AS steps_per_epoch,
           CASE WHEN d.label_id % 5 = 0 THEN 1 ELSE 0 END AS oh_0,
           CASE WHEN d.label_id % 5 = 1 THEN 1 ELSE 0 END AS oh_1,
           CASE WHEN d.label_id % 5 = 2 THEN 1 ELSE 0 END AS oh_2,
           CASE WHEN d.label_id % 5 = 3 THEN 1 ELSE 0 END AS oh_3,
           CASE WHEN d.label_id % 5 = 4 THEN 1 ELSE 0 END AS oh_4
    FROM per_label p JOIN dict d USING (label)
    """,
)
def qp2_label_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pred = (
        F.array_position(F.col("embedding"), F.array_max(F.col("embedding"))) - 1
    ) % 10
    correct = F.when(pred == F.col("label"), 1).otherwise(0)
    per_label = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum(correct).alias("n_correct")
    )
    dict_df = dense_id_dict(emb, "label", "label_id").withColumn(
        "label_id", F.col("label_id").cast("bigint")
    )
    one_hot = [
        F.when(F.col("label_id") % 5 == i, 1).otherwise(0).alias(f"oh_{i}")
        for i in range(5)
    ]
    return per_label.join(F.broadcast(dict_df), "label").select(
        "label",
        "label_id",
        "n",
        "n_correct",
        (F.col("n_correct").cast("double") / F.col("n")).alias("accuracy"),
        F.ceil(F.col("n") / 16.0).cast("bigint").alias("steps_per_epoch"),
        *one_hot,
    )


# --------------------------------------------------------------------------
# q3c — stratified hash sampling: per-stratum (lang) keep rates applied via
# the cross-engine md5 hash32 (functions/texthash.py), so the SAME rows
# are kept in Spark and DuckDB and the oracle is exact — no RNG, no
# sampleBy approximation. At 100 TB this is a narrow filter (scan ->
# filter, no shuffle); rates live in the expression, not a join.
# --------------------------------------------------------------------------
_STRATA_RATES = {"en": 50, "de": 30, "es": 30, "fr": 20, "zh": 10}  # % kept


@query(
    "q3c_stratified_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, source, n_chars,
             {sql_hash32("'strat-' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents
    ),
    kept AS (
      SELECT * FROM keyed
      WHERE bucket < CASE lang
          {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items())}
          ELSE 0 END
    )
    SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM kept GROUP BY lang
    """,
)
def q3c_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.expr(
            sql_hash32("'strat-' || CAST(doc_id AS STRING)", "spark")
        )
        % 100
    )
    rate = F.create_map(
        *[x for k, v in _STRATA_RATES.items() for x in (F.lit(k), F.lit(v))]
    )
    kept = docs.filter(bucket < F.coalesce(rate[F.col("lang")], F.lit(0)))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# --------------------------------------------------------------------------
# q3d — deterministic reservoir sample: exactly k docs per stratum, chosen
# by rank over the same cross-engine hash — the distributed analog of
# reservoir sampling (uniform exact-k without a global pass; Vitter 1985
# semantics, made deterministic/retry-stable by hash ranking). One
# partial-aggregated shuffle on lang; rank is a per-stratum window, never
# a global sort.
# --------------------------------------------------------------------------
_RESERVOIR_K = 8


@query(
    "q3d_reservoir_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             {sql_hash32("'resv-' || CAST(doc_id AS VARCHAR)")} AS hk
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
      FROM keyed
    )
    SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_RESERVOIR_K}
    """,
)
def q3d_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hk = F.expr(sql_hash32("'resv-' || CAST(doc_id AS STRING)", "spark"))
    w = Window.partitionBy("lang").orderBy(F.col("hk").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", "n_chars", hk.alias("hk"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .select("lang", "doc_id", "n_chars", "rk")
    )


# --------------------------------------------------------------------------
# q3e — K-FOLD cross-validation assignment: every document gets a
# deterministic fold id from the seeded permutation key (R1's machinery,
# so folds are reproducible at any parallelism and disjoint by
# construction), and the output reports per-(fold, lang) counts plus
# each cell's share of its fold — the balance check run before
# cross-validated eval to confirm no fold is skewed. Same 100 TB shape
# as q31: the fold id is a row-local expression (no shuffle to assign),
# and only the tiny (fold x lang) aggregate shuffles.
# --------------------------------------------------------------------------
_N_FOLDS = 5


@query(
    "q3e_kfold_assignment",
    oracle=f"""
    WITH folds AS (
      SELECT doc_id, lang,
             CAST(({sql_shuffle_key('doc_id')}) % {_N_FOLDS} AS BIGINT) AS fold
      FROM documents
    ),
    cells AS (
      SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM folds GROUP BY 1, 2
    ),
    tot AS (
      SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS fold_size FROM cells GROUP BY 1
    )
    SELECT c.fold, c.lang, c.n_docs, t.fold_size,
           CAST(c.n_docs AS DOUBLE) / t.fold_size AS lang_share
    FROM cells c JOIN tot t ON t.fold = c.fold
    """,
)
def q3e_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fold = (shuffle_key(F.col("doc_id")) % _N_FOLDS).cast("bigint")
    cells = (
        docs.select(fold.alias("fold"), "lang")
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = cells.groupBy("fold").agg(F.sum("n_docs").cast("bigint").alias("fold_size"))
    return cells.join(F.broadcast(tot), "fold").select(
        "fold",
        "lang",
        "n_docs",
        "fold_size",
        (F.col("n_docs").cast("double") / F.col("fold_size")).alias("lang_share"),
    )


# --------------------------------------------------------------------------
# q3f — IMPORTANCE-WEIGHTED DOWNSAMPLE: the inverse-
# propensity sampling shape behind size-aware corpus thinning — keep
# each document with probability proportional to its length (capped at
# 1), carry the inverse-probability weight, and report the per-language
# Horvitz-Thompson reweighted character estimate next to the true total
# so the estimator's closure is value-checked, not assumed. This is the
# 5th sampling rung (q3a hash-stratified, q3b weighted mix, q3c rate
# table, q3d exact-k reservoir) — the one that changes INCLUSION
# probability per row instead of per stratum.
#
# Determinism: inclusion is the cross-engine md5 hash compared against
# FLOOR(p * 2^20) (integer compare of identically-derived doubles —
# p is one shared IEEE chain from two exact integers); the reweighted
# estimate sums FLOOR(w * n_chars * 2^20) exact bigints
# (order-independent), divided back once at the end.
#
# Scale (100 TB): one 1-row totals aggregate broadcast back, one
# pushed-down per-row filter, one partial-aggregated groupBy(lang) —
# no shuffle carries more than |langs| rows past the scan.
# --------------------------------------------------------------------------
_IMP_TARGET = "CAST(0.2 AS DOUBLE)"  # sampled fraction of documents


def _importance_sample_sql(dialect: str) -> str:
    h = sql_hash32("'imp-' || CAST(doc_id AS STRING)", dialect)
    p = (
        f"LEAST(CAST(1 AS DOUBLE), CAST(n_chars AS DOUBLE)"
        f" * ({_IMP_TARGET} * n_total) / chars_total)"
    )
    return f"""
    WITH tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(n_chars) AS BIGINT) AS chars_total
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, n_chars, chars_total, {p} AS p
      FROM documents, tot
    ),
    kept AS (
      SELECT lang, n_chars, chars_total,
             CAST(FLOOR((CAST(1 AS DOUBLE) / p) * n_chars * 1048576.0)
                  AS BIGINT) AS wq
      FROM scored
      WHERE ({h}) % 1048576 < CAST(FLOOR(p * 1048576.0) AS BIGINT)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
           CAST(SUM(wq) AS DOUBLE) / 1048576.0 AS est_chars,
           CAST(SUM(wq) AS DOUBLE) / 1048576.0 / MAX(chars_total)
             AS est_share_of_corpus
    FROM kept GROUP BY lang
    """


@query("q3f_importance_sample", oracle=_importance_sample_sql("duckdb"))
def q3f_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_importance_sample_sql("spark"))
