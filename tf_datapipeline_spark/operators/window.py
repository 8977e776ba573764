"""Window / analytic functions (SURVEY.md §2B "window/analytic"):
rank, row_number, dense_rank, lag/lead, frame aggregates, top-k per group,
percent_rank/cume_dist.

Absent from the reference (SURVEY §2A: "no window functions"); required by
the driver contract. All windows partition by a real key — never a global
`Window.orderBy()` without partitioning, which would serialize the whole
dataset through one task at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table, oracle_with, sql_with
from tf_datapipeline_spark.functions.exact import sql_dsum
from tf_datapipeline_spark.registry import query


# --------------------------------------------------------------------------
# q20 — ranking family per customer over their orders.
# --------------------------------------------------------------------------
@query(
    "q20_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER()  OVER w AS INTEGER) AS rn,
           CAST(RANK()        OVER w AS INTEGER) AS rnk,
           CAST(DENSE_RANK()  OVER w AS INTEGER) AS drnk,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q20_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


# --------------------------------------------------------------------------
# q21 — frame aggregates: running sum + trailing-3 moving average per order.
# Running sums use exact decimal addition so partial-order evaluation in
# Spark matches the oracle bit-for-bit. The window order includes the
# summed value (l_quantity) as tie-break: (l_orderkey, l_linenumber) is not
# unique in the data, and a running sum over a non-total order is engine-
# dependent.
# --------------------------------------------------------------------------
@query(
    "q21_window_running",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4)))
                OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_qty,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4)))
                OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing3_avg_qty
    FROM lineitem
    """,
)
def q21_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trail = w.rowsBetween(-2, Window.currentRow)
    qty_dec = F.col("l_quantity").cast("decimal(28,4)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.sum(qty_dec).over(run).cast("double").alias("running_qty"),
        (
            F.sum(qty_dec).over(trail).cast("double")
            / F.count(F.lit(1)).over(trail).cast("double")
        ).alias("trailing3_avg_qty"),
    )


# --------------------------------------------------------------------------
# q22 — top-k per group (the canonical window + filter idiom).
# --------------------------------------------------------------------------
@query(
    "q22_topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 2
    """,
)
def q22_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
    )


# --------------------------------------------------------------------------
# q23 — distribution functions per segment.
# --------------------------------------------------------------------------
@query(
    "q23_percentiles",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q23_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --------------------------------------------------------------------------
# q24 — windowed revenue share: per-group total via window, per-row share
# (deterministic division of exact sums).
# --------------------------------------------------------------------------
@query(
    "q24_revenue_share",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total,
           o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                OVER (PARTITION BY o_custkey) AS DOUBLE) AS share
    FROM orders
    """,
)
def q24_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    total = F.sum(F.col("o_totalprice").cast("decimal(28,4)")).over(w).cast("double")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        total.alias("cust_total"),
        (F.col("o_totalprice") / total).alias("share"),
    )


# --------------------------------------------------------------------------
# q25 — lag/lead frame navigation: per-customer order history with
# previous/next order price and the delta (SURVEY.md §2B window/analytic).
# Deterministic order: (o_orderdate, o_orderkey).
# --------------------------------------------------------------------------
@query(
    "q25_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - COALESCE(LAG(o_totalprice) OVER w, o_totalprice)
             AS delta_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q25_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return od.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - F.coalesce(prev, F.col("o_totalprice"))).alias(
            "delta_prev"
        ),
    )


def _idiv(a: Column, d: Column) -> Column:
    """Floor division of nonnegative bigints via the exact-multiple
    device (a - a%d is an exact multiple of d, so the double quotient is
    the exact integer — holds to ~2^53; the q27 convention)."""
    return ((a - a % d) / d).cast("bigint")


# --------------------------------------------------------------------------
# q26 — distribution framing: NTILE quartiles + FIRST/NTH value frames per
# market segment (rounds out the analytic-function surface: q20-q25 cover
# rank/lag/running/percentile; this adds tile + positional frame access).
#
# Spark shape (100 TB): the oracle's PARTITION BY c_mktsegment is a
# 5-value key, so a naive window funnels each segment through ONE task.
# The engine instead numbers rows per segment with pipeline.offset_scan
# (groups = segment; windows partitioned by (segment, balance-bucket),
# ≤ 5·4096 driver prefix rows) and derives every analytic from (rn, n)
# with exact integer arithmetic:
#   NTILE(k): q = n DIV k, r = n MOD k (first r tiles take q+1 rows) —
#     rn ≤ r·(q+1) ? (rn-1) DIV (q+1) + 1 : r + (rn - r·(q+1) - 1) DIV q + 1,
#     integer divisions via the exact-multiple device (the q27 pattern);
#   FIRST_VALUE: the rn=1 row per segment, a ≤5-row broadcast join;
#   NTH_VALUE(2) under ROWS UNBOUNDED..CURRENT: NULL at rn=1, else the
#     rn=2 row — same broadcast shape.
# Output values (and hashes) are identical to the window formulation.
# --------------------------------------------------------------------------
@query(
    "q26_ntile_frames",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           CAST(NTILE(4) OVER w AS INTEGER) AS balance_quartile,
           FIRST_VALUE(c_custkey) OVER w AS richest_custkey,
           NTH_VALUE(c_custkey, 2) OVER (PARTITION BY c_mktsegment
                                         ORDER BY c_acctbal DESC, c_custkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND CURRENT ROW)
             AS second_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q26_ntile_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.pipeline import offset_scan

    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    # bucket = -acctbal truncated: nondecreasing in the DESC sort order
    # (trunc is monotone); offset_scan coarsens it.
    numbered, _ = offset_scan(
        c,
        -F.col("c_acctbal"),
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        groups=["c_mktsegment"],
    )
    rn, n = F.col("rn"), F.col("_n")
    k = F.lit(4).cast("bigint")
    q, r = _idiv(n, k), n % k
    cut = r * (q + F.lit(1))
    tile = F.when(
        rn <= cut, _idiv(rn - 1, q + F.lit(1)) + F.lit(1)
    ).otherwise(r + _idiv(rn - cut - 1, q) + F.lit(1))
    heads = lambda i: numbered.filter(rn == i).select(  # noqa: E731
        "c_mktsegment", F.col("c_custkey").alias(f"_head{i}")
    )
    return (
        numbered.join(F.broadcast(heads(1)), "c_mktsegment")
        .join(F.broadcast(heads(2)), "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            tile.cast("int").alias("balance_quartile"),
            F.col("_head1").alias("richest_custkey"),
            F.when(rn == 1, F.lit(None).cast("bigint"))
            .otherwise(F.col("_head2"))
            .alias("second_custkey"),
        )
    )


# --------------------------------------------------------------------------
# q27 — grouped quantiles: exact interpolated percentiles per segment.
# No ROUND(6) tolerance device (the q1j pattern — its instance of this
# device class DID diverge at 1.5M rows/group): instead of comparing
# two engines' native interpolation kernels at 6dp, BOTH engines
# compute the identical exact quantity.
# A linearly-interpolated quantile at q = k/20 over n order statistics is
#     pos = (n-1)·k/20,  lo = ⌊pos⌋,  rem = ((n-1)·k) mod 20,
#     Q   = (x[lo]·(20-rem) + x[lo+1]·rem) / 20
# and c_acctbal is a 2-decimal value stored as double, so x in integer
# CENTS (ROUND(bal·100) — the double sits within ~1e-9 of the true
# integer, so both engines recover the same exact cents) makes the
# numerator exact BIGINT arithmetic; the single final division by 2000.0
# of an integer ≤ 2^53 is correctly rounded, hence bit-identical in both
# engines. lo itself is derived division-free as ((n-1)·k - rem)/20 — an
# exact multiple of 20, so the double quotient is the exact integer
# (holds to n ≈ 2.5e14 rows/group; past that, widen to DECIMAL — the
# q1j overflow-regime convention). No ROUND anywhere in the output.
# The approximate path for 100 TB is `approx_percentile` (t-digest-style
# sketch, mergeable map-side) — same call shape, demonstrated in tests.
# --------------------------------------------------------------------------
def _q27_sql() -> str:
    def quant(k: int, alias: str) -> str:
        rem = f"(((n - 1) * {k}) % 20)"
        lo = f"CAST((((n - 1) * {k}) - {rem}) / 20 AS BIGINT)"
        lo_c = f"MAX(CASE WHEN rn = {lo} + 1 THEN cents END)"
        hi_c = f"MAX(CASE WHEN rn = {lo} + 2 THEN cents END)"
        return (
            f"CAST(({lo_c} * (20 - {rem})"
            f" + COALESCE({hi_c}, {lo_c}) * {rem}) AS DOUBLE) / 2000.0"
            f" AS {alias}"
        )

    return f"""
    WITH ranked AS (
      SELECT c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT c_mktsegment,
           {quant(5, "p25")},
           {quant(10, "p50")},
           {quant(15, "p75")},
           {quant(18, "p90")},
           MAX(n) AS n
    FROM ranked
    GROUP BY c_mktsegment, n
    """


@query("q27_group_quantiles", oracle=_q27_sql())
def q27_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_q27_sql())


# --------------------------------------------------------------------------
# q28 — distribution ranks: percent_rank + cume_dist per market segment,
# ordered by balance WITH ties (peer rows share both values — the
# SQL-standard peer-group semantics are what this op pins; a unique
# tie-break would reduce both to row_number arithmetic). Both functions
# are rank-ratio divisions of exact integers, so cross-engine values are
# bit-identical.
#
# Spark shape (100 TB, the other half of the q26 fix): per-segment
# rn via pipeline.offset_scan (windows partitioned by (segment,
# balance-bucket), never by the 5-value segment alone), then SQL peer
# semantics recovered from rn: RANK = MIN(rn) over the peer group,
# CUME_DIST numerator = MAX(rn) over it. Peers share one balance value,
# so the peer window partitions by (segment, acctbal) — a
# high-cardinality key with tiny groups; PERCENT_RANK = (rank-1)/(n-1)
# and CUME_DIST = peer_max/n are each ONE IEEE division of exact
# integers, bit-identical to both engines' native functions.
# --------------------------------------------------------------------------
@query(
    "q28_distribution_ranks",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           percent_rank() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal) AS pct_rank,
           cume_dist() OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal) AS cum_dist
    FROM customer
    """,
)
def q28_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.pipeline import offset_scan

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    numbered, _ = offset_scan(
        cust,
        F.col("c_acctbal"),
        [F.asc("c_acctbal"), F.asc("c_custkey")],
        groups=["c_mktsegment"],
    )
    wpeer = Window.partitionBy("c_mktsegment", "c_acctbal")
    rank = F.min("rn").over(wpeer)
    peer_max = F.max("rn").over(wpeer)
    n = F.col("_n")
    return numbered.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.when(n == 1, F.lit(0.0))
        .otherwise((rank - 1).cast("double") / (n - 1))
        .alias("pct_rank"),
        (peer_max.cast("double") / n).alias("cum_dist"),
    )


# --------------------------------------------------------------------------
# q29 — CUMULATIVE market share: per (region, order month), running
# revenue and running share of the global running total — the classic
# cumulative-analytic report (growth curves, share-shift over time)
# and the window-family op that composes dimension joins with running
# frames. Revenue is integer cents via FLOOR(o_totalprice*100) (the
# q9h device: FLOOR of the same IEEE double rounds identically in both
# engines, a bare decimal cast would not), so both running sums are
# exact BIGINTs and the share is one IEEE division per row.
#
# Scale (100 TB): customer->nation->region are broadcast dim joins
# (region is 5 rows); ONE partial-aggregated groupBy reduces the order
# scan to |regions| x |months| (~420) metadata rows, and BOTH running
# windows operate on that metadata — the per-region frame partitions
# by region, and the global frame partitions by a constant over ~420
# rows (the q4za 25-row convention: a deliberate metadata-sized
# single-partition window, not a data-sized one).
# --------------------------------------------------------------------------
@query(
    "q29_cumulative_share",
    oracle="""
    WITH monthly AS (
      SELECT r.r_name AS region,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, month, cents,
           CAST(SUM(cents) OVER (PARTITION BY region ORDER BY month
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_cents,
           CAST(SUM(cents) OVER (ORDER BY month, region
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_global_cents,
           CAST(SUM(cents) OVER (PARTITION BY region ORDER BY month
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / SUM(cents) OVER (ORDER BY month, region
                                ROWS UNBOUNDED PRECEDING)
             AS cum_share
    FROM monthly
    """,
)
def q29_cumulative_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    monthly = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wr = (
        Window.partitionBy("region")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy().orderBy("month", "region").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return monthly.select(
        "region",
        "month",
        "cents",
        F.sum("cents").over(wr).cast("bigint").alias("cum_cents"),
        F.sum("cents").over(wg).cast("bigint").alias("cum_global_cents"),
        (
            F.sum("cents").over(wr).cast("double")
            / F.sum("cents").over(wg)
        ).alias("cum_share"),
    )


# --------------------------------------------------------------------------
# q2a/q2b/q2c — WINDOW-FAMILY VALUE DIGESTS.
# q21/q25/q28 emit one row per input row, so a full-output compare at
# sf10 measures the harness, not the engine (35 GB RSS observed).
# These wrappers compute a BOUNDED per-group digest of the full output —
# identically in SQL on both engines (the oracle wraps the original
# oracle as a subquery; the Spark side digests the engine DataFrame
# through a temp view) — so the family has driver-checkable VALUE parity
# at ANY scale: ≤4096 buckets for the per-row queries, 5 segments for
# the rank query.
#
# Digest exactness rules (the q75 half-even-vs-half-up cast hazard is
# the enemy — never decimal-cast a double that can land on a cast
# midpoint):
#   - integer keys fold into SUM((mix) % 1e9+7) — pure BIGINT;
#   - cents-valued doubles digest as dsum(x*100, 2): the product sits
#     within ~1e-9 of an integer, 5e-3 away from any scale-2 midpoint;
#   - thirds (trailing3_avg) digest as dsum(x*3.0, 6): the product is
#     within 2 ulp of an integer;
#   - rank ratios digest as dsum(pct_rank*(n-1), 4) / dsum(cume*n, 4):
#     multiplying back by the window size reconstructs near-integers
#     (safe to n ≈ 1e11 at scale 4 — ulp(n) << 5e-5).
# Every addend is therefore unambiguous under decimal cast, and dsum
# makes the fold order-independent.
# --------------------------------------------------------------------------
def _digest_sql_q21() -> str:
    """The digest of the shared table `src`, q21's output."""
    return f"""
    SELECT l_orderkey % 4096 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((l_orderkey * 31 + l_linenumber * 7
                     + CAST(l_quantity AS BIGINT)) % 1000000007) AS BIGINT)
             AS key_mix,
           {sql_dsum("running_qty", 4)} AS d_running,
           {sql_dsum("trailing3_avg_qty * 3.0", 6)} AS d_trailing3x
    FROM src
    GROUP BY 1
    """


def _digest_sql_q25() -> str:
    """The digest of the shared table `src`, q25's output."""
    return f"""
    SELECT o_custkey % 4096 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((o_custkey * 31 + o_orderkey) % 1000000007) AS BIGINT)
             AS key_mix,
           {sql_dsum("o_totalprice * 100", 2)} AS d_price_cents,
           {sql_dsum("COALESCE(prev_price, 0.0) * 100", 2)} AS d_prev_cents,
           {sql_dsum("COALESCE(next_price, 0.0) * 100", 2)} AS d_next_cents,
           {sql_dsum("delta_prev * 100", 2)} AS d_delta_cents
    FROM src
    GROUP BY 1
    """


def _digest_sql_q28() -> str:
    """The digest of the shared table `src`, q28's output."""
    return f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c_custkey % 1000000007) AS BIGINT) AS key_mix,
           {sql_dsum("c_acctbal * 100", 2)} AS d_bal_cents,
           {sql_dsum("pct_rank * (cnt - 1)", 4)} AS d_rank_sum,
           {sql_dsum("cum_dist * cnt", 4)} AS d_peer_sum
    FROM (SELECT *, COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
          FROM src) ranked
    GROUP BY 1
    """


def _oracle_of(name: str) -> str:
    from tf_datapipeline_spark.registry import _ORACLES

    return _ORACLES[name]


@query(
    "q2a_window_digest_running",
    oracle=oracle_with(_digest_sql_q21(), src=_oracle_of("q21_window_running")),
)
def q2a_window_digest_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = q21_window_running(spark, sf_dir)
    return sql_with(spark, sf_dir, _digest_sql_q21(), src=src)


@query(
    "q2b_window_digest_lag",
    oracle=oracle_with(_digest_sql_q25(), src=_oracle_of("q25_lag_lead")),
)
def q2b_window_digest_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = q25_lag_lead(spark, sf_dir)
    return sql_with(spark, sf_dir, _digest_sql_q25(), src=src)


@query(
    "q2c_window_digest_ranks",
    oracle=oracle_with(_digest_sql_q28(), src=_oracle_of("q28_distribution_ranks")),
)
def q2c_window_digest_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = q28_distribution_ranks(spark, sf_dir)
    return sql_with(spark, sf_dir, _digest_sql_q28(), src=src)


# --------------------------------------------------------------------------
# q2d — MOVING MEDIAN: the order-statistic window the family
# lacked — per customer, the median of the trailing 5 order totals
# (ROWS 4 PRECEDING..CURRENT), the robust trend smoother a mean-based
# rolling average can't give (one fat-finger order shifts a mean for 5
# rows; the median shrugs). Neither engine's native windowed
# median/percentile is trusted across engines (typing and interpolation
# differ); BOTH engines instead sort the explicit frame list of exact
# integer CENTS and read the middle order statistics — the even-count
# midpoint is (a + b) / 2.0, one IEEE division of an exact integer sum,
# bit-identical.
#
# Scale (100 TB): one window pass partitioned by o_custkey (a real
# high-cardinality key), frame buffer is 5 rows; the in-frame sort is
# O(5 log 5) per row. No global sort, no SinglePartition.
# --------------------------------------------------------------------------
@query(
    "q2d_moving_median",
    oracle="""
    WITH cents AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    framed AS (
      SELECT o_custkey, o_orderkey, cents,
             list_sort(list(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS frame
      FROM cents
    )
    SELECT o_custkey, o_orderkey, cents,
           CAST(len(frame) AS INT) AS n_frame,
           -- explicit FLOOR on the index arithmetic: DuckDB's
           -- double->int CAST ROUNDS (1.5 -> 2) while Spark's truncates
           -- (1.5 -> 1) — the same engine-cast trap as the floor device
           (CAST(frame[CAST(FLOOR((len(frame) + 1) / 2) AS INT)] AS DOUBLE)
            + frame[CAST(FLOOR(len(frame) / 2) AS INT) + 1])
             / CAST(200 AS DOUBLE) AS moving_median
    FROM framed
    """,
)
def q2d_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, Window.currentRow)
    )
    df = orders.select(
        "o_custkey", "o_orderkey", "o_orderdate", cents.alias("cents")
    ).withColumn("frame", F.array_sort(F.collect_list("cents").over(w)))
    n = F.size("frame")
    # lower/upper middle order statistics (1-based): for odd n they
    # coincide; (lo + hi) / 200.0 converts summed cents back to currency.
    # F.floor matches the oracle's explicit FLOOR (Spark's double->int
    # cast truncates but DuckDB's ROUNDS — never rely on either).
    lo = F.element_at("frame", F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at("frame", F.floor(n / 2).cast("int") + 1)
    return df.select(
        "o_custkey",
        "o_orderkey",
        "cents",
        n.cast("int").alias("n_frame"),
        ((lo.cast("double") + hi) / F.lit(200.0)).alias("moving_median"),
    )
