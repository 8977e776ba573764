"""Relational core: scan, project, filter, joins, aggregation, sort,
limit/top-k, set ops, grouping sets (SURVEY.md §2B "relational core").

The reference has no joins or SQL surface (SURVEY §2A absences:
"No joins of any kind ... no window functions, no sorts other than
sorted(class_names)"); this module supplies the relational surface the
driver contract mandates and the DuckDB oracle can verify.

Scale notes (100 TB):
  - Dim tables (region/nation/customer/supplier/part) are broadcast
    (`F.broadcast`) — fact-to-dim joins never shuffle the fact side.
  - Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; AQE
    handles skew splitting. Keys here are uniform synthetic keys.
  - Aggregates use exact decimal sums (functions/exact.py) — identical
    results at any partition count, which is also what makes reruns of a
    1000-executor job reproducible.
  - Every top-k orders by (metric, unique key) so results are stable
    under ties at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.functions.exact import davg, dsum, sql_davg, sql_dsum
from tf_datapipeline_spark.registry import query


# --------------------------------------------------------------------------
# q01 — flagship: TPC-H Q1-style pricing summary.
# scan → filter → project → hash agg (8 aggregates) → sort. Filter and
# column pruning push into the Parquet scan; the agg is map-side partial.
# --------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity")} AS sum_qty,
           {sql_dsum("l_extendedprice")} AS sum_base_price,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
           {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
           {sql_davg("l_quantity")} AS avg_qty,
           {sql_davg("l_extendedprice")} AS avg_price,
           {sql_davg("l_discount", 6)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg(F.col("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — scan → filter → per-row projection (no agg). Per-row IEEE double
# arithmetic is deterministic, so no rounding is needed for the oracle.
# --------------------------------------------------------------------------
@query(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity
    FROM lineitem
    WHERE l_quantity >= 30 AND l_discount > 0.02
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") >= 30)
            & (F.col("l_discount") > 0.02)
            & (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            "l_quantity",
        )
    )


# --------------------------------------------------------------------------
# q03 — TPC-H Q3-style: 3-way join (dim ⋈ fact ⋈ fact) + agg + top-k.
# customer is small → broadcast; orders ⋈ lineitem shuffles on o_orderkey.
# --------------------------------------------------------------------------
@query(
    "q03_shipping_priority",
    oracle=f"""
    SELECT o.o_orderkey,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 6)} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — EXISTS via left-semi join (TPC-H Q4-style): order priority counts
# for orders having a lineitem shipped after the order date.
# --------------------------------------------------------------------------
@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# --------------------------------------------------------------------------
# q05 — TPC-H Q5-style: 5-way join through the dim chain
# region → nation → customer/supplier → orders → lineitem. All dims
# broadcast; the only shuffle is orders ⋈ lineitem.
# --------------------------------------------------------------------------
@query(
    "q05_region_revenue",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 6)} AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
    )


# --------------------------------------------------------------------------
# q06 — TPC-H Q6: pure scan-side filter + single agg; the whole WHERE
# clause pushes into the Parquet scan (check PushedFilters in .explain).
# --------------------------------------------------------------------------
@query(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", 6)} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q07 — left-semi join returning rows (suppliers that shipped a large lot).
# --------------------------------------------------------------------------
@query(
    "q07_semi_join",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
    )
    """,
)
def q07_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name", "s_acctbal"
    )


# --------------------------------------------------------------------------
# q08 — left-anti join (customers with no orders).
# --------------------------------------------------------------------------
@query(
    "q08_anti_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    """,
)
def q08_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# q09 — top-k with deterministic tie-break (global sort → limit; Spark
# executes this as TakeOrderedAndProject — no full sort at scale).
# --------------------------------------------------------------------------
@query(
    "q09_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q09_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q10 — distinct aggregation: exact COUNT(DISTINCT) per group.
# (approx_count_distinct is exercised in tests — it can't hash-match an
# exact oracle by construction.)
# --------------------------------------------------------------------------
@query(
    "q10_distinct_agg",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q10_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


# --------------------------------------------------------------------------
# q11/q12/q13 — set operations.
# --------------------------------------------------------------------------
@query(
    "q11_union_all",
    oracle="""
    SELECT c_custkey AS custkey, 'BUILDING' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey AS custkey, 'MACHINERY' AS src FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def q11_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"), F.lit("BUILDING").alias("src")
    )
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey"), F.lit("MACHINERY").alias("src")
    )
    return a.unionAll(b)


@query(
    "q12_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 50000
    """,
)
def q12_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 1000).select(F.col("c_custkey").alias("custkey"))
    b = orders.filter(F.col("o_totalprice") > 50000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@query(
    "q13_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q13_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.select(F.col("c_custkey").alias("custkey"))
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    # subtract == EXCEPT (distinct) on any multiset input; exceptAll+distinct
    # would differ when the left side carries duplicates ([x,x] EXCEPT [x]).
    return a.subtract(b)


# --------------------------------------------------------------------------
# q14/q15 — grouping sets (ROLLUP / CUBE).
# --------------------------------------------------------------------------
@query(
    "q14_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity")} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@query(
    "q15_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_extendedprice")} AS sum_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("sum_price"), F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# q16 — conditional aggregation (TPC-H Q14-style promo share): CASE WHEN
# inside exact sums; final ratio is one deterministic IEEE division.
# --------------------------------------------------------------------------
@query(
    "q16_promo_share",
    oracle=f"""
    SELECT
      {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 6)}
        AS promo_revenue,
      {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 6)} AS total_revenue,
      ({sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 6)}
        / {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 6)}) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-09-01 00:00:00'
    """,
)
def q16_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-09-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        dsum(promo, 6).alias("promo_revenue"),
        dsum(rev, 6).alias("total_revenue"),
        (dsum(promo, 6) / dsum(rev, 6)).alias("promo_share"),
    )


# --------------------------------------------------------------------------
# q17 — approximate distinct-count (HyperLogLog++). The sketch estimate is
# engine-specific, so the oracle checks the exact count plus a boolean
# error-bound predicate (|approx-exact|/exact <= 3*rsd) that the Spark
# side computes for real and the oracle asserts as the literal expected
# outcome — a green value row instead of a rows-only check. At 100 TB the
# approx path is the only sane one: fixed-size sketch per group,
# partial-merge, no giant distinct shuffle.
# --------------------------------------------------------------------------
@query(
    "q17_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           1 AS approx_ok
    FROM lineitem GROUP BY 1
    """,
)
def q17_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (err <= 3 * 0.05).cast("int").alias("approx_ok"),
    )


# --------------------------------------------------------------------------
# q18 — explicit GROUPING SETS with grouping indicators (beyond q14/q15's
# ROLLUP/CUBE): per (flag, status), per flag, and grand total in one pass
# — one shuffle, partial aggregation per set.
# --------------------------------------------------------------------------
@query(
    "q18_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status,
           {sql_dsum("l_quantity")} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q18_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views
    from tf_datapipeline_spark.functions.exact import sql_dsum as _sql_dsum

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status,
               {_sql_dsum("l_quantity")} AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --------------------------------------------------------------------------
# q19 — multiset (ALL) set operations: INTERSECT ALL / EXCEPT ALL keep
# duplicate multiplicity (q12/q13 are the distinct forms). One query
# emitting both tagged branches so multiplicities are value-checked.
# --------------------------------------------------------------------------
@query(
    "q19_set_ops_all",
    oracle="""
    SELECT 'intersect_all' AS op, l_partkey FROM (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    )
    UNION ALL
    SELECT 'except_all' AS op, l_partkey FROM (
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      EXCEPT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    )
    """,
)
def q19_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    inter = r.intersectAll(a).select(F.lit("intersect_all").alias("op"), "l_partkey")
    exc = r.exceptAll(a).select(F.lit("except_all").alias("op"), "l_partkey")
    return inter.unionByName(exc)


# --------------------------------------------------------------------------
# q1a — customer order-count distribution (TPC-H Q13 shape): LEFT join +
# per-customer count + histogram of counts. Two aggregations, one join;
# the left join keeps zero-order customers (count 0 bucket).
# --------------------------------------------------------------------------
@query(
    "q1a_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q1a_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# q1b — small-quantity revenue (TPC-H Q17 shape): the correlated
# "quantity < 0.2 * part's average quantity" subquery DECORRELATED into a
# per-part aggregate + join — the rewrite Catalyst/scale requires (a
# correlated per-row subquery is a join in disguise; materialize it once).
# --------------------------------------------------------------------------
@query(
    "q1b_small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey, 0.2 * ({sql_davg("l_quantity", 6)}) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey,
           COUNT(*) AS n_small,
           {sql_dsum("l.l_extendedprice", 6)} AS small_revenue
    FROM lineitem l JOIN part_avg p ON p.l_partkey = l.l_partkey
    WHERE l.l_quantity < p.qty_threshold
    GROUP BY l.l_partkey
    """,
)
def q1b_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * davg("l_quantity", 6)).alias("qty_threshold")
    )
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            dsum("l_extendedprice", 6).alias("small_revenue"),
        )
    )


# --------------------------------------------------------------------------
# q1c — large-volume orders (TPC-H Q18 shape): HAVING on a grouped sum,
# then semi-join back to order/customer detail. The HAVING aggregate runs
# first and is small — the detail join probes only qualifying keys.
# --------------------------------------------------------------------------
@query(
    "q1c_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {sql_dsum("l_quantity")} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {sql_dsum("l_quantity")} > 150
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice,
           b.total_qty
    FROM orders o JOIN big b ON b.l_orderkey = o.o_orderkey
    """,
)
def q1c_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "total_qty"
    )


# --------------------------------------------------------------------------
# q1d — date/time scalar-function surface: truncation, extraction, date
# arithmetic, formatting — aggregated so the whole date kernel is
# value-checked (DuckDB names differ; semantics pinned identical).
# --------------------------------------------------------------------------
@query(
    "q1d_date_functions",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(COUNT(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 END)
                AS BIGINT) AS weekend_orders,
           COUNT(*) AS n_orders,
           CAST(MAX(date_diff('day', o_orderdate,
                              o_orderdate + INTERVAL '90 days')) AS BIGINT)
             AS horizon_days,
           MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day_str
    FROM orders
    GROUP BY 1, 2
    """,
)
def q1d_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday..6
    weekend = F.when(F.dayofweek("o_orderdate").isin(1, 7), 1)
    return o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
    ).agg(
        F.count(weekend).alias("weekend_orders"),
        F.count(F.lit(1)).alias("n_orders"),
        F.max(
            F.datediff(
                (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast("date"),
                F.col("o_orderdate").cast("date"),
            ).cast("bigint")
        ).alias("horizon_days"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_day_str"),
    )


# --------------------------------------------------------------------------
# q1e — array scalar-function surface over embeddings: size, min/max
# element, sliced sums, sorted-prefix — the array kernel value-checked
# against DuckDB's list functions.
# --------------------------------------------------------------------------
@query(
    "q1e_array_functions",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(list_min(embedding) AS DOUBLE) AS min_elem,
           CAST(list_max(embedding) AS DOUBLE) AS max_elem,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           CAST(list_sort(embedding)[1] AS DOUBLE) AS smallest,
           CAST(list_sort(embedding)[len(embedding)] AS DOUBLE) AS largest
    FROM embeddings
    """,
)
def q1e_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding")
    srt = F.sort_array(arr)
    return e.select(
        "vec_id",
        F.size(arr).alias("dim"),
        F.array_min(arr).cast("double").alias("min_elem"),
        F.array_max(arr).cast("double").alias("max_elem"),
        F.element_at(arr, 1).cast("double").alias("first_elem"),
        F.element_at(srt, 1).cast("double").alias("smallest"),
        F.element_at(srt, -1).cast("double").alias("largest"),
    )


# --------------------------------------------------------------------------
# q1f — pivot (wide aggregation): quantity by order-year pivoted across
# return flags. Spark's groupBy().pivot() plans the same single-pass
# conditional aggregation the portable oracle spells out.
# --------------------------------------------------------------------------
@query(
    "q1f_pivot",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
           {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE NULL END")} AS flag_A,
           {sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE NULL END")} AS flag_N,
           {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE NULL END")} AS flag_R
    FROM lineitem
    GROUP BY 1
    """,
)
def q1f_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy(F.year("l_shipdate").alias("ship_year"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum("l_quantity"))
    )
    return pivoted.select(
        "ship_year",
        F.col("A").alias("flag_A"),
        F.col("N").alias("flag_N"),
        F.col("R").alias("flag_R"),
    )


# --------------------------------------------------------------------------
# q1g — string scalar-function kernel: case, trim/pad, substring, concat,
# replace, split — aggregated per segment so every function's output is
# value-checked.
# --------------------------------------------------------------------------
@query(
    "q1g_string_functions",
    oracle="""
    SELECT c_mktsegment,
           MIN(upper(c_name)) AS first_upper,
           MAX(lower(c_name)) AS last_lower,
           MIN(substr(c_name, 1, 8)) AS first_prefix,
           MIN(lpad(CAST(c_custkey AS VARCHAR), 8, '0')) AS first_padded_key,
           MIN(replace(c_name, '#', '-')) AS first_replaced,
           MIN(concat(c_mktsegment, ':', c_name)) AS first_tagged,
           CAST(SUM(length(trim(c_name))) AS BIGINT) AS total_trimmed_len,
           CAST(SUM(len(string_split(c_name, '#'))) AS BIGINT) AS total_parts
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q1g_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.min(F.upper("c_name")).alias("first_upper"),
        F.max(F.lower("c_name")).alias("last_lower"),
        F.min(F.substring("c_name", 1, 8)).alias("first_prefix"),
        F.min(F.lpad(F.col("c_custkey").cast("string"), 8, "0")).alias(
            "first_padded_key"
        ),
        F.min(F.replace(F.col("c_name"), F.lit("#"), F.lit("-"))).alias(
            "first_replaced"
        ),
        F.min(F.concat_ws(":", "c_mktsegment", "c_name")).alias("first_tagged"),
        F.sum(F.length(F.trim(F.col("c_name")))).alias("total_trimmed_len"),
        F.sum(F.size(F.split("c_name", "#"))).alias("total_parts"),
    )


# --------------------------------------------------------------------------
# q1h — unpivot (long form): melt per-year flag columns back to rows via
# STACK (the inverse of q1f). Spark `stack` == portable UNION of typed
# literals; DuckDB UNPIVOT is equivalent but the UNION spelling is
# engine-neutral.
# --------------------------------------------------------------------------
@query(
    "q1h_unpivot",
    oracle=f"""
    WITH wide AS (
      SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
             {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE NULL END")} AS flag_A,
             {sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE NULL END")} AS flag_N,
             {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE NULL END")} AS flag_R
      FROM lineitem GROUP BY 1
    )
    SELECT ship_year, flag, qty FROM (
      SELECT ship_year, 'A' AS flag, flag_A AS qty FROM wide
      UNION ALL SELECT ship_year, 'N', flag_N FROM wide
      UNION ALL SELECT ship_year, 'R', flag_R FROM wide
    ) WHERE qty IS NOT NULL
    """,
)
def q1h_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q1f_pivot(spark, sf_dir)
    melted = wide.select(
        "ship_year",
        F.expr(
            "stack(3, 'A', flag_A, 'N', flag_N, 'R', flag_R) AS (flag, qty)"
        ),
    )
    return melted.filter(F.col("qty").isNotNull())


# --------------------------------------------------------------------------
# q1i — heavy hitters: approx_top_k (frequency-sketch top items) over
# part keys. The sketch is mergeable map-side — the only viable "top
# sellers over 100 TB" shape; exact per-key counts would shuffle every
# key. WHICH tied items the sketch reports is engine-specific, but the
# top-10 count multiset is tie-invariant, and with maxItemsTracked >=
# distinct part keys the tracked counts are exact — so (n_items, sum,
# floor) of the top-10 counts is a value-level oracle. Tests additionally
# assert the approx item set recovers the exact top items.
#
# Capacity regimes (found by an sf1 parity sweep): below
# capacity >= distinct, the Datasketches frequent-items sketch reports
# only items it can CERTIFY as heavy (count lower-bound above the purge
# error), and on near-uniform data that set is legitimately EMPTY — at
# sf1 (200k distinct part keys, ~30 rows each) the old 65536-item sketch
# returned zero items while the oracle listed an exact top-10. That is
# correct sketch semantics, not a bug (pinned in
# tests/test_properties.py::test_approx_top_k_certification_regime), but
# it means the exact-oracle contract REQUIRES capacity >= distinct.
# _TOPK_TRACKED = 10^6 is Spark's HARD ceiling for approx_top_k
# (APPROX_TOP_K_MAX_ITEMS_TRACKED_EXCEEDS_LIMIT above it) and holds the
# exact regime through sf1; past ~1M distinct keys (sf10's 2M parts, or
# any 100 TB corpus) ONLY the certified regime exists, and an empty
# result reads as "no key exceeds n/capacity" — the statistically honest
# answer on uniform data.
# --------------------------------------------------------------------------
_TOPK_TRACKED = 1_000_000
@query(
    "q1i_heavy_hitters",
    oracle="""
    WITH counts AS (
      SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1
    ), top AS (
      SELECT c FROM counts ORDER BY c DESC LIMIT 10
    )
    SELECT COUNT(*) AS n_items,
           CAST(SUM(c) AS BIGINT) AS top10_total,
           CAST(MIN(c) AS BIGINT) AS top10_floor
    FROM top
    """,
)
def q1i_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    # Regime guard: the exact-oracle
    # contract above REQUIRES distinct keys <= _TOPK_TRACKED. Past that,
    # the sketch legitimately enters certified-only mode and the gate row
    # would hard-fail with an opaque value mismatch. The 1-row guard
    # scalar (cross-joined, forced by the WHERE so pruning can't drop it)
    # makes an out-of-regime run fail FAST with a capacity message
    # instead. assert_true yields NULL on success, so the predicate keeps
    # every result row; the exact distinct count is one extra key-shuffle
    # over the same scan — the documented price of the exact contract.
    return spark.sql(
        """
        WITH guard AS (
          SELECT assert_true(
                   COUNT(DISTINCT l_partkey) <= {tracked},
                   CONCAT('q1i_heavy_hitters out of exact-oracle regime: ',
                          COUNT(DISTINCT l_partkey),
                          ' distinct part keys > approx_top_k capacity {tracked}',
                          ' (Spark hard ceiling); above it the sketch is',
                          ' certified-only and may return an empty set')
                 ) AS ok
          FROM lineitem
        )
        SELECT n_items, top10_total, top10_floor
        FROM (
          SELECT COUNT(*) AS n_items,
                 CAST(SUM(item.count) AS BIGINT) AS top10_total,
                 CAST(MIN(item.count) AS BIGINT) AS top10_floor
          FROM (
            SELECT explode(approx_top_k(l_partkey, 10, {tracked})) AS item
            FROM lineitem
          )
        ) CROSS JOIN guard
        WHERE guard.ok IS NULL
        """.format(tracked=_TOPK_TRACKED)
    )


# --------------------------------------------------------------------------
# q1j — statistical aggregate kernel: sample stddev/variance, Pearson
# correlation, sample covariance per segment, derived from EXACT decimal
# moments (Σx, Σy, Σx², Σy², Σxy — each input has a fixed decimal width,
# so every addend casts exactly) with the same IEEE formulas on both
# engines. The original formulation used each engine's NATIVE kernels
# (stddev_samp/corr/covar_samp) rounded to 6dp as the cross-engine
# tolerance; an sf10 relational sweep caught that device
# failing at scale — at 1.5M rows/group the engines' merge-order
# difference reaches ~6e-11 relative on the cancellation-heavy covar,
# which straddles the 6dp rounding boundary (…669 vs …671). Exact
# moments are order-independent, map-side combinable, deterministic at
# ANY parallelism — and the derived statistics are then bit-identical
# with no rounding device at all. The native Spark kernels stay
# evidenced by a tolerance test against these moment formulas
# (test_properties.test_native_stat_kernels_match_moment_formulas).
# Overflow regime (ANSI errors, never wraps): Σ(key²) at DECIMAL(28,4)
# holds to ~1e24 — beyond sf100's ~3e24 the key moments widen to
# DECIMAL(38,4) behind the same expressions.
# --------------------------------------------------------------------------
def _q1j_sql() -> str:
    x, y = "c_acctbal", "CAST(c_custkey AS DOUBLE)"
    sx = sql_dsum(x, 2)
    sxx = sql_dsum(f"{x} * {x}", 4)
    sy = sql_dsum(y, 2)
    syy = sql_dsum(f"{y} * {y}", 4)
    sxy = sql_dsum(f"{x} * {y}", 2)
    return f"""
    WITH m AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sx} AS sx, {sxx} AS sxx,
             {sy} AS sy, {syy} AS syy,
             {sxy} AS sxy
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           -- GREATEST(residual, 0.0) before every SQRT (the q4zb device):
           -- on degenerate near-constant groups IEEE cancellation can
           -- leave the residual slightly negative, and sqrt(negative) is
           -- NaN in Spark but an ERROR in DuckDB — a behavioral, not
           -- value, divergence. The clamp is identical double arithmetic
           -- in both engines, so non-degenerate results stay bit-exact.
           SQRT(GREATEST((sxx - sx * (sx / n)), 0.0) / (n - 1)) AS sd_bal,
           (sxx - sx * (sx / n)) / (n - 1) AS var_bal,
           (sxy - sx * (sy / n))
             / SQRT(GREATEST((sxx - sx * (sx / n))
                             * (syy - sy * (sy / n)), 0.0))
             AS corr_bal_key,
           (sxy - sx * (sy / n)) / (n - 1) AS covar_bal_key,
           CAST(n AS BIGINT) AS n
    FROM m
    """


@query("q1j_stats_kernel", oracle=_q1j_sql())
def q1j_stats_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_q1j_sql())


# --------------------------------------------------------------------------
# q1k — FULL OUTER join: customers x a filtered order subset, keeping
# unmatched rows from BOTH sides (null-extended), then aggregated by
# match status. Completes the join-type surface (inner/left/semi/anti
# elsewhere).
# --------------------------------------------------------------------------
@query(
    "q1k_full_outer",
    oracle="""
    WITH big_orders AS (
      SELECT o_custkey, COUNT(*) AS n_big
      FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
    )
    SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                WHEN b.o_custkey IS NULL THEN 'customer_only'
                ELSE 'both' END AS side,
           COUNT(*) AS n_rows,
           CAST(COALESCE(SUM(b.n_big), 0) AS BIGINT) AS total_big_orders
    FROM customer c FULL OUTER JOIN big_orders b ON b.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q1k_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    b = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    joined = c.join(b, c.c_custkey == b.o_custkey, "full_outer")
    side = (
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
    )
    return joined.groupBy(side.alias("side")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("n_big"), F.lit(0)).alias("total_big_orders"),
    )


# --------------------------------------------------------------------------
# q1l — null-semantics kernel: COALESCE / NULLIF / null-safe equality.
# Spark's `<=>` == SQL `IS NOT DISTINCT FROM`; NULLIF injects nulls that
# the null-safe compare and COALESCE must handle identically in both
# engines.
# --------------------------------------------------------------------------
@query(
    "q1l_null_kernel",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_discount,
           CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0)
                              IS NOT DISTINCT FROM NULLIF(l_tax, 0.0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
           ROUND(SUM(CAST(ROUND(COALESCE(NULLIF(l_discount, 0.0), 0.01) * 100, 0)
                          AS BIGINT)) / 100.0, 2) AS sum_floored_discount
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q1l_null_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nd = F.nullif(F.col("l_discount"), F.lit(0.0))
    nt = F.nullif(F.col("l_tax"), F.lit(0.0))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(nd.isNull(), 1).otherwise(0)).alias("n_zero_discount"),
        F.sum(F.when(nd.eqNullSafe(nt), 1).otherwise(0)).alias("n_nullsafe_eq"),
        # round BEFORE the bigint cast: DuckDB's double->int cast rounds
        # while Spark truncates; an explicit ROUND(x, 0) agrees in both
        F.round(
            F.sum(F.round(F.coalesce(nd, F.lit(0.01)) * 100, 0).cast("bigint"))
            / 100.0,
            2,
        ).alias("sum_floored_discount"),
    )


# --------------------------------------------------------------------------
# q1m — regex kernel: extraction, replacement-length, LIKE-style matching
# over part names/types (regexp semantics pinned across engines on a
# shared RE2-compatible subset).
# --------------------------------------------------------------------------
@query(
    "q1m_regex_kernel",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(CASE WHEN p_type LIKE '%PROMO%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_promo,
           MIN(regexp_extract(p_name, '([0-9]+)', 1)) AS first_digits,
           CAST(SUM(length(regexp_replace(p_name, '[aeiou]', '', 'g')) ) AS BIGINT)
             AS total_consonant_len
    FROM part GROUP BY p_brand
    """,
)
def q1m_regex_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.when(F.col("p_type").like("%PROMO%"), 1).otherwise(0)).alias(
            "n_promo"
        ),
        F.min(F.regexp_extract("p_name", r"([0-9]+)", 1)).alias("first_digits"),
        F.sum(F.length(F.regexp_replace("p_name", "[aeiou]", ""))).alias(
            "total_consonant_len"
        ),
    )


# --------------------------------------------------------------------------
# q1n — revenue rollup over the BUCKETED orders ⋈ lineitem join
# (sources/bucketing.py): both sides are pre-hash-bucketed and pre-sorted
# on the join key at write time, so the join plans as a SortMergeJoin
# with NO Exchange and no per-query sort — the pay-the-shuffle-once
# storage layout that keeps a 100 TB fact table from being re-exchanged
# by every query (plan pinned in tests/test_plans.py
# test_bucketed_join_has_no_exchange). The oracle recomputes the same
# rollup from the raw tables — value-level proof the bucketed path loses
# nothing.
# --------------------------------------------------------------------------
@query(
    "q1n_colocated_join",
    oracle=f"""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 6)} AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q1n_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.sources.bucketing import bucketed_orders_lineitem

    t_orders, t_lineitem = bucketed_orders_lineitem(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(li, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(revenue, 6).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q1s — MODE (most frequent value) per group, deterministic tie-break by
# value: counts are a partial-aggregated groupBy and the per-group argmax
# is a row_number over (count DESC, value) — never a driver-side pass.
# The same shape computes any per-group argmax over an aggregate at
# 100 TB (two shuffles: count, then per-group top-1).
# --------------------------------------------------------------------------
@query(
    "q1s_mode_kernel",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      FROM orders GROUP BY 1, 2
    ) ranked WHERE rn = 1
    """,
)
def q1s_mode_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# q1u — correlated scalar subquery (TPC-H Q17 shape): lines whose quantity
# is below half the average quantity for their part. Written as SQL so
# Catalyst's decorrelation kicks in: the correlated AVG becomes a
# per-partkey aggregate joined back on l_partkey — one extra shuffle, no
# per-row re-scan. Cross-engine float safety: l_quantity is integer-valued
# (1..50), so SUM in double is exact at any order and AVG (sum/count) is
# bit-identical in both engines; the outer SUM uses the exact-decimal
# kernel.
# --------------------------------------------------------------------------
_CORRELATED_SQL = f"""
    SELECT p.p_brand,
           COUNT(*) AS n_small_lines,
           {sql_dsum("l.l_extendedprice", 2)} AS total_price
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY p.p_brand
"""


@query("q1u_correlated_subquery", oracle=_CORRELATED_SQL)
def q1u_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CORRELATED_SQL)


# --------------------------------------------------------------------------
# q1v — EXISTS / NOT EXISTS subqueries: suppliers with at least one
# high-revenue line (EXISTS → left-semi join) and no heavily-discounted
# returned line (NOT EXISTS → left-anti join). Catalyst rewrites both
# subqueries into joins on l_suppkey; supplier is the small side and both
# probes shuffle once on l_suppkey — no per-supplier re-scan.
# --------------------------------------------------------------------------
_EXISTS_SQL = """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_suppkey = s.s_suppkey
          AND l.l_extendedprice * (1 - l.l_discount) > 20000
    )
    AND NOT EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_suppkey = s.s_suppkey
          AND l2.l_returnflag = 'R' AND l2.l_quantity >= 49
          AND l2.l_extendedprice > 90000
    )
"""


@query("q1v_exists_subquery", oracle=_EXISTS_SQL)
def q1v_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


# --------------------------------------------------------------------------
# q1w — APPROX QUANTILES (mergeable rank sketch): per-group
# percentile_approx (Greenwald-Khanna-style summary: map-side partial
# sketches merge associatively — ONE pass, no sort) for p50/p95 of
# l_extendedprice. At 100 TB this is the only affordable quantile shape:
# an exact median needs a global sort or a full value histogram; the
# sketch ships kilobytes per partition. Verified like q17's HLL row: the
# sketch's published RANK guarantee (|rank(v) - p*n| <= n/accuracy) is
# checked by ranking the returned values against the real data in a
# second pass, and the oracle (which cannot replay an engine-specific
# sketch) pins the group cardinalities plus the always-true bound flags.
# The check pass is harness machinery — production runs only the sketch.
# --------------------------------------------------------------------------
_PA_ACC = 1000  # rank error <= n / _PA_ACC


@query(
    "q1w_approx_quantiles",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows, 1 AS p50_ok, 1 AS p95_ok
    FROM lineitem GROUP BY 1
    """,
)
def q1w_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    sketch = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95], _PA_ACC).alias("qs"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        "l_returnflag",
        "n_rows",
        F.col("qs")[0].alias("v50"),
        F.col("qs")[1].alias("v95"),
    )

    def rank_ok(v, p):
        # rank guarantee: #(x < v) <= p*n + eps AND #(x <= v) >= p*n - eps,
        # with eps = ceil(n/accuracy) — the sketch rounds its error budget
        # UP to whole ranks (observed exactly at the boundary: n=1962,
        # acc=1000 admits rank error 2, not 1.962)
        eps = F.ceil(F.col("n_rows") / _PA_ACC)
        lt = F.sum((F.col("l_extendedprice") < v).cast("long"))
        le = F.sum((F.col("l_extendedprice") <= v).cast("long"))
        return (
            (lt <= p * F.col("n_rows") + eps)
            & (le >= p * F.col("n_rows") - eps)
        ).cast("int")

    checked = (
        li.join(F.broadcast(sketch), "l_returnflag")
        .groupBy("l_returnflag", "n_rows", "v50", "v95")
        .agg(
            rank_ok(F.col("v50"), 0.5).alias("p50_ok"),
            rank_ok(F.col("v95"), 0.95).alias("p95_ok"),
        )
    )
    return checked.select("l_returnflag", "n_rows", "p50_ok", "p95_ok")


# --------------------------------------------------------------------------
# q1x — DATA-QUALITY AUDIT (the Deequ/Great-Expectations constraint-suite
# shape): one pass computes seven production constraint checks over
# lineitem — null keys, quantity/discount range, positive price,
# primary-key uniqueness, foreign-key integrity against orders, and the
# ship-after-order sequence rule — emitting one (check, n_checked,
# n_violations, pass) row each. This is the validation stage every
# ingest pipeline runs before data is allowed downstream. Cost shape:
# the four row-local checks share ONE conditional-aggregation scan; the
# PK check is one partial-agg groupBy on the key; FK + sequence share
# one key-partitioned join — nothing is per-check rescanned. All counts
# are exact integers (cast to BIGINT so DuckDB's HUGEINT sums align).
# The synthetic data genuinely fails two checks (duplicate PKs and
# ship-before-order rows), so the audit provably detects, not just
# passes.
# --------------------------------------------------------------------------
_QUALITY_AUDIT_SQL = """
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_orderkey IS NULL OR l_quantity IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
             CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             CAST(SUM(CASE WHEN l_extendedprice <= 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
      FROM lineitem
    ),
    pk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup
      FROM (
        SELECT l_orderkey, l_linenumber, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2
      ) g
    ),
    joined AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_li,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_orphan,
             CAST(SUM(CASE WHEN o.o_orderkey IS NOT NULL
                           AND l.l_shipdate < o.o_orderdate
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_seq
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT check_name, n_checked, n_violations,
           CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS pass
    FROM (
      SELECT 'null_keys' AS check_name, n AS n_checked, v_null AS n_violations
      FROM base
      UNION ALL SELECT 'quantity_range', n, v_qty FROM base
      UNION ALL SELECT 'positive_price', n, v_price FROM base
      UNION ALL SELECT 'discount_range', n, v_disc FROM base
      UNION ALL SELECT 'pk_unique', n_keys, v_dup FROM pk
      UNION ALL SELECT 'fk_orders', n_li, v_orphan FROM joined
      UNION ALL SELECT 'ship_after_order', n_li, v_seq FROM joined
    ) checks
    """


@query("q1x_quality_audit", oracle=_QUALITY_AUDIT_SQL)
def q1x_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side deliberately does NOT run the oracle's UNION text:
    Spark inlines CTEs, so the 7-branch UNION planned NINE parquet scans
    (the lineitem⋈orders join twice). Instead the five row-local checks
    fold into ONE conditional aggregation over the (row-preserving,
    orders-key-unique) left join, the PK check is the one extra groupBy
    pass, and the 7 output rows come from a stack() unpivot of the
    combined 1-row metric set — 2 lineitem scans + 1 join total, the
    shape a 100 TB audit needs. Values are unchanged: the predicates
    are identical per row, so the oracle's formulation hashes the same."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey, "left")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    base = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        viol(
            F.col("l_orderkey").isNull() | F.col("l_quantity").isNull()
        ).alias("v_null"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "v_qty"
        ),
        viol(F.col("l_extendedprice") <= 0).alias("v_price"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias(
            "v_disc"
        ),
        viol(F.col("o_orderkey").isNull()).alias("v_orphan"),
        viol(
            F.col("o_orderkey").isNotNull()
            & (F.col("l_shipdate") < F.col("o_orderdate"))
        ).alias("v_seq"),
    )
    pk = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            viol(F.col("cnt") > 1).alias("v_dup"),
        )
    )
    stacked = base.crossJoin(F.broadcast(pk)).selectExpr(
        "stack(7, "
        "'null_keys', n, v_null, "
        "'quantity_range', n, v_qty, "
        "'positive_price', n, v_price, "
        "'discount_range', n, v_disc, "
        "'pk_unique', n_keys, v_dup, "
        "'fk_orders', n, v_orphan, "
        "'ship_after_order', n, v_seq"
        ") AS (check_name, n_checked, n_violations)"
    )
    return stacked.select(
        "check_name",
        "n_checked",
        "n_violations",
        F.when(F.col("n_violations") == 0, 1).otherwise(0).alias("pass"),
    )


# --------------------------------------------------------------------------
# q1y — SNAPSHOT DIFF (change-data-capture): given yesterday's and
# today's snapshot of `orders`, emit the exact change set — inserts,
# deletes, and updates (with old/new values) — via one full-outer join
# on the key. This is the CDC/merge-prep op every incremental pipeline
# runs to avoid reprocessing unchanged rows (the batch complement of
# q4x's streaming MERGE). Snapshots derive deterministically from the
# driver table: "old" drops keys = 0 (mod 10) [today's inserts] and
# "new" drops keys = 1 (mod 10) [today's deletes] and reprices keys
# = 2 (mod 7) [updates]; everything else must NOT appear in the diff —
# unchanged-row suppression is the point of the op. Cost shape: one
# key-partitioned full-outer join, change classification as row-local
# CASEs; output is O(changes), not O(snapshot).
# --------------------------------------------------------------------------
_SNAPSHOT_DIFF_SQL = """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 2
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 1
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.o_totalprice AS old_totalprice,
           n.o_totalprice AS new_totalprice
    FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
       OR o.o_orderstatus <> n.o_orderstatus
    """


@query("q1y_snapshot_diff", oracle=_SNAPSHOT_DIFF_SQL)
def q1y_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SNAPSHOT_DIFF_SQL)


# --------------------------------------------------------------------------
# q1z — TABLE STATISTICS (the ANALYZE TABLE ... COMPUTE STATISTICS
# analog): per-column null count, exact distinct count, and min/max for
# the optimizer-relevant lineitem columns, emitted as one row per
# column — the catalog-stats collection every CBO-driven warehouse runs
# after ingest (join reordering and broadcast decisions at 100 TB are
# only as good as these numbers). ONE pass: Spark rewrites the
# multi-column COUNT(DISTINCT ...) aggregate via EXPAND (partial
# aggregation per column group), so the scan is not repeated per
# column; the per-column rows come from a stack() unpivot of the 1-row
# aggregate. Min/max are reported for the numeric columns and cast to
# DOUBLE so one schema fits every row (the string column reports NULLs
# there — its width stats are its min/max lengths).
# --------------------------------------------------------------------------
_ANALYZE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _analyze_sql() -> str:
    per = ",\n           ".join(
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_{c},"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c},"
        f" CAST(MIN({c}) AS DOUBLE) AS mn_{c},"
        f" CAST(MAX({c}) AS DOUBLE) AS mx_{c}"
        for c in _ANALYZE_COLS
    )
    rows = ", ".join(
        f"('{c}', n_rows, nn_{c}, nd_{c}, mn_{c}, mx_{c})" for c in _ANALYZE_COLS
    )
    return f"""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {per}
      FROM lineitem
    )
    SELECT t.* FROM agg, LATERAL (VALUES {rows})
         AS t(col_name, n_rows, n_nulls, n_distinct, min_value, max_value)
    """


@query("q1z_table_stats", oracle=_analyze_sql())
def q1z_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in _ANALYZE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"nn_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    agg = li.agg(*aggs)
    rows = ", ".join(
        f"'{c}', n_rows, nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _ANALYZE_COLS
    )
    return agg.selectExpr(
        f"stack({len(_ANALYZE_COLS)}, {rows}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


# --------------------------------------------------------------------------
# q1aa — DATA-QUALITY EXPECTATION SUITE: the Deequ/Great-
# Expectations shape — a declared constraint set validated in bulk with
# per-constraint violation counts and pass rates, the admission gate a
# production lake runs before letting a snapshot into training:
#   uniqueness      o_orderkey has no duplicates
#   referential     every o_custkey exists in customer
#   range           o_totalprice > 0
#   completeness    o_orderdate is non-null
#   domain          o_orderstatus ∈ {O, F, P}
#
# Spark shape (100 TB): the three row-local constraints fold into ONE
# conditional aggregate over a single orders scan (map-side partial,
# 1-row result); uniqueness is one partial-aggregated groupBy on the
# key; referential integrity is a LEFT ANTI join on o_custkey (shuffle
# or broadcast as the dim side allows — Catalyst's choice). The suite
# result is 5 metadata rows; pass rates are one IEEE division each.
# --------------------------------------------------------------------------
@query(
    "q1aa_expectation_suite",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
    dup AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v FROM (
        SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
      ) g WHERE c > 1
    ),
    orphan AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
    ),
    rowlocal AS (
      SELECT
        CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS v_range,
        CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS v_null,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_domain
      FROM orders
    ),
    suite(constraint_name, n_violations) AS (
      SELECT 'unique_o_orderkey', (SELECT v FROM dup)
      UNION ALL
      SELECT 'fk_o_custkey_in_customer', (SELECT v FROM orphan)
      UNION ALL
      SELECT 'range_o_totalprice_positive', (SELECT v_range FROM rowlocal)
      UNION ALL
      SELECT 'notnull_o_orderdate', (SELECT v_null FROM rowlocal)
      UNION ALL
      SELECT 'domain_o_orderstatus', (SELECT v_domain FROM rowlocal)
    )
    SELECT constraint_name, n.n_rows AS n_checked, n_violations,
           1.0 - CAST(n_violations AS DOUBLE) / n.n_rows AS pass_rate,
           n_violations = 0 AS passed
    FROM suite, n
    """,
)
def q1aa_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # lazy 1-row total (broadcast) — an eager .count() here would run a
    # job at query-CONSTRUCTION time, once per plan inspection
    n = orders.agg(F.count(F.lit(1)).alias("n_rows"))
    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("bigint").alias("v"))
    )
    orphan = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey",
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("v"))
    rowlocal = orders.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("int")).cast("bigint").alias("v_range"),
        F.sum(F.col("o_orderdate").isNull().cast("int")).cast("bigint").alias("v_null"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("int"))
        .cast("bigint")
        .alias("v_domain"),
    )
    rows = (
        dup.select(F.lit("unique_o_orderkey").alias("constraint_name"), F.col("v").alias("n_violations"))
        .unionAll(orphan.select(F.lit("fk_o_custkey_in_customer"), F.col("v").cast("bigint")))
        .unionAll(rowlocal.select(F.lit("range_o_totalprice_positive"), "v_range"))
        .unionAll(rowlocal.select(F.lit("notnull_o_orderdate"), "v_null"))
        .unionAll(rowlocal.select(F.lit("domain_o_orderstatus"), "v_domain"))
    )
    return rows.crossJoin(F.broadcast(n)).select(
        "constraint_name",
        F.col("n_rows").alias("n_checked"),
        "n_violations",
        (
            F.lit(1.0) - F.col("n_violations").cast("double") / F.col("n_rows")
        ).alias("pass_rate"),
        (F.col("n_violations") == 0).alias("passed"),
    )
