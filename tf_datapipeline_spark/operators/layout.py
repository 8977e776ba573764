"""Storage-layout & index-maintenance operators (the q9 family).

At 100 TB the scan you avoid is worth more than the scan you speed up:
data layout (multi-dimensional clustering + per-file min/max stats) and
mergeable-sketch rollups are the two levers that turn full-table scans
into file-skipping range reads and incremental metric refreshes. Both
operators here are pure integer/sketch arithmetic expressed in one
dialect-parameterized SQL body, so every file assignment, every min/max
stat and every skip decision is hash-exact against the DuckDB oracle.

Reference analog: none (extension family, BASELINE.json) — these are the
maintenance jobs a production deployment of the engine runs around the
reference's query surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tf_datapipeline_spark.catalog import oracle_with, register_views, sql_with
from tf_datapipeline_spark.functions import dialect as D
from tf_datapipeline_spark.functions.texthash import (
    BLOOM_K,
    BLOOM_M,
    BLOOM_WORD,
    sql_bloom_hashes,
    sql_hash32,
    sql_shl1,
)
from tf_datapipeline_spark.registry import query

# --------------------------------------------------------------------------
# q9a — Z-ORDER layout vs single-column layout, measured by file skipping.
# Rows are bucketed on (order date, customer key) into 8-bit grids, the
# two bucket ids are bit-interleaved into a 16-bit z-value, and files are
# STATIC z-ranges (z DIV 1024 -> 64 files; a production writer gets
# balanced files from the same key via repartitionByRange — no global
# sort appears here or there). Each file carries min/max stats for both
# dimensions, exactly what parquet footers / Delta file stats expose, and
# a fixed 2-D probe box is answered twice: against the z-order layout and
# against a date-sorted layout (xb DIV 4 -> 64 files). The output is the
# skip arithmetic itself — file and row counts each layout must scan —
# so the oracle value-checks the entire layout+stats+pruning pipeline.
# The z-order layout prunes on BOTH dimensions (the point of interleaved
# bits: locality in every axis), the linear layout only on its sort key.
#
# Scale: bucket ids, z-values and file ids are per-row scalar arithmetic
# (codegen, no shuffle); the stats pass is one partial-aggregated
# groupBy(file). The only data-dependent inputs are the four min/max
# scalars (one metadata-cheap aggregate, broadcast as a 1-row cross
# join). At a real deployment the same z expression feeds
# repartitionByRange(z).sortWithinPartitions(z) at write time.
# --------------------------------------------------------------------------
_GRID = 256  # 8-bit buckets per dimension
_N_FILES = 64
_QX = (64, 79)  # probe box: 1/16 of the date axis
_QY = (128, 159)  # 1/8 of the key axis


def _bit(v: str, i: int) -> str:
    return f"(CAST(FLOOR(({v}) / {2 ** i}.0) AS BIGINT) % 2)"


def _interleave(xb: str, yb: str) -> str:
    terms = []
    for i in range(8):
        terms.append(f"{_bit(xb, i)} * {2 ** (2 * i + 1)}")
        terms.append(f"{_bit(yb, i)} * {2 ** (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def _bucketed_sql(dialect: str) -> str:
    """The (xb, yb) bucket-id projection of orders (bounds-normalized
    8-bit grid coordinates) — the shared input of zfiles/lfiles/hits."""
    day = D.epoch_day("o_orderdate", dialect)
    xb = (
        f"LEAST(CAST(FLOOR((d.ep_day - b.min_day) * {_GRID}.0 "
        f"/ (b.max_day - b.min_day + 1)) AS BIGINT), {_GRID - 1})"
    )
    yb = (
        f"LEAST(CAST(FLOOR((d.o_custkey - b.min_key) * {_GRID}.0 "
        f"/ (b.max_key - b.min_key + 1)) AS BIGINT), {_GRID - 1})"
    )
    return f"""
      SELECT {xb} AS xb, {yb} AS yb
      FROM (SELECT {day} AS ep_day, o_custkey FROM orders) d,
           (SELECT MIN({day}) AS min_day, MAX({day}) AS max_day,
                   MIN(o_custkey) AS min_key, MAX(o_custkey) AS max_key
            FROM orders) b
    """


def _probe_pred() -> str:
    return (
        f"xmin <= {_QX[1]} AND xmax >= {_QX[0]} "
        f"AND ymin <= {_QY[1]} AND ymax >= {_QY[0]}"
    )


def _zorder_body() -> str:
    """The skip arithmetic over the shared table `bucketed`. Each
    layout's file count and its probe-box scan figures come from ONE
    conditional aggregate over that layout's file table (a CASE-filtered
    COUNT/SUM is value-identical to a filtered aggregate: COUNT skips
    NULLs, SUM of none is NULL), so Spark runs 3 aggregate arms, not a
    probe-filtered aggregate plus a scalar COUNT subquery per layout."""
    zspan = 65536 // _N_FILES
    xspan = _GRID // _N_FILES
    return f"""
    WITH zfiles AS (
      SELECT CAST(FLOOR({_interleave('xb', 'yb')} / {zspan}.0) AS INT)
               AS file_id,
             MIN(xb) AS xmin, MAX(xb) AS xmax,
             MIN(yb) AS ymin, MAX(yb) AS ymax,
             COUNT(*) AS n_rows
      FROM bucketed GROUP BY 1
    ),
    lfiles AS (
      SELECT CAST(FLOOR(xb / {xspan}.0) AS INT) AS file_id,
             MIN(xb) AS xmin, MAX(xb) AS xmax,
             MIN(yb) AS ymin, MAX(yb) AS ymax,
             COUNT(*) AS n_rows
      FROM bucketed GROUP BY 1
    ),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS matching_rows FROM bucketed
      WHERE xb BETWEEN {_QX[0]} AND {_QX[1]}
        AND yb BETWEEN {_QY[0]} AND {_QY[1]}
    ),
    zstat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(COUNT(CASE WHEN {_probe_pred()} THEN 1 END) AS BIGINT)
               AS files_scanned,
             CAST(SUM(CASE WHEN {_probe_pred()} THEN n_rows END) AS BIGINT)
               AS rows_scanned
      FROM zfiles
    ),
    lstat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(COUNT(CASE WHEN {_probe_pred()} THEN 1 END) AS BIGINT)
               AS files_scanned,
             CAST(SUM(CASE WHEN {_probe_pred()} THEN n_rows END) AS BIGINT)
               AS rows_scanned
      FROM lfiles
    )
    SELECT z.n_files AS n_files_z,
           l.n_files AS n_files_linear,
           z.files_scanned AS z_files_scanned,
           z.rows_scanned AS z_rows_scanned,
           l.files_scanned AS linear_files_scanned,
           l.rows_scanned AS linear_rows_scanned,
           h.matching_rows
    FROM zstat z, lstat l, hits h
    """


@query(
    "q9a_zorder_layout",
    oracle=oracle_with(_zorder_body(), bucketed=_bucketed_sql("duckdb")),
)
def q9a_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _zorder_body(), bucketed=_bucketed_sql("spark"))


# --------------------------------------------------------------------------
# q9o — HILBERT-CURVE layout vs z-order: the alternative
# space-filling clustering key production table formats actually prefer
# (Delta Lake's OPTIMIZE ... BY HILBERT, Iceberg's hilbert sort-order) —
# the Hilbert walk never makes the long diagonal jumps z-order's bit
# interleave takes between quadrants, so per-file bounding boxes are
# tighter and range probes scan fewer files. Same grid, file count,
# stats and probe box as q9a; the output is the head-to-head skip
# arithmetic (files/rows each layout scans) plus each layout's summed
# per-file bounding-box area — the clustering-quality number that
# explains WHY one layout prunes better.
#
# The Hilbert d-index is the standard xy2d bit walk (Wikipedia/Warren,
# public domain: 8 rounds of quadrant-rotate + reflect for an 8-bit
# grid), unrolled into 8 CTE rounds of pure integer CASE arithmetic —
# the same device as q75's PQ rounds — so BOTH engines evaluate the
# identical expression chain; the quadrant XOR (3*rx)^ry is spelled
# 3*rx + ry - 2*rx*ry (exact on {0,1}), and reflections stay in-grid so
# every intermediate is a bounded nonnegative integer.
#
# Scale: identical to q9a — per-row scalar arithmetic (codegen, no
# shuffle) over the materialized (xb, yb) projection, one partial-aggregated
# groupBy(file) per layout; a production writer feeds the same hv
# expression to repartitionByRange(hv).sortWithinPartitions(hv).
# --------------------------------------------------------------------------
def _hilbert_rounds() -> str:
    """Unrolled xy2d: h0(x, y, d) -> h8, carrying (xb, yb) for stats."""
    ctes = []
    for i, s in enumerate([128, 64, 32, 16, 8, 4, 2, 1]):
        prev = f"h{i}"
        ctes.append(f"""
    r{i + 1} AS (
      SELECT xb, yb, x, y, d,
             (CAST(FLOOR(x / {s}.0) AS BIGINT) % 2) AS rx,
             (CAST(FLOOR(y / {s}.0) AS BIGINT) % 2) AS ry
      FROM {prev}
    ),
    h{i + 1} AS (
      SELECT xb, yb,
             CASE WHEN ry = 0 THEN
               CASE WHEN rx = 1 THEN {_GRID - 1} - y ELSE y END
             ELSE x END AS x,
             CASE WHEN ry = 0 THEN
               CASE WHEN rx = 1 THEN {_GRID - 1} - x ELSE x END
             ELSE y END AS y,
             d + {s * s} * (3 * rx + ry - 2 * rx * ry) AS d
      FROM r{i + 1}
    )""")
    return ",".join(ctes)


def _hilbert_body() -> str:
    """The head-to-head over the shared table `bucketed`: ONE
    conditional aggregate per layout (count + probe-box count/rows +
    total box area), the q9a device, so Spark runs 3 aggregate arms, not
    7. The 8 Hilbert rounds are per-row projections and run once."""
    span = _GRID * _GRID // _N_FILES
    stat = f"""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(COUNT(CASE WHEN {_probe_pred()} THEN 1 END) AS BIGINT)
               AS files_scanned,
             CAST(SUM(CASE WHEN {_probe_pred()} THEN n_rows END) AS BIGINT)
               AS rows_scanned,
             CAST(SUM((xmax - xmin + 1) * (ymax - ymin + 1)) AS BIGINT)
               AS total_box_area
      FROM"""
    return f"""
    WITH h0 AS (
      SELECT xb, yb, xb AS x, yb AS y, CAST(0 AS BIGINT) AS d FROM bucketed
    ),
    {_hilbert_rounds()},
    hfiles AS (
      SELECT CAST(FLOOR(d / {span}.0) AS INT) AS file_id,
             MIN(xb) AS xmin, MAX(xb) AS xmax,
             MIN(yb) AS ymin, MAX(yb) AS ymax,
             COUNT(*) AS n_rows
      FROM h8 GROUP BY 1
    ),
    zfiles AS (
      SELECT CAST(FLOOR({_interleave('xb', 'yb')} / {span}.0) AS INT)
               AS file_id,
             MIN(xb) AS xmin, MAX(xb) AS xmax,
             MIN(yb) AS ymin, MAX(yb) AS ymax,
             COUNT(*) AS n_rows
      FROM bucketed GROUP BY 1
    ),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS matching_rows FROM bucketed
      WHERE xb BETWEEN {_QX[0]} AND {_QX[1]}
        AND yb BETWEEN {_QY[0]} AND {_QY[1]}
    ),
    hstat AS ({stat} hfiles),
    zstat AS ({stat} zfiles)
    SELECT h.n_files AS n_files_hilbert,
           z.n_files AS n_files_z,
           h.files_scanned AS hilbert_files_scanned,
           h.rows_scanned AS hilbert_rows_scanned,
           z.files_scanned AS z_files_scanned,
           z.rows_scanned AS z_rows_scanned,
           h.total_box_area AS hilbert_box_area,
           z.total_box_area AS z_box_area,
           t.matching_rows
    FROM hstat h, zstat z, hits t
    """


@query(
    "q9o_hilbert_layout",
    oracle=oracle_with(_hilbert_body(), bucketed=_bucketed_sql("duckdb")),
)
def q9o_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _hilbert_body(), bucketed=_bucketed_sql("spark"))


# --------------------------------------------------------------------------
# q9b — MERGEABLE-SKETCH rollup: hourly HLL user sketches merged into
# daily distinct-user estimates WITHOUT rescanning the events (Spark's
# Datasketches hll_sketch_agg / hll_union_agg). The incremental-rollup
# pattern at 100 TB: the hourly sketches are the stored partial state
# (bytes per hour, not users per hour), daily/weekly/monthly figures are
# unions of those partials, and re-aggregation cost is O(hours), not
# O(events). Estimates are engine-specific, so the oracle checks the
# INVARIANT that makes the pattern sound, computed as values the driver
# hashes: both the merged (union-of-hourly) estimate and a direct
# single-pass sketch must sit inside the published HLL error envelope
# of the exact distinct count (computed engine-side, emitted as flags
# the oracle replays as literal truth).
# REGIME NOTE (found by an sf1 parity sweep): asserting merged == DIRECT
# exactly holds at sf0.1 only because every daily
# sketch stayed in sparse (coupon-list) mode, where estimates are exact
# counts. Past that regime (~1.3k+ distinct at lgK=12 — every sf1 day:
# 291/291 diverged), NO estimate-level equality survives: direct uses
# the insertion-history-dependent HIP accumulator that unions cannot
# merge, and a measured probe (tests/test_properties.py::
# test_sketch_union_no_exact_invariant_in_transition) shows the union
# estimate in the sparse->dense transition band differs even under
# input DUPLICATION (idempotence) and 6-hour REGROUPING — the union
# gadget keeps its own HIP history over the input multiset. The honest
# mergeability contract — what this query certifies — is the error
# envelope at every grain, which is exactly what a production rollup
# promises its consumers. (At the extremes the estimators coincide
# again: exact counts below ~100, saturated composite at 60k.)
# --------------------------------------------------------------------------
_HLL_LGK = 12  # Datasketches lgConfigK; relative error ~ 1.04 / sqrt(2^12)
_HLL_TOL = 0.05  # 3-sigma-ish envelope for the harness corpora


def _sketch_rollup_oracle() -> str:
    return f"""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS INT) AS merged_within_tol,
           CAST(1 AS INT) AS direct_within_tol
    FROM events
    GROUP BY 1
    """


@query("q9b_sketch_rollup", oracle=_sketch_rollup_oracle())
def q9b_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH hourly AS (
          SELECT CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hr,
                 hll_sketch_agg(user_id, {_HLL_LGK}) AS sk
          FROM events GROUP BY 1, 2
        ),
        merged AS (
          SELECT day,
                 hll_sketch_estimate(hll_union_agg(sk)) AS merged_est
          FROM hourly GROUP BY day
        ),
        direct AS (
          SELECT CAST(ts AS DATE) AS day,
                 hll_sketch_estimate(hll_sketch_agg(user_id, {_HLL_LGK}))
                   AS direct_est,
                 COUNT(DISTINCT user_id) AS exact_users
          FROM events GROUP BY 1
        )
        SELECT d.day,
               CAST(d.exact_users AS BIGINT) AS exact_users,
               CAST(ABS(m.merged_est - d.exact_users)
                    <= {_HLL_TOL} * d.exact_users AS INT) AS merged_within_tol,
               CAST(ABS(d.direct_est - d.exact_users)
                    <= {_HLL_TOL} * d.exact_users AS INT) AS direct_within_tol
        FROM direct d
        JOIN merged m ON m.day = d.day
        """
    )


# --------------------------------------------------------------------------
# q9c — SMALL-FILE COMPACTION planner (OPTIMIZE-style bin packing). The
# other side of the layout coin from q9a: a streaming/hourly ingest
# leaves one file per (day, hour) — 8,760 files/year/table of wildly
# uneven size — and metadata pressure + per-file open cost make small
# files the classic 100 TB operational wound. The planner treats the
# hourly partition manifest as the file list (f_rows per (day, hour),
# plus a byte proxy from the payload width), then assigns files to
# output groups by SEQUENTIAL bin packing: a running size sum per day
# (window, ROWS UNBOUNDED PRECEDING .. 1 PRECEDING), output group =
# floor(cum_before / _COMPACT_TARGET). That is the deterministic
# coalesce rule Spark's AQE partition coalescing and Delta OPTIMIZE's
# bin packer both approximate — contiguous-in-sort-order packing keeps
# each output file's hour range minimal, so time-range file skipping
# (the q9a stats) survives compaction.
#
# Scale: the manifest is one row per FILE (metadata, ~10^5 rows for a
# year of hourly partitions), derived by one partial-aggregated
# groupBy over events; the window runs per-day over that tiny
# manifest. The plan's execution at deployment is a partition-local
# rewrite (each output group reads only its own input files — no
# shuffle of table data at all). Every number here is integer
# arithmetic — hash-exact on both engines.
# --------------------------------------------------------------------------
_COMPACT_TARGET = 1000  # rows per compacted output file


def _compaction_body() -> str:
    return f"""
    WITH files AS (
      SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hr,
             COUNT(*) AS f_rows,
             CAST(SUM(LENGTH(props) + 64) AS BIGINT) AS f_bytes
      FROM events GROUP BY 1, 2
    ),
    packed AS (
      SELECT day, hr, f_rows, f_bytes,
             COALESCE(SUM(f_rows) OVER (PARTITION BY day ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM files
    )
    SELECT day,
           CAST(FLOOR(cum_before / {_COMPACT_TARGET}.0) AS INT) AS out_file,
           CAST(COUNT(*) AS BIGINT) AS n_input_files,
           CAST(SUM(f_rows) AS BIGINT) AS rows_out,
           CAST(SUM(f_bytes) AS BIGINT) AS bytes_out,
           MIN(hr) AS min_hour, MAX(hr) AS max_hour
    FROM packed
    GROUP BY 1, 2
    """


@query("q9c_compaction_plan", oracle=_compaction_body())
def q9c_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_compaction_body())


# --------------------------------------------------------------------------
# q9d — RANGE-PARTITION planner: the repartitionByRange machinery made
# explicit and value-checked. Balanced range partitioning is how a
# 100 TB writer gets same-sized sorted output files from a skewed
# continuous key (and how Spark's RangePartitioner / range-shuffle AQE
# plan their split points): (1) draw a small deterministic sample of
# the key, (2) take B-1 equi-rank order statistics of the sample as
# split points, (3) assign every row map-side by counting boundaries
# <= key (a binary search over a broadcast ~B-value array — here an
# array-lambda filter, O(B) per row, no join with table data), (4)
# audit the balance: per-bucket row counts, key ranges, and the skew
# ratio (bucket share x B; 1.0 = perfectly balanced).
#
# Scale: the sample is a narrow hash filter (the q3c cross-engine md5
# device, so BOTH engines keep the same rows — no RNG) whose threshold
# ADAPTS to corpus size: keep rows with hash32 < ceil(TARGET * 2^32 /
# count), so the sample is ~_RP_TARGET rows at ANY corpus size — the
# bounded-sample-count trade RangePartitioner itself makes (a fixed
# RATE would push 2 TB through the rank window at 100 TB; a fixed
# COUNT keeps it at ~4096 rows forever, at the cost of ~B/sqrt(TARGET)
# ≈ 6% expected balance error). The count is one metadata-cheap scalar
# (1-row cross join); the rank window runs over the bounded sample
# only; boundaries are a B-1-row aggregate collapsed to ONE broadcast
# array row; assignment + the final agg are one partial-aggregated
# map-side pass over the table. Nothing is proportional to table size
# except the scan itself. Ties on a boundary value go to the upper
# bucket on both engines (x <= val), so the plan is deterministic and
# the whole audit — counts, ranges, IEEE skew ratios — is hash-exact.
# --------------------------------------------------------------------------
_RP_BUCKETS = 16
_RP_TARGET = 4096  # expected sample rows, corpus-size-independent


def _range_partition_body(dialect: str) -> str:
    b = _RP_BUCKETS
    h = sql_hash32("'rp-' || CAST(o_orderkey AS STRING)", dialect)
    nle = D.size("filter(bs, x -> x <= val)", dialect)
    return f"""
    WITH stats AS (SELECT COUNT(*) AS cnt FROM orders),
    sample AS (
      SELECT o_totalprice AS val, o_orderkey AS k FROM orders, stats
      WHERE {h} < CAST(CEIL({_RP_TARGET}.0 * 4294967296 / cnt) AS BIGINT)
    ),
    ranked AS (
      SELECT val, ROW_NUMBER() OVER (ORDER BY val, k) AS rn,
             COUNT(*) OVER () AS n
      FROM sample
    ),
    bounds AS (
      SELECT r.val FROM ranked r
      JOIN (SELECT {D.explode_series(1, b - 1, dialect)} AS i) ix
        ON r.rn = CAST(CEIL(ix.i * r.n / {b}.0) AS BIGINT)
    ),
    barr AS (SELECT array_sort(array_agg(val)) AS bs FROM bounds),
    assigned AS (
      SELECT CAST({nle} AS INT) AS bucket, val
      FROM (SELECT o_totalprice AS val FROM orders) o, barr
    )
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(val) AS key_min, MAX(val) AS key_max,
           CAST(COUNT(*) AS DOUBLE) * {b} / SUM(COUNT(*)) OVER () AS skew_ratio
    FROM assigned GROUP BY bucket
    """


@query("q9d_range_partition_plan", oracle=_range_partition_body("duckdb"))
def q9d_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_range_partition_body("spark"))


# --------------------------------------------------------------------------
# q9e — EXACTLY-MERGEABLE quantile-sketch rollup: hourly KMV (k-minimum-
# values / bottom-k) partials merged into daily quantile estimates
# WITHOUT rescanning the events. The deliberate contrast with q9b: HLL's
# HIP estimator broke every estimate-level equality past the sparse band
# (q9b had to retreat to an error-envelope contract), while bottom-k is
# a TRULY mergeable summary — bottomk(A ∪ B) == bottomk(bottomk(A) ∪
# bottomk(B)) as a set identity, so merged-of-hourly equals the direct
# daily sketch ELEMENT FOR ELEMENT, and this query certifies that via
# md5 fingerprints of both sketches (plus the resulting estimates as raw
# hashed values, not flags). The sketch is a uniform k-sample of the day
# (rank by the q3c deterministic md5 hash of the unique event_id — no
# RNG, both engines keep identical elements), so the value at rank
# ceil(q*k) of the sketch estimates the q-quantile with ~1/sqrt(k)
# error; the exact discrete quantile (rank ceil(q*n) under the same
# (value, event_id) tie order) rides along for comparison.
#
# Scale: the production arm is hourly → merged — the stored partial is
# ≤ _KMV_K rows/hour (~1.5 KB), the daily merge ranks 24·k rows/day,
# and re-aggregation to any coarser grain is O(hours), never O(events);
# the hourly pass itself is one window per (day, hour) partition, i.e.
# partition-local work under hour-partitioned storage. The direct
# sketch and the exact quantiles are the CERTIFICATION arms only (they
# rescan events; a production rollup would not run them), which is why
# the narrow (day, hr, hash, id, value) projection is the shared table
# `base`, read by all of them. Quantile ranks use integer-exact
# ceil arithmetic (FLOOR((kk+1)/2.0), FLOOR((9kk+9)/10.0)) so neither
# engine's decimal-vs-double literal typing can shift a rank boundary.
# --------------------------------------------------------------------------
_KMV_K = 32  # bottom-k sketch size; quantile error ~ 1/sqrt(k)


def _kmv_base_sql(dialect: str) -> str:
    h = sql_hash32("'kmv-' || CAST(event_id AS STRING)", dialect)
    return f"""
      SELECT CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hr,
             value AS v, event_id AS ek, {h} AS hv
      FROM events
    """


def _kmv_rollup_body(dialect: str) -> str:
    k = _KMV_K
    elem = "CAST(hv AS STRING) || ':' || CAST(ek AS STRING)"
    fp = "md5(" + D.join_strings(f"array_sort(array_agg({elem}))", ",", dialect) + ")"
    p50 = "CAST(FLOOR((kk + 1) / 2.0) AS BIGINT)"
    p90 = "CAST(FLOOR((9 * kk + 9) / 10.0) AS BIGINT)"
    return f"""
    WITH hourly AS (
      SELECT day, hv, ek, v,
             ROW_NUMBER() OVER (PARTITION BY day, hr ORDER BY hv, ek) AS rn
      FROM base
    ),
    hsk AS (SELECT day, hv, ek, v FROM hourly WHERE rn <= {k}),
    mrank AS (
      SELECT day, hv, ek, v,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv, ek) AS rn
      FROM hsk
    ),
    msk AS (SELECT day, hv, ek, v FROM mrank WHERE rn <= {k}),
    drank AS (
      SELECT day, hv, ek,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv, ek) AS rn
      FROM base
    ),
    dsk AS (SELECT day, hv, ek FROM drank WHERE rn <= {k}),
    mfp AS (SELECT day, {fp} AS fp FROM msk GROUP BY day),
    dfp AS (SELECT day, {fp} AS fp FROM dsk GROUP BY day),
    mq AS (
      SELECT day, v,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY v, ek) AS vr,
             COUNT(*) OVER (PARTITION BY day) AS kk
      FROM msk
    ),
    est AS (
      SELECT day, CAST(MAX(kk) AS INT) AS sketch_k,
             MAX(CASE WHEN vr = {p50} THEN v END) AS p50_est,
             MAX(CASE WHEN vr = {p90} THEN v END) AS p90_est
      FROM mq GROUP BY day
    ),
    xq AS (
      SELECT day, v,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY v, ek) AS vr,
             COUNT(*) OVER (PARTITION BY day) AS kk
      FROM base
    ),
    exact AS (
      SELECT day, CAST(MAX(kk) AS BIGINT) AS n_events,
             MAX(CASE WHEN vr = {p50} THEN v END) AS p50_exact,
             MAX(CASE WHEN vr = {p90} THEN v END) AS p90_exact
      FROM xq GROUP BY day
    )
    SELECT m.day, x.n_events, e.sketch_k,
           CAST(CASE WHEN m.fp = d.fp THEN 1 ELSE 0 END AS INT)
             AS merged_eq_direct,
           e.p50_est, x.p50_exact, e.p90_est, x.p90_exact
    FROM mfp m
    JOIN dfp d ON m.day = d.day
    JOIN est e ON m.day = e.day
    JOIN exact x ON m.day = x.day
    """


@query(
    "q9e_kmv_quantile_rollup",
    oracle=oracle_with(_kmv_rollup_body("duckdb"), base=_kmv_base_sql("duckdb")),
)
def q9e_kmv_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(
        spark, sf_dir, _kmv_rollup_body("spark"), base=_kmv_base_sql("spark")
    )


# --------------------------------------------------------------------------
# q9f — PER-FILE BLOOM-FILTER skipping index: the point-lookup companion
# to q9a's min/max zone maps. Range stats prune nothing for a point
# predicate on a column UNCORRELATED with the file layout (here
# o_custkey under an o_orderkey-range file layout — every file's
# custkey min/max spans the whole domain); a per-file Bloom filter is
# exactly what Parquet bloom_filter_enabled / Delta bloomFilterIndex
# write for that case. Files are static o_orderkey ranges (row position
# stands in for insertion order, as in q9a); each file folds its
# DISTINCT custkeys into an m = 64513-bit array (1025 63-bit words, the
# q6e device: two md5 hash windows, k = 3 double-hashed probes with the
# stride guard); 8 deterministic probe keys (bottom-8 distinct custkeys
# by salted md5 — corpus-adaptive, no RNG) are then answered from the
# INDEX ALONE: files_hit = files whose filter sets all 3 bits,
# files_true = files that really contain the key, false_pos = the gap.
# No-false-negative (files_hit >= files_true, every true file hit) is
# structural; the output exposes rows_scanned vs rows_matched so the
# skip value is the measured quantity, not a claim.
#
# Scale (100 TB): the index build is ONE partial-aggregated pass —
# groupBy(file, word) bit_or over per-row probe bits, output 1025
# rows/file of metadata regardless of file size; probing touches the
# index only (probes x files x k lookups — never table data), so a
# point lookup plans its scan set from ~8 KB/file of footer metadata
# exactly as a parquet reader does. The probe pick is a top-k by hash
# over distinct keys (TakeOrdered — partial-aggregable, no full sort).
# The harness m is deliberately small enough that false positives
# genuinely fire at test scales (fill ~10% at sf0.1 -> FP ~0.1%/file;
# production sizes m at ~10 bits/key like parquet's ndv sizing). Every
# bit, hit flag and count is integer arithmetic on the shared md5
# device — hash-exact against the oracle.
# --------------------------------------------------------------------------
_BSK_FILES = 64
_BSK_PROBES = 8


def _bloom_skip_body(dialect: str) -> str:
    h1, h2 = sql_bloom_hashes("m", dialect)
    ks = ", ".join(f"({k})" for k in range(BLOOM_K))
    return f"""
    WITH maxk AS (SELECT MAX(o_orderkey) AS mk FROM orders),
    placed AS (
      SELECT CAST(FLOOR(o_orderkey * {_BSK_FILES}.0 / (mk + 1)) AS INT)
               AS file_id,
             o_custkey
      FROM orders, maxk
    ),
    fkeys AS (
      SELECT DISTINCT file_id,
             o_custkey,
             md5('bsk-' || CAST(o_custkey AS STRING)) AS m
      FROM placed
    ),
    fhash AS (SELECT file_id, {h1} AS h1, {h2} AS h2 FROM fkeys),
    fwords AS (
      SELECT file_id,
             CAST(FLOOR(((h1 + k.k * h2) % {BLOOM_M}) / {BLOOM_WORD}.0) AS INT)
               AS word_idx,
             BIT_OR({sql_shl1(f"((h1 + k.k * h2) % {BLOOM_M}) % {BLOOM_WORD}")})
               AS bits
      FROM fhash, (VALUES {ks}) AS k(k)
      GROUP BY 1, 2
    ),
    frows AS (SELECT file_id, COUNT(*) AS f_rows FROM placed GROUP BY 1),
    probes AS (
      SELECT o_custkey AS ck
      FROM (SELECT DISTINCT o_custkey FROM orders) d
      ORDER BY md5('bskp-' || CAST(o_custkey AS STRING)), o_custkey
      LIMIT {_BSK_PROBES}
    ),
    ppos AS (
      SELECT ck, ((h1 + k.k * h2) % {BLOOM_M}) AS pos
      FROM (
        SELECT ck, {h1} AS h1, {h2} AS h2
        FROM (SELECT ck, md5('bsk-' || CAST(ck AS STRING)) AS m FROM probes) p
      ) ph, (VALUES {ks}) AS k(k)
    ),
    checks AS (
      SELECT p.ck, f.file_id,
             MIN(CASE WHEN (COALESCE(w.bits, 0)
                            & {sql_shl1(f"p.pos % {BLOOM_WORD}")}) <> 0
                      THEN 1 ELSE 0 END) AS hit
      FROM ppos p
      CROSS JOIN frows f
      LEFT JOIN fwords w
        ON w.file_id = f.file_id
       AND w.word_idx = CAST(FLOOR(p.pos / {BLOOM_WORD}.0) AS INT)
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT pr.ck, pl.file_id, COUNT(*) AS t_rows
      FROM placed pl JOIN probes pr ON pl.o_custkey = pr.ck
      GROUP BY 1, 2
    )
    SELECT c.ck AS probe_custkey,
           -- POPULATED file count, not the nominal {_BSK_FILES}-file
           -- layout width: at tiny scale factors sparse orderkey ranges
           -- leave files empty and they drop out of frows/checks, so a
           -- hardcoded width would overstate the universe files_hit /
           -- rows_scanned are measured against
           CAST((SELECT COUNT(*) FROM frows) AS INT) AS n_files,
           CAST(SUM(c.hit) AS INT) AS files_hit,
           CAST(COUNT(t.file_id) AS INT) AS files_true,
           CAST(SUM(c.hit) - COUNT(t.file_id) AS INT) AS false_pos,
           CAST(SUM(CASE WHEN c.hit = 1 THEN f.f_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(COALESCE(SUM(t.t_rows), 0) AS BIGINT) AS rows_matched,
           CAST(SUM(CASE WHEN t.file_id IS NOT NULL AND c.hit = 0
                         THEN 1 ELSE 0 END) AS INT) AS false_neg
    FROM checks c
    JOIN frows f ON f.file_id = c.file_id
    LEFT JOIN truth t ON t.ck = c.ck AND t.file_id = c.file_id
    GROUP BY c.ck
    """


@query("q9f_bloom_skipping", oracle=_bloom_skip_body("duckdb"))
def q9f_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_bloom_skip_body("spark"))


# --------------------------------------------------------------------------
# q9g — DELETION-VECTOR merge-on-read: the Delta deletion-vectors /
# Iceberg positional-delete protocol, the third leg of the lake-
# maintenance tripod next to q9c's compaction and q9a/q9f's skipping.
# A DELETE against an immutable file layout does NOT rewrite data files;
# it appends a tiny metadata table of (file_id, row position) pairs —
# the deletion vector — and every subsequent read reconstructs the live
# table by masking those positions. Two successive DELETE commits are
# modeled (a predicate delete and a key-pattern delete); their vectors
# union (position-distinct, exactly how DV bitmaps OR together), and the
# output is the per-file merge-on-read accounting a VACUUM/OPTIMIZE
# planner consumes: physical rows, DV cardinality, live rows, and an
# integer checksum over the surviving rows proving the mask hit exactly
# the right positions.
#
# Scale (100 TB): positions are assigned by ROW_NUMBER within each
# file's key order — the harness recomputes what a production reader
# gets for free from row ordinals, costing ONE shuffle by file_id whose
# partition count equals the file count. Each DELETE is a predicate
# scan emitting only matched (file_id, pos) pairs — O(deleted), not
# O(table) — and the DV table is metadata-sized (selective deletes), so
# the merge-on-read mask is a broadcast anti-join against the base scan:
# the data files never shuffle and never rewrite. All arithmetic is
# integer (positions, counts, key sums), so the oracle match is exact
# with no float device. Reference analog: none (extension family,
# BASELINE.json).
# --------------------------------------------------------------------------
_DV_FILES = 64


# (file_id, pos, o_orderkey, o_custkey, o_orderstatus) — the base layout
# with per-file row positions.
_DV_POSPL_SQL = f"""
      SELECT file_id,
             ROW_NUMBER() OVER (PARTITION BY file_id ORDER BY o_orderkey) - 1
               AS pos,
             o_orderkey, o_custkey, o_orderstatus
      FROM (
        SELECT CAST(FLOOR(o_orderkey * {_DV_FILES}.0 / (mk + 1)) AS INT)
                 AS file_id,
               o_orderkey, o_custkey, o_orderstatus
        FROM orders, (SELECT MAX(o_orderkey) AS mk FROM orders) m
      )
    """


# The two DELETE commits' positions over the shared table `pospl`,
# which q9g's flagged join and q9k's manifest read again.
_DV_CTES = """dv1 AS (
      SELECT file_id, pos FROM pospl
      WHERE o_orderstatus = 'F' AND o_custkey % 7 = 0
    ),
    dv2 AS (
      SELECT file_id, pos FROM pospl WHERE o_orderkey % 13 = 3
    ),
    dv AS (
      SELECT DISTINCT file_id, pos
      FROM (SELECT * FROM dv1 UNION ALL SELECT * FROM dv2) u
    )"""

_DV_BODY = f"""
    WITH {_DV_CTES},
    flagged AS (
      SELECT p.file_id, p.o_orderkey,
             CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END AS del
      FROM pospl p
      LEFT JOIN dv d ON d.file_id = p.file_id AND d.pos = p.pos
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS file_rows,
           CAST(SUM(del) AS BIGINT) AS dv_count,
           CAST(COUNT(*) - SUM(del) AS BIGINT) AS live_rows,
           CAST(SUM(CASE WHEN del = 0 THEN o_orderkey ELSE 0 END) AS BIGINT)
             AS live_key_sum
    FROM flagged
    GROUP BY file_id
    """


@query("q9g_deletion_vectors", oracle=oracle_with(_DV_BODY, pospl=_DV_POSPL_SQL))
def q9g_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _DV_BODY, pospl=_DV_POSPL_SQL)


# --------------------------------------------------------------------------
# q9h — INCREMENTAL VIEW MAINTENANCE: keep a materialized aggregate
# (per-priority order counts + cents totals) current by applying q1y's
# CDC change set instead of recomputing from scratch — the batch twin
# of q4x's streaming MERGE and the op that makes 100 TB rollups
# affordable: the maintenance cost is O(changes), the recompute cost is
# O(table). The same deterministic old/new snapshot derivation as q1y
# (inserts = keys ≡ 0 mod 10, deletes = keys ≡ 1 mod 10, repriced
# updates = keys ≡ 2 mod 7); the view is maintained as
#   maintained = base + Σ(insert: +new) − Σ(delete: old)
#                     + Σ(update: new − old)
# and then VERIFIED against the direct recompute over the new snapshot
# — both paths and their match flags are the output, so the oracle
# value-checks the maintenance algebra itself, not just one side.
#
# Money is carried as integer cents via FLOOR(price*100) (the floor of
# the same IEEE double rounds identically in both engines; a bare CAST
# would truncate in Spark but round half-even in DuckDB — the known
# hazard class), so every delta and every total is integer-exact.
# Production reads `base` from the stored view; the harness recomputes
# it from the old snapshot to stay self-contained.
# --------------------------------------------------------------------------
_IVM_CENTS = "CAST(FLOOR(o_totalprice * 100) AS BIGINT)"


def _ivm_body(dialect: str) -> str:
    # old/new snapshots are each referenced twice (base/diff, diff/direct):
    # MATERIALIZED in DuckDB so each snapshot scan runs once
    mat = D.materialized(dialect)
    return f"""
    WITH old AS {mat}(
      SELECT o_orderkey, o_orderpriority, {_IVM_CENTS} AS cents
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    new AS {mat}(
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 7 = 2
                  THEN CAST(FLOOR(o_totalprice * 1.1 * 100) AS BIGINT)
                  ELSE {_IVM_CENTS} END AS cents
      FROM orders WHERE o_orderkey % 10 <> 1
    ),
    base AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM old GROUP BY o_orderpriority
    ),
    diff AS (
      SELECT COALESCE(o.o_orderpriority, n.o_orderpriority) AS prio,
             CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END AS is_ins,
             CASE WHEN n.o_orderkey IS NULL THEN 1 ELSE 0 END AS is_del,
             COALESCE(o.cents, 0) AS old_cents,
             COALESCE(n.cents, 0) AS new_cents
      FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
         OR o.cents <> n.cents
    ),
    delta AS (
      SELECT prio,
             CAST(SUM(is_ins) - SUM(is_del) AS BIGINT) AS dcnt,
             CAST(SUM(new_cents - old_cents) AS BIGINT) AS dcents
      FROM diff GROUP BY prio
    ),
    maint AS (
      -- FULL OUTER, not base LEFT JOIN delta: a group that exists only
      -- in the new snapshot (insert-only group, no base row) has a delta
      -- row but no base row, and a LEFT JOIN would silently drop it from
      -- the maintained view. Not reachable with TPC-H's 5
      -- always-present priorities, but the algebra must be complete.
      SELECT COALESCE(b.o_orderpriority, d.prio) AS o_orderpriority,
             CAST(COALESCE(b.cnt, 0) AS BIGINT) AS base_cnt,
             CAST(COALESCE(b.cnt, 0) + COALESCE(d.dcnt, 0) AS BIGINT)
               AS maint_cnt,
             CAST(COALESCE(b.cents, 0) + COALESCE(d.dcents, 0) AS BIGINT)
               AS maint_cents
      FROM base b FULL OUTER JOIN delta d ON d.prio = b.o_orderpriority
    ),
    direct AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS direct_cnt,
             CAST(SUM(cents) AS BIGINT) AS direct_cents
      FROM new GROUP BY o_orderpriority
    )
    -- FULL OUTER on the verification join too, so a group present in
    -- only one path surfaces as a row (and fails its match flag) instead
    -- of vanishing from the output. A delete-emptied group (maint_cnt 0,
    -- no direct row) correctly matches a missing direct group at 0.
    SELECT COALESCE(m.o_orderpriority, d.o_orderpriority)
             AS o_orderpriority,
           CAST(COALESCE(m.base_cnt, 0) AS BIGINT) AS base_cnt,
           CAST(COALESCE(m.maint_cnt, 0) AS BIGINT) AS maint_cnt,
           CAST(COALESCE(d.direct_cnt, 0) AS BIGINT) AS direct_cnt,
           CAST(COALESCE(m.maint_cents, 0) AS BIGINT) AS maint_cents,
           CAST(COALESCE(d.direct_cents, 0) AS BIGINT) AS direct_cents,
           CAST(CASE WHEN COALESCE(m.maint_cnt, 0)
                          = COALESCE(d.direct_cnt, 0)
                     THEN 1 ELSE 0 END AS INT) AS cnt_match,
           CAST(CASE WHEN COALESCE(m.maint_cents, 0)
                          = COALESCE(d.direct_cents, 0)
                     THEN 1 ELSE 0 END AS INT) AS cents_match
    FROM maint m
    FULL OUTER JOIN direct d ON d.o_orderpriority = m.o_orderpriority
    """


@query("q9h_incremental_view_maintenance", oracle=_ivm_body("duckdb"))
def q9h_incremental_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_ivm_body("spark"))


# --------------------------------------------------------------------------
# q9i — SCD TYPE-2 dimension history (slowly-changing-dimension merge):
# apply a CDC change set to a versioned dimension, emitting one row per
# (key, version) with commit-stamped validity intervals — the MERGE
# pattern every lakehouse dimension table runs (Kimball type 2; Delta/
# Iceberg MERGE INTO ... WHEN MATCHED/NOT MATCHED). Same deterministic
# old/new snapshot derivation as q1y/q9h (inserts = keys ≡ 0 mod 10,
# deletes ≡ 1 mod 10, repriced updates ≡ 2 mod 7); commits are integer
# epochs (1 = initial load, 2 = the CDC apply) so every validity bound
# is exact. Row semantics:
#   unchanged: one row, v1, [1, NULL), current
#   updated:   v1 closed at 2 (old cents), v2 open at 2 (new cents)
#   deleted:   v1 closed at 2, no current row
#   inserted:  v1 open at 2, current
#
# Scale (100 TB): the harness derives both snapshots from one `orders`
# scan; production applies a CDC DELTA (O(changes)) against the stored
# current-version slice — the expensive piece is the single FULL OUTER
# hash join on the key, which co-partitions with the dimension's
# natural bucketing, and the emit is a union of two projections of that
# join (no second shuffle: both branches carry the join's partitioning).
# All arithmetic integer (cents via the shared FLOOR device), so the
# oracle match is exact. Reference analog: none (extension family,
# BASELINE.json).
# --------------------------------------------------------------------------


def _scd2_body(dialect: str) -> str:
    mat = D.materialized(dialect)
    return f"""
    WITH old AS {mat}(
      SELECT o_orderkey, {_IVM_CENTS} AS cents
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    new AS {mat}(
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 2
                  THEN CAST(FLOOR(o_totalprice * 1.1 * 100) AS BIGINT)
                  ELSE {_IVM_CENTS} END AS cents
      FROM orders WHERE o_orderkey % 10 <> 1
    ),
    d AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.cents AS oc, n.cents AS nc,
             CAST(o.o_orderkey IS NOT NULL AS INT) AS has_o,
             CAST(n.o_orderkey IS NOT NULL AS INT) AS has_n
      FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
    )
    SELECT o_orderkey, CAST(1 AS INT) AS version, oc AS cents,
           CAST(1 AS INT) AS valid_from,
           CAST(CASE WHEN has_n = 0 OR oc <> nc THEN 2 ELSE NULL END
                AS INT) AS valid_to,
           CAST(CASE WHEN has_n = 1 AND oc = nc THEN 1 ELSE 0 END
                AS INT) AS is_current
    FROM d WHERE has_o = 1
    UNION ALL
    SELECT o_orderkey, CAST(2 AS INT) AS version, nc AS cents,
           CAST(2 AS INT) AS valid_from,
           CAST(NULL AS INT) AS valid_to,
           CAST(1 AS INT) AS is_current
    FROM d WHERE has_n = 1 AND (has_o = 0 OR oc <> nc)
    """


@query("q9i_scd2_history", oracle=_scd2_body("duckdb"))
def q9i_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_scd2_body("spark"))


# --------------------------------------------------------------------------
# q9j — CLUSTERING-DEPTH audit: how well is the table physically
# clustered on a column? Model the written layout as 64 equal row-range
# files in (l_orderkey, l_linenumber) write order — the realistic
# "appended roughly by ingest key" layout — take each file's min/max
# l_shipdate (exactly what parquet footers / Delta file stats expose),
# and count, per file, how many OTHER files' date ranges overlap it.
# Overlap depth is THE re-clustering signal (Delta/Iceberg OPTIMIZE
# metrics): depth ~ 0 means a date-range query prunes to ~1 file, depth
# ~ n_files means min/max stats prune nothing and a Z-ORDER/sort
# rewrite (q9a's machinery) pays for itself. The audit closes the
# layout-family loop: q9a measures a layout's skip rate, q9c plans
# compaction, q9d plans partitioning — q9j tells you WHEN to invoke
# them.
#
# Scale (100 TB): file stats are ONE partial-aggregated pass shuffling
# n_files metadata rows (a real deployment reads them from the
# transaction log — zero scan); the overlap join is n_files² on that
# metadata (64² here; bounded by manifest size, never rows). The
# write-order numbering is pipeline.offset_scan (q32/q5d's numbering —
# every window partitioned by a monotone orderkey bucket, NO
# Exchange SinglePartition); the oracle replays it as a plain global
# ROW_NUMBER, which is the same function on a single-node engine.
# --------------------------------------------------------------------------
_CLUSTER_FILES = 64


def _clustering_depth_oracle() -> str:
    return f"""
    WITH numbered AS (
      SELECT l_shipdate,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER () AS n_total
      FROM lineitem
    ),
    files AS (
      SELECT CAST((rn - 1) // (((n_total - 1) // {_CLUSTER_FILES}) + 1)
                  AS INT) AS file_id,
             MIN(l_shipdate) AS d_min,
             MAX(l_shipdate) AS d_max,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM numbered
      GROUP BY 1
    )
    SELECT a.file_id, a.d_min, a.d_max, a.n_rows,
           CAST(SUM(CASE WHEN b.file_id <> a.file_id
                          AND b.d_min <= a.d_max AND a.d_min <= b.d_max
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps
    FROM files a JOIN files b ON 1 = 1
    GROUP BY a.file_id, a.d_min, a.d_max, a.n_rows
    """


@query("q9j_clustering_depth", oracle=_clustering_depth_oracle())
def q9j_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.operators.pipeline import offset_scan

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    numbered, total = offset_scan(
        li,
        (F.col("l_orderkey") / 4096).cast("bigint"),
        [F.asc("l_orderkey"), F.asc("l_linenumber")],
    )
    width = ((total - 1) // _CLUSTER_FILES) + 1
    files = (
        numbered.select(
            # Integer DIV, not double-divide-then-truncate: exact by
            # construction at any row count (rn>=1, width>=1, so trunc
            # == floor), with no dependence on double ulp near bucket
            # boundaries.
            F.expr(f"CAST((rn - 1) DIV {width} AS INT)").alias("file_id"),
            "l_shipdate",
        )
        .groupBy("file_id")
        .agg(
            F.min("l_shipdate").alias("d_min"),
            F.max("l_shipdate").alias("d_max"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    a, b = files.alias("a"), files.alias("b")
    overlap = F.when(
        (F.col("b.file_id") != F.col("a.file_id"))
        & (F.col("b.d_min") <= F.col("a.d_max"))
        & (F.col("a.d_min") <= F.col("b.d_max")),
        1,
    ).otherwise(0)
    return (
        a.join(F.broadcast(b), F.lit(True))
        .groupBy("a.file_id", "a.d_min", "a.d_max", "a.n_rows")
        .agg(F.sum(overlap).alias("n_overlaps"))
        .select(
            F.col("a.file_id").alias("file_id"),
            F.col("a.d_min").alias("d_min"),
            F.col("a.d_max").alias("d_max"),
            F.col("a.n_rows").alias("n_rows"),
            "n_overlaps",
        )
    )


# --------------------------------------------------------------------------
# q9k — VACUUM / retention planner: the fourth leg of the lake-
# maintenance tripod-turned-quad (q9c plans compaction, q9a/q9f plan
# skipping, q9g accounts merge-on-read deletes — q9k decides which
# PHYSICAL files can finally be removed). Model: the q9g layout's two
# DELETE commits leave every file with a dead fraction; files past the
# rewrite threshold (dead rows > 30%, the Delta/Iceberg OPTIMIZE
# heuristic, compared as the exact integer cross-product
# 10*dv_count > 3*rows so no float literal crosses engines) are
# rewritten by a compaction commit and become TOMBSTONED — still on
# disk for time travel, reclaimable only once their last-required
# snapshot ages out (modeled by the file's write commit, file_id % 8,
# falling behind the retention horizon at commit 5). The output is the
# per-file vacuum ledger: physical/dead/live rows, dead fraction,
# rewritten and eligible flags, and the reclaimable-row total a VACUUM
# dry-run prints.
#
# Scale (100 TB): everything after the q9g DV accounting (O(deleted)
# predicate scans + one file-count shuffle on the materialized position
# table) is arithmetic on the 64-row file manifest — the decision
# layer costs metadata, exactly like a real transaction-log VACUUM
# plan. Integer-exact end to end; the one double (dead_frac) is a
# single IEEE division for the human-readable ledger.
# --------------------------------------------------------------------------
_VACUUM_RETENTION_COMMIT = 5


_VACUUM_BODY = f"""
    WITH {_DV_CTES},
    manifest AS (
      SELECT p.file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(d.pos) AS BIGINT) AS dv_count
      FROM pospl p
      LEFT JOIN dv d ON d.file_id = p.file_id AND d.pos = p.pos
      GROUP BY p.file_id
    ),
    ledger AS (
      SELECT file_id, n_rows, dv_count,
             n_rows - dv_count AS live_rows,
             CAST(dv_count AS DOUBLE) / n_rows AS dead_frac,
             CASE WHEN 10 * dv_count > 3 * n_rows THEN 1 ELSE 0 END
               AS rewritten
      FROM manifest
    )
    SELECT file_id, n_rows, dv_count, live_rows, dead_frac,
           CAST(rewritten AS INT) AS rewritten,
           CAST(CASE WHEN rewritten = 1
                      AND file_id % 8 < {_VACUUM_RETENTION_COMMIT}
                     THEN 1 ELSE 0 END AS INT) AS vacuum_eligible,
           CAST(SUM(CASE WHEN rewritten = 1
                          AND file_id % 8 < {_VACUUM_RETENTION_COMMIT}
                         THEN n_rows ELSE 0 END) OVER ()
                AS BIGINT) AS reclaimable_rows_total
    FROM ledger
    """


@query("q9k_vacuum_plan", oracle=oracle_with(_VACUUM_BODY, pospl=_DV_POSPL_SQL))
def q9k_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _VACUUM_BODY, pospl=_DV_POSPL_SQL)


# --------------------------------------------------------------------------
# q9l — PARTITION-EVOLUTION PLANNER: the table migrates from
# its current physical layout (4096-row orderkey files, the shared
# device) to a new partition spec (order month). For each current file,
# count how many target partitions its rows straddle: 1 → the file can
# MOVE under the new spec as-is (metadata-only, Iceberg-style partition
# evolution), >1 → it must be REWRITTEN (split). The decision table a
# lakehouse computes before ALTER TABLE ... PARTITIONED BY.
#
# All integer/count arithmetic (file ids via the exact %-then-divide
# device, month via EXTRACT — identical in both engines); shared SQL
# runs verbatim on both. Scale (100 TB): one scan, partial-aggregated
# groupBy(file_id) with an exact COUNT(DISTINCT) per group — output is
# manifest-sized (one row per file), never data-sized.
# --------------------------------------------------------------------------
_Q9L_SQL = """
    WITH placed AS (
      SELECT CAST((o_orderkey - (o_orderkey % 4096)) / 4096 AS BIGINT)
               AS file_id,
             EXTRACT(YEAR FROM o_orderdate) * 100
               + EXTRACT(MONTH FROM o_orderdate) AS target_part
      FROM orders
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT target_part) AS BIGINT) AS n_targets,
           CASE WHEN COUNT(DISTINCT target_part) = 1
                THEN 'move' ELSE 'rewrite' END AS action
    FROM placed
    GROUP BY file_id
"""


@query("q9l_partition_evolution", oracle=_Q9L_SQL)
def q9l_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_Q9L_SQL)


# --------------------------------------------------------------------------
# q9m — SNAPSHOT MANIFEST DIFF: the file-level time-travel
# report between two table versions — which 4096-key files were added,
# removed, rewritten, or untouched by the CDC apply, with exact row and
# integer-cents deltas per file. The q1y/q9i device derives both
# snapshots deterministically (inserts ≡ 0 mod 10, deletes ≡ 1 mod 10,
# reprices ≡ 2 mod 7); file ids use the exact %-then-divide bucketing.
# This is the manifest a lakehouse compares for incremental replication
# and audit ("what did commit N change, physically?").
#
# Scale (100 TB): two partial-aggregated scans (or one scan of the CDC
# delta in production) into manifest-sized per-file rows, FULL OUTER
# join on file_id — metadata cardinality end to end.
# --------------------------------------------------------------------------
_Q9M_SQL = f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {_IVM_CENTS} AS cents
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 2
                  THEN CAST(FLOOR(o_totalprice * 1.1 * 100) AS BIGINT)
                  ELSE {_IVM_CENTS} END AS cents
      FROM orders WHERE o_orderkey % 10 <> 1
    ),
    m1 AS (
      SELECT CAST((k - k % 4096) / 4096 AS BIGINT) AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM v1 GROUP BY 1
    ),
    m2 AS (
      SELECT CAST((k - k % 4096) / 4096 AS BIGINT) AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM v2 GROUP BY 1
    )
    SELECT COALESCE(m1.file_id, m2.file_id) AS file_id,
           CASE WHEN m1.file_id IS NULL THEN 'added'
                WHEN m2.file_id IS NULL THEN 'removed'
                WHEN m1.n_rows = m2.n_rows AND m1.cents = m2.cents
                THEN 'unchanged' ELSE 'rewritten' END AS status,
           COALESCE(m1.n_rows, 0) AS rows_v1,
           COALESCE(m2.n_rows, 0) AS rows_v2,
           COALESCE(m1.cents, 0) AS cents_v1,
           COALESCE(m2.cents, 0) AS cents_v2
    FROM m1 FULL OUTER JOIN m2 ON m2.file_id = m1.file_id
"""


@query("q9m_manifest_diff", oracle=_Q9M_SQL)
def q9m_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_Q9M_SQL)


# --------------------------------------------------------------------------
# q9n — OPTIMISTIC-CONCURRENCY conflict detection: the
# lakehouse commit protocol made explicit — two transactions prepared
# against the same snapshot of the hourly file manifest (the q9c
# derivation), validated Delta/Iceberg-style before the second commit:
#   txn A  compaction — rewrites (reads + removes) every file in days
#          divisible by 3 (OPTIMIZE over a partition subset);
#   txn B  retention delete — rewrites files holding hours 0-5 of even
#          days (a GDPR/TTL sweep).
# A file both transactions remove is a CONFLICT (the
# ConcurrentDeleteDelete class): whichever commits second must fail
# validation and rebase. The per-day report counts each txn's file
# footprint, the conflicting file set, the rows a rebase must re-read,
# and the verdict — exactly the validation pass a commit coordinator
# runs over manifest metadata.
#
# Scale (100 TB): everything after the one partial-aggregated manifest
# groupBy is metadata-cardinality (one row per file, then one per day);
# the conflict check never touches table data — the whole point of
# manifest-level OCC. All integer arithmetic; hash-exact cross-engine.
# --------------------------------------------------------------------------
def _occ_body() -> str:
    return f"""
    WITH files AS (
      SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS f_rows
      FROM events GROUP BY 1, 2
    ),
    flagged AS (
      SELECT day, hr, f_rows,
             CAST((day(day) % 3 = 0) AS INT) AS in_a,
             CAST((day(day) % 2 = 0 AND hr <= 5) AS INT) AS in_b
      FROM files
    )
    SELECT day,
           CAST(SUM(in_a) AS BIGINT) AS files_txn_a,
           CAST(SUM(in_b) AS BIGINT) AS files_txn_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS files_conflict,
           CAST(SUM(in_a * in_b * f_rows) AS BIGINT) AS rows_to_rebase,
           CASE WHEN SUM(in_a * in_b) > 0 THEN 'conflict'
                ELSE 'commit-both' END AS verdict
    FROM flagged GROUP BY day
    """


@query("q9n_occ_conflicts", oracle=_occ_body())
def q9n_occ_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_occ_body())


# --------------------------------------------------------------------------
# q9p — LWW UPSERT COMPACTION: resolve a MULTI-commit CDC
# log to the table's current state by last-writer-wins — the log
# compaction every streaming-upsert table (Delta CDF apply, Iceberg
# upsert, Hudi MOR compaction, Kafka compacted topics) runs. The
# sibling ops cover two commits (q9i history, q9h delta-apply); this
# one exercises multi-version resolution: per key, ONLY the
# highest-commit event survives, an update wins as the live row, a
# tombstone deletes the key, and a later re-insert revives it.
#
# The synthesized 4-commit log derives deterministically from orders
# (the q1y/q9h/q9i convention): c1 = initial load; c2 updates keys
# ≡ 0 (mod 5) and tombstones keys ≡ 3 (mod 11) minus the update arm's
# keys; c3 updates keys ≡ 1 (mod 7) and RE-INSERTS keys ≡ 3 (mod 22)
# minus that update arm — most of the c2 tombstones come back; c4
# tombstones keys ≡ 2 (mod 13). Each commit's arms exclude each other,
# so the log carries at most ONE event per (key, commit) and LWW needs
# no same-commit tie-break (the first draft's overlapping arms made
# the winner engine-dependent — caught by the independent-replay
# test). All cents go through the shared FLOOR device, so the
# per-winning-commit audit (key counts + exact cent sums for
# survivors, counts for tombstone winners) is integer-exact.
#
# Scale (100 TB): the log is a union of filtered projections of ONE
# scan; resolution is a single key-partitioned row_number window
# (commit DESC — natural key hashing, no skew: every key carries ≤ 4
# log rows by construction), and the audit is one partial-aggregated
# rollup of the winners. No driver-side state at all.
# --------------------------------------------------------------------------
def _commit_log_cte() -> str:
    """The shared synthesized 4-commit changelog (see the q9p comment
    above for the arm arithmetic) — reused verbatim by q9p (LWW latest
    state) and q9q (as-of reads at EVERY version)."""
    up = "CAST(FLOOR(o_totalprice * {m} * 100) AS BIGINT)"
    return f"""
      SELECT o_orderkey AS k, 1 AS commit, 'u' AS op,
             {_IVM_CENTS} AS cents
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'u', {up.format(m="1.05")}
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'd', CAST(NULL AS BIGINT)
      FROM orders WHERE o_orderkey % 11 = 3 AND o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey, 3, 'u', {up.format(m="1.1")}
      FROM orders WHERE o_orderkey % 7 = 1
      UNION ALL
      SELECT o_orderkey, 3, 'u', {up.format(m="1.2")}
      FROM orders WHERE o_orderkey % 22 = 3 AND o_orderkey % 7 <> 1
      UNION ALL
      SELECT o_orderkey, 4, 'd', CAST(NULL AS BIGINT)
      FROM orders WHERE o_orderkey % 13 = 2
    """


def _lww_body() -> str:
    return f"""
    WITH log AS ({_commit_log_cte()}),
    winners AS (
      SELECT k, commit, op, cents FROM (
        SELECT k, commit, op, cents,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY commit DESC, op) AS rn
        FROM log
      ) r WHERE rn = 1
    )
    SELECT CAST(commit AS INT) AS winner_commit, op,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM winners GROUP BY 1, 2
    """


@query("q9p_lww_upsert", oracle=_lww_body())
def q9p_lww_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_lww_body())


# --------------------------------------------------------------------------
# q9q — TIME-TRAVEL (AS-OF) SNAPSHOT RECONSTRUCTION: the read
# path q9p's write path implies — reconstruct the table state AS OF each
# commit v from the same 4-commit changelog and audit every historical
# snapshot in ONE query (live-key count, tombstone count, exact cents
# total). This is the `VERSION AS OF` contract every table format ships
# (Delta/Iceberg/Hudi time travel): replaying the log truncated at v
# must yield the state a reader at commit v saw. q9p resolves only the
# LATEST state; q9q pins the whole history — an audit row per version —
# so a log-compaction or replication bug that silently rewrites history
# (not just the head) is caught by the version rows it corrupts.
#
# Exactness: all integer (cents through the shared FLOOR device; counts
# are exact); LWW resolution per (version, key) reuses q9p's
# ROW_NUMBER(commit DESC) device, and each key carries at most ONE log
# event per commit by construction, so winners are engine-independent.
#
# Scale (100 TB): the log is a union of filtered projections of ONE
# orders scan; the versions side is a 4-row literal (broadcast-pinned,
# bounded build — the theta-join `commit <= v` fans each log row out to
# at most |versions| audit copies, metadata-scale). Resolution is one
# (v, k)-partitioned row_number window — natural key hashing, <= 4 rows
# per (v, k) group — and the audit is one partial-aggregated rollup per
# version. Real table formats replay only the manifest/metadata layer
# this log stands in for, never the data files.
# --------------------------------------------------------------------------
_N_COMMITS = 4


def _time_travel_body() -> str:
    versions = ", ".join(f"({v})" for v in range(1, _N_COMMITS + 1))
    return f"""
    WITH log AS ({_commit_log_cte()}),
    versions(v) AS (VALUES {versions}),
    winners AS (
      SELECT v, k, op, cents FROM (
        SELECT /*+ BROADCAST(s) */ s.v, l.k, l.op, l.cents,
               ROW_NUMBER() OVER (PARTITION BY s.v, l.k
                                  ORDER BY l.commit DESC, l.op) AS rn
        FROM log l JOIN versions s ON l.commit <= s.v
      ) r WHERE rn = 1
    )
    SELECT CAST(v AS INT) AS version,
           CAST(SUM(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_live,
           CAST(SUM(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tombstoned,
           CAST(SUM(CASE WHEN op = 'u' THEN cents ELSE 0 END) AS BIGINT)
             AS cents_sum
    FROM winners GROUP BY 1
    """


@query("q9q_time_travel", oracle=_time_travel_body())
def q9q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_time_travel_body())
