"""Similarity search over `embeddings` (driver contract: brute-force
cosine top-k baseline + an LSH-bucketed approximate variant for scale).

q70 (brute force) is the correctness baseline and fully oracle-checked:
dot products and norms are the order-pinned folds of
functions/vectors.py, bit-identical in both engines by construction.

q71 (ANN) is the 100 TB path: sign-random-projection buckets prune the
candidate set; the bucket join is an equi-join on the bucket id instead
of an all-pairs product. Deterministic hyperplanes are derived from a
fixed-seed LCG so results are reproducible under task retries. Rows-only
driver check; tests/test_similarity.py asserts recall vs q70.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import (
    load_table,
    oracle_with,
    register_views,
    sql_with,
)
from tf_datapipeline_spark.functions import vectors as V
from tf_datapipeline_spark.functions import dialect as D
from tf_datapipeline_spark.functions.texthash import sql_shl1
from tf_datapipeline_spark.functions.vectors import fold_dot, fold_l2, fold_norm2
from tf_datapipeline_spark.registry import query

_DIM = 64
_N_QUERIES = 8  # vec_id < 8 are the query vectors
_TOP_K = 5
# q71 LSH geometry: L independent tables × B sign-projection bits each,
# hamming-1 multiprobe. On weakly-clustered data (this corpus is random
# gaussian) theory gives per-table recall ~0.28 for cos≈0.63-similar
# neighbors → ~0.73 across 4 tables; more clustered corpora do better
# with more bits. Tables trade scan fraction for recall — the standard
# LSH dial.
_N_TABLES = 4
_N_BITS = 6


def _dims_sql(dialect: str) -> str:
    """The exploded (vec_id, x, pos) table: one row per embedding
    dimension (1-based pos)."""
    x = D.element_at("embedding", "CAST(pos AS INT)", dialect)
    return f"""
      SELECT vec_id, CAST({x} AS DOUBLE) AS x, pos
      FROM (SELECT vec_id, embedding, {D.explode_series(1, 64, dialect)} AS pos
            FROM embeddings)
    """


def _norms(dialect: str) -> str:
    """CTE `norms` (vec_id, embedding, nrm): every vector and its L2 norm."""
    return f"""norms AS (
      SELECT vec_id, embedding, SQRT({fold_norm2(dialect, "embedding")}) AS nrm
      FROM embeddings
    )"""


def _knn_sql(dialect: str) -> str:
    return f"""
    WITH {_norms(dialect)},
    dots AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             {fold_dot(dialect, "d.embedding", "q.embedding")} AS dot
      FROM norms q JOIN norms d
        ON q.vec_id < {_N_QUERIES} AND d.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             d.dot / (nq.nrm * nn.nrm) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY d.query_id
                                ORDER BY d.dot / (nq.nrm * nn.nrm) DESC,
                                         d.neighbor_id) AS rank
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nn ON nn.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim
    FROM scored WHERE rank <= {_TOP_K}
    """


@query("q70_knn_bruteforce", oracle=_knn_sql("duckdb"))
def q70_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: query set (vec_id < 8) against the full corpus,
    in the packed production shape — vectors stay as arrays, the tiny
    query side broadcasts, one corpus pass computes every dot via
    zip_with/aggregate (JVM codegen), so the corpus never shuffles and no
    row explosion happens. Values hash-match the oracle because both
    engines run the same order-pinned folds (functions/vectors.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", "embedding", F.sqrt(V.norm2("embedding")).alias("nrm")
    )
    queries = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (V.dot("embedding", "q_emb") / (F.col("nrm") * F.col("q_nrm"))).alias(
            "cos_sim"
        ),
    )
    return cosine_topk(scored, _TOP_K)


def cosine_topk(scored: DataFrame, k: int) -> DataFrame:
    """The exact top-k tail of every cosine search: per query_id, the k
    rows with the highest cos_sim, ties to the lower neighbor_id, ranked
    1..k as (query_id, neighbor_id, rank, cos_sim)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _lcg_planes(n_planes: int, dim: int, seed: int = 1234) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1] from a frozen
    LCG — reproducible across retries, no RNG state shipped to executors."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
            row.append((state % 2000001) / 1000000.0 - 1.0)
        planes.append(row)
    return planes


@query("q71_knn_ann_lsh")
def q71_knn_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: multi-table sign-random-projection LSH. Each
    vector is indexed in L=4 tables under a 6-bit bucket (signs of dots
    with fixed hyperplanes); queries probe their bucket plus hamming-1
    neighbors in each table, then exact cosine + window top-k scores the
    pruned candidate set. The index join is (table_id, bucket) equi-join —
    at 100 TB the corpus is bucketed/partitioned by that key and only
    probed buckets are read. Rows-only driver check; recall vs q70 and
    candidate pruning asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = np.asarray(_lcg_planes(_N_TABLES * _N_BITS, _DIM))  # (24, 64)
    bit_weights = np.asarray([1 << b for b in range(_N_BITS)])

    @F.pandas_udf("array<int>")
    def bucket_udf(emb_col: pd.Series) -> pd.Series:
        # one Arrow batch -> one matmul: (B, 64) @ (64, 24) sign bits,
        # folded into _N_TABLES bucket ids per vector. This is the
        # vectorized form of 24 per-row plane-dot expressions — the hash
        # kernel is the hot path when indexing the full corpus.
        mat = np.stack(emb_col.to_numpy()).astype(np.float64)  # (B, 64)
        signs = (mat @ planes.T) >= 0  # (B, 24)
        by_table = signs.reshape(len(mat), _N_TABLES, _N_BITS)
        buckets = (by_table * bit_weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(buckets))

    norm = F.sqrt(V.norm2("embedding"))
    base = emb.select(
        "vec_id", "embedding", norm.alias("nrm"), bucket_udf("embedding").alias("buckets")
    )
    # index side: one row per (table_id, bucket)
    index = base.select(
        "vec_id",
        "embedding",
        "nrm",
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    # query side: per table, probe own bucket + hamming-1 neighbors
    probe_arr = F.transform(
        F.col("buckets"),
        lambda bkt: F.array(bkt, *[bkt.bitwiseXOR(F.lit(1 << b)) for b in range(_N_BITS)]),
    )
    queries = (
        base.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.posexplode(probe_arr).alias("table_id", "probes"),
        )
        .select(
            "query_id", "q_emb", "q_nrm", "table_id", F.explode("probes").alias("bucket")
        )
    )
    dot = V.dot("embedding", "q_emb")
    scored = (
        index.join(F.broadcast(queries), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (F.col("nrm") * F.col("q_nrm"))).alias("cos_sim"),
        )
        .distinct()  # a candidate can match in several tables/probes
    )
    return cosine_topk(scored, _TOP_K)


def _centroid_sql(dialect: str) -> str:
    # Accumulate FLOOR(x * 2^36) as exact integers: raw float→decimal casts
    # can land on rounding-mode ties (Spark HALF_UP vs DuckDB HALF_EVEN),
    # but x*2^36 is an exact double product and FLOOR is identical in both
    # engines. Quantization error ≤ 2^-36 per element, deterministic.
    q = "CAST(FLOOR(x * 68719476736.0) AS BIGINT)"
    return f"""
    WITH dims AS ({_dims_sql(dialect)}),
    labeled AS (
      SELECT e.label, d.pos, d.x
      FROM dims d JOIN embeddings e ON e.vec_id = d.vec_id
    )
    SELECT label, CAST(pos AS INT) AS dim,
           (CAST(SUM({q}) AS DOUBLE) / 68719476736.0) / COUNT(*) AS centroid,
           COUNT(*) AS n
    FROM labeled GROUP BY 1, 2
    """


@query(
    "q72_label_centroids",
    oracle=_centroid_sql("duckdb"),
)
def q72_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension) — the A3-style
    'running averages' reduction (reference train.py:52-53) applied to
    vectors. Exact integer sums → deterministic at any parallelism."""
    return sql_with(spark, sf_dir, _centroid_sql("spark"))


# --------------------------------------------------------------------------
# q73 — IVF-style ANN: partition the corpus into inverted lists by
# nearest of _N_CELLS fixed seed centroids (one numpy matmul per Arrow
# batch), probe the _N_PROBE nearest lists per query, exact-rescore the
# short lists. At 100 TB the corpus is written partitioned by cell id, so
# a query reads only probed partitions — the IVF counterpart to q71's
# sign-projection buckets (use IVF when the corpus is clustered, LSH when
# it isn't). Deterministic: centroids are fixed vec_ids, ties break by
# cell index. Rows-only driver check; recall vs q70 in tests.
# --------------------------------------------------------------------------
_N_CELLS = 16
_N_PROBE = 4
_CENTROID_STRIDE = 37  # centroid c = corpus vector with vec_id = 8 + 37*c


def seed_ids(n: int) -> list[int]:
    """The first `n` ids of the fixed seed grid, in grid order."""
    return [8 + _CENTROID_STRIDE * c for c in range(n)]


def seed_values_sql(n: int) -> str:
    """`(c, seed id)` VALUES rows for the first `n` grid positions."""
    return ", ".join(f"({c}, {i})" for c, i in enumerate(seed_ids(n)))


# The CTE list `cells, cente`: the _N_CELLS seed cells and their
# centroid embeddings (cell, cemb).
_CELL_CENTERS = f"""cells(cell, cvec_id) AS (VALUES {seed_values_sql(_N_CELLS)}),
    cente AS (
      SELECT c.cell, e.embedding AS cemb
      FROM cells c JOIN embeddings e ON e.vec_id = c.cvec_id
    )"""


def nearest_seed(
    spark: SparkSession, sf_dir: str, df: DataFrame
) -> tuple[DataFrame, Column]:
    """Route each `embedding` row of `df` (a batch or a stream) to its
    nearest seed centroid: returns `df` with one named distance column
    `_d2_<cell>` per seed, and the argmin struct `(d2, cell)` over them.
    Cells are the seeds this corpus has (the oracles' `cw` JOIN drops
    missing seed ids the same way). Each distance is the order-pinned
    `l2` fold against the seed as a literal array, the bitwise twin of
    the oracles' `list_reduce`. Ties break to the lowest cell, as the
    oracles' ORDER BY d2, cell. The folds are projected to named columns
    first because nesting them inside a when-chain copies each 64-term
    tree once per level."""
    ids = seed_ids(_N_CELLS)
    seed_rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isin(ids))
        .select("vec_id", "embedding")
        .collect()
    )
    cents = {ids.index(r.vec_id): [float(x) for x in r.embedding] for r in seed_rows}
    ks = sorted(cents)
    for k in ks:
        arr = F.array(*[F.lit(v) for v in cents[k]])
        df = df.withColumn(f"_d2_{k}", V.l2("embedding", arr))
    best = F.array_sort(
        F.array(
            *[
                F.struct(F.col(f"_d2_{k}").alias("d2"), F.lit(k).alias("cell"))
                for k in ks
            ]
        )
    ).getItem(0)
    return df, best


@query("q73_knn_ann_ivf")
def q73_knn_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent_ids = seed_ids(_N_CELLS)
    cent_rows = (
        emb.filter(F.col("vec_id").isin(cent_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    cents = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in sorted(cent_rows, key=lambda r: r.vec_id)]
    )
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)  # cosine cells

    @F.pandas_udf("array<int>")
    def cell_udf(emb_col: pd.Series) -> pd.Series:
        # nearest-centroid cells by cosine, best _N_PROBE per vector
        mat = np.stack(emb_col.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cents.T  # (B, _N_CELLS)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :_N_PROBE]
        return pd.Series(list(order.astype(np.int32)))

    norm = F.sqrt(V.norm2("embedding"))
    base = emb.select(
        "vec_id", "embedding", norm.alias("nrm"), cell_udf("embedding").alias("cells")
    )
    # inverted list: every vector indexed ONLY under its single nearest cell
    index = base.select(
        "vec_id", "embedding", "nrm", F.element_at("cells", 1).alias("cell")
    )
    # queries probe their _N_PROBE nearest cells
    queries = base.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode("cells").alias("cell"),
    )
    dot = V.dot("embedding", "q_emb")
    scored = (
        index.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (F.col("nrm") * F.col("q_nrm"))).alias("cos_sim"),
        )
    )
    return cosine_topk(scored, _TOP_K)


# --------------------------------------------------------------------------
# q74 — one k-means (Lloyd) refinement step over the IVF seed centroids:
# assign every vector to its nearest seed (argmin L2, ties by cell index),
# then recompute each cell's mean — the index-build/training step that
# turns q73's fixed seeds into data-adapted centroids. Fully
# oracle-checked: squared distances are ORDER-PINNED packed-array folds
# (fold_l2, not the DECIMAL(38,12) device), means use
# the same FLOOR·2^36 integer quantization as q72. Scale shape: the
# centroid side is 16 packed rows (broadcast-hinted); assignment scores
# stream the corpus once with zero shuffle before the argmin window;
# full Lloyd = repeat this query with the previous output as input
# (localCheckpoint per round, as q67 does for label propagation).
# --------------------------------------------------------------------------
def _kmeans_step_sql(dialect: str) -> str:
    return f"""
    WITH {_CELL_CENTERS},
    dims AS ({_dims_sql(dialect)}),
    dists AS (
      SELECT /*+ BROADCAST(c) */ v.vec_id, c.cell,
             {fold_l2(dialect, "v.embedding", "c.cemb")} AS d2
      FROM embeddings v CROSS JOIN cente c
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS rn
        FROM dists
      ) ranked WHERE rn = 1
    )
    SELECT a.cell, CAST(d.pos AS INT) AS dim,
           (CAST(SUM(CAST(FLOOR(d.x * 68719476736.0) AS BIGINT)) AS DOUBLE)
              / 68719476736.0) / COUNT(*) AS centroid,
           COUNT(*) AS n_members
    FROM dims d JOIN assign a ON a.vec_id = d.vec_id
    GROUP BY 1, 2
    """


@query(
    "q74_kmeans_step",
    oracle=_kmeans_step_sql("duckdb"),
)
def q74_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _kmeans_step_sql("spark"))


# --------------------------------------------------------------------------
# q75 — product-quantization (PQ) encode: split each 64-dim vector into 8
# subvectors of 8 dims; assign every subvector to its nearest of 4
# deterministic codewords (subvectors of fixed corpus vectors — the same
# seed convention as q73's IVF cells). PQ is the 100 TB memory story for
# vector search: 64 float32s (256 B) compress to 8 single-byte codes, so
# a trillion-vector index fits in RAM for the coarse pass and only
# short-listed vectors are fetched at full precision (q73's rescore).
# Fully oracle-checked: squared-distance terms are single IEEE products
# cast to DECIMAL(38,12); ties break by code index. Codebook is 4x8x8
# values — broadcast; assignment is one partial-aggregated shuffle keyed
# by (vec_id, sub, code). Full PQ training = q74's Lloyd step per
# subspace.
# --------------------------------------------------------------------------
_PQ_CODES = 8


def _pq_dists_ctes(dialect: str, n_codewords: int | None = None) -> str:
    """Shared q75/q76 subvector-distance CTEs: per (vec, sub, code), both
    engines fold the same 8 squared-diff doubles left to right — the
    order contract of functions/vectors.py, over an 8-dim slice."""
    cws = seed_values_sql(n_codewords or _PQ_CODES)
    fold = V.fold_l2_slice(dialect, "v.embedding", "c.cemb", "s.sub * 8", 8)
    # BROADCAST hints pin the build sides to the BOUNDED relations:
    # without them Catalyst broadcast the (corpus x 8-sub) side of the
    # second cross join and streamed the 8-row codeword side — harmless
    # at test scale, a corpus-sized broadcast at 100 TB (caught by the
    # structural bounded-build-side audit in test_plans.py).
    return f"""
    cw(code, cwvec_id) AS (VALUES {cws}),
    cwe AS (
      SELECT c.code, e.embedding AS cemb
      FROM cw c JOIN embeddings e ON e.vec_id = c.cwvec_id
    ),
    subs AS (SELECT {D.explode_series(0, 7, dialect)} AS sub),
    dists AS (
      SELECT /*+ BROADCAST(s), BROADCAST(c) */ v.vec_id, s.sub, c.code, {fold} AS d2
      FROM embeddings v CROSS JOIN subs s CROSS JOIN cwe c
    )"""


def _pq_encode_sql(dialect: str) -> str:
    return f"""
    WITH {_pq_dists_ctes(dialect)}
    SELECT vec_id, sub, code, d2 AS quant_err FROM (
      SELECT vec_id, sub, code, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY d2, code) AS rn
      FROM dists
    ) ranked WHERE rn = 1
    """


@query("q75_pq_encode", oracle=_pq_encode_sql("duckdb"))
def q75_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_pq_encode_sql("spark"))


# --------------------------------------------------------------------------
# q76 — PQ-ANN search (ADC: asymmetric distance computation): score every
# vector against each query using ONLY its 8 PQ codes — per query, a
# 8-sub x 4-code lookup table of exact subvector distances (256 tiny
# rows, broadcast), summed per vector via an equi-join on (sub, code) —
# then overfetch 4x top-k candidates by approximate distance and rescore
# them exactly (q70's cosine). This is the production trillion-vector
# shape: the coarse pass touches 8 bytes per vector, full precision is
# read only for the short list. Deterministic end-to-end (order-pinned
# subvector distance folds — see _pq_dists_ctes — FLOOR-quantized ADC
# sums, ties by vec_id) — so unlike typical ANN this one is fully
# ORACLE-CHECKED, not rows-only.
# --------------------------------------------------------------------------
_PQ_TOPK = _TOP_K
_PQ_OVERFETCH = 8 * _TOP_K


def _pq_ann_sql(dialect: str) -> str:
    return f"""
    WITH {_pq_dists_ctes(dialect)},
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, code) AS rn
        FROM dists
      ) ranked WHERE rn = 1
    ),
    adc AS (
      SELECT vec_id AS query_id, sub, code,
             CAST(FLOOR(d2 * 1073741824.0) AS BIGINT) AS d2q
      FROM dists WHERE vec_id < {_N_QUERIES}
    ),
    approx AS (
      SELECT a.query_id, k.vec_id, SUM(a.d2q) AS ad2
      FROM codes k JOIN adc a ON a.sub = k.sub AND a.code = k.code
      WHERE k.vec_id <> a.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ad2, vec_id) AS crn
        FROM approx
      ) c WHERE crn <= {_PQ_OVERFETCH}
    ),
    norms AS (
      SELECT vec_id, SQRT({fold_norm2(dialect, "embedding")}) AS nrm
      FROM embeddings
    ),
    rescored AS (
      -- packed order-pinned rescore (not the DECIMAL
      -- device): the short list rejoins the corpus by id, one fold per
      -- candidate
      SELECT c.query_id, c.vec_id AS neighbor_id,
             {fold_dot(dialect, "d.embedding", "q.embedding")}
               / (nq.nrm * nn.nrm) AS cos_sim
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings d ON d.vec_id = c.vec_id
      JOIN norms nq ON nq.vec_id = c.query_id
      JOIN norms nn ON nn.vec_id = c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim
    FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank,
             cos_sim
      FROM rescored
    ) final WHERE rank <= {_PQ_TOPK}
    """


@query("q76_pq_ann", oracle=_pq_ann_sql("duckdb"))
def q76_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_pq_ann_sql("spark"))


# --------------------------------------------------------------------------
# q77 — IVF-PQ: the production large-scale ANN shape (FAISS IVFPQ /
# SCANN lineage) combining q73's cell pruning with q75/q76's PQ
# compression. Index side: every vector is stored ONLY under its nearest
# cell, as 8 one-byte PQ codes (256 B vector -> 8 B + cell id). Query
# side: probe the _N_PROBE nearest cells, rank in-cell candidates by ADC
# (per-query lookup table of query-subvector->codeword distances; one
# array aggregate per candidate — no full-vector math), overfetch, then
# exact-rescore ONLY the overfetched shortlist against the raw
# embeddings table.
#
# 100 TB shape: the corpus is partitioned by cell (partition-prunable
# reads — only _N_PROBE/_N_CELLS of the index is touched per query);
# the in-cell scan reads 8-byte codes, not vectors; the only full-vector
# reads are the OVERFETCH-sized shortlist join at the end. Centroids +
# codebook + per-query LUTs are tiny broadcasts. FULLY ORACLE-CHECKED:
# the numpy encode path is fold-exact
# (sequential accumulation == the order-pinned SQL folds, bit-for-bit)
# and ADC sums FLOOR-quantized integer LUTs, so the shortlist — and
# therefore the exact rescore output — is engine-exact; recall vs the
# exact q70 baseline stays pinned in tests/test_similarity.py, and q76
# is the shared-SQL ADC twin.
#
# TUNING DIALS: IVFPQ recall is bought with two
# module-level dials (tests sweep them) —
#   _IVFPQ_OVERFETCH: shortlist size rescored exactly. The sf10 measured
#     curve (SCALING.md): recall 0.05 @ 40, 0.125 @ 320, 0.275 @ 2560 —
#     the expected fixed-capacity decay; with exact rescore a larger
#     overfetch's candidate set is a SUPERSET of a smaller one's (ADC
#     order is deterministic, ties by vec_id), so recall is provably
#     non-decreasing in the dial — pinned at oracle scale in
#     tests/test_similarity.py::test_ivfpq_overfetch_recall_curve.
#   _IVFPQ_NCODES: codewords per subspace. Default stays 4 = q75's tiny
#     codebook geometry (keeps q76, the ADC oracle twin, exactly
#     replayable in SQL); the production setting is 256 (FAISS IVFPQ's
#     8-bit codes), which needs a corpus with >= 8 + 37*255 ≈ 9.5k seed
#     vectors (sf0.1 up). Smaller corpora keep whatever seeds exist.
# --------------------------------------------------------------------------
_SUB_DIM = _DIM // _PQ_CODES  # 8 dims per PQ subspace
_PQ_NCODES = 4  # codewords per subspace (q75's codebook geometry)
_IVFPQ_OVERFETCH = _PQ_OVERFETCH
_IVFPQ_NCODES = _PQ_NCODES


def _ivfpq_sql() -> str:
    """DuckDB oracle replaying the WHOLE q77 flow declaratively (so q77
    is value-checked, not rows-only): cells + probes from
    order-pinned cosine folds, PQ codes from order-pinned subvector
    distances, ADC from FLOOR-quantized integer LUT sums
    (order-independent), shortlist by (ad2, vec_id), exact order-pinned
    rescore. Cross-IMPLEMENTATION, not shared-SQL: the Spark side is the
    numpy mapInPandas/pandas_udf pipeline whose accumulations are
    sequenced to match the folds bit-for-bit (see q77's docstring)."""
    cents_vals = seed_values_sql(_N_CELLS)
    return f"""
    WITH {_pq_dists_ctes("duckdb", _IVFPQ_NCODES)},
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, code) AS rn
        FROM dists
      ) ranked WHERE rn = 1
    ),
    norms AS (
      SELECT vec_id, SQRT({fold_norm2("duckdb", "embedding")}) AS nrm
      FROM embeddings
    ),
    centv(cell, cvec_id) AS (VALUES {cents_vals}),
    cemb AS (
      SELECT cv.cell, e.embedding AS cemb, n.nrm AS cnrm
      FROM centv cv
      JOIN embeddings e ON e.vec_id = cv.cvec_id
      JOIN norms n ON n.vec_id = cv.cvec_id
    ),
    ranked_cells AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cell) AS crk
      FROM (
        SELECT v.vec_id, ct.cell,
               {fold_dot("duckdb", "v.embedding", "ct.cemb")}
                 / (nv.nrm * ct.cnrm) AS sim
        FROM embeddings v
        CROSS JOIN cemb ct
        JOIN norms nv ON nv.vec_id = v.vec_id
      ) s
    ),
    assign AS (SELECT vec_id, cell FROM ranked_cells WHERE crk = 1),
    probes AS (
      SELECT vec_id AS query_id, cell FROM ranked_cells
      WHERE crk <= {_N_PROBE} AND vec_id < {_N_QUERIES}
    ),
    adc AS (
      SELECT vec_id AS query_id, sub, code,
             CAST(FLOOR(d2 * 1073741824.0) AS BIGINT) AS d2q
      FROM dists WHERE vec_id < {_N_QUERIES}
    ),
    approx AS (
      SELECT p.query_id, k.vec_id, CAST(SUM(a.d2q) AS BIGINT) AS ad2
      FROM codes k
      JOIN assign g ON g.vec_id = k.vec_id
      JOIN probes p ON p.cell = g.cell
      JOIN adc a ON a.query_id = p.query_id
                AND a.sub = k.sub AND a.code = k.code
      WHERE k.vec_id <> p.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ad2, vec_id) AS crn
        FROM approx
      ) c WHERE crn <= {_IVFPQ_OVERFETCH}
    ),
    rescored AS (
      SELECT c.query_id, c.vec_id AS neighbor_id,
             {fold_dot("duckdb", "d.embedding", "q.embedding")}
               / (nn.nrm * nq.nrm) AS cos_sim
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings d ON d.vec_id = c.vec_id
      JOIN norms nq ON nq.vec_id = c.query_id
      JOIN norms nn ON nn.vec_id = c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim
    FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank,
             cos_sim
      FROM rescored
    ) final WHERE rank <= {_TOP_K}
    """


@query("q77_knn_ivfpq", oracle=_ivfpq_sql())
def q77_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, numpy-implemented but FOLD-EXACT: every float
    accumulation in the encode path is a numpy form of functions/
    vectors.py (seq_norm2, seq_dot), bit-identical to the oracle's
    order-pinned folds (numpy's .sum() and BLAS matmuls would reorder
    them), ADC is an integer sum of
    FLOOR-quantized LUT entries (order-independent, FAISS fast-scan
    style), and the shortlist is integer-ordered with vec_id ties — so
    the whole query is ORACLE-CHECKED, leaving only the recall-floor
    rungs (q71/q73) and the randomized augment/IO ops rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    grid = seed_ids(max(_N_CELLS, _IVFPQ_NCODES))
    seed_rows = (
        emb.filter(F.col("vec_id").isin(grid))
        .select("vec_id", "embedding")
        .collect()
    )
    seeds = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in seed_rows
    }
    # loud dense-prefix guard: the engine labels cells and
    # codes by POSITION among the found seeds while the oracle keeps the
    # ORIGINAL grid indices and inner-joins missing seeds away — the two
    # agree iff the found seeds are a prefix of the requested grid (a
    # smaller corpus may truncate the TAIL, never punch a mid-range
    # hole). A sparse vec_id space must fail here, not hash-diverge.
    found = sorted(seeds)
    assert found == grid[: len(found)], (
        "IVF-PQ seed grid has mid-range holes (non-dense vec_ids): "
        f"missing {sorted(set(grid[: len(found)]) - set(found))[:5]} — "
        "cell/code labels would silently diverge from the oracle"
    )
    # like q73: a small corpus may not contain every seed id — cells are
    # whatever seeds exist, in vec_id order (cell c = c'th found seed).
    # Cells come from the first _N_CELLS found seeds only, so the cell
    # geometry is INDEPENDENT of the codebook dial.
    cent_ids = sorted(seeds)[:_N_CELLS]
    cents_raw = np.stack([seeds[i] for i in cent_ids])
    # order-pinned centroid norms: sequential accumulation == the
    # oracle's fold_norm2 per centroid vec_id, then IEEE sqrt
    cent_nrms = np.sqrt(V.seq_norm2(cents_raw))
    # codebook[code, sub] = sub'th 8-dim slice of seed vector `code`
    # (q75's convention); positions equal k because vec_ids are dense,
    # so numpy code indices == the oracle's cw.code labels. The
    # production 256-codeword setting simply reads more seeds (corpus
    # permitting — see the dial comment).
    book_ids = [i for i in seed_ids(_IVFPQ_NCODES) if i in seeds]
    book = np.stack([seeds[i] for i in book_ids]).reshape(
        len(book_ids), _PQ_CODES, _SUB_DIM
    )

    def _sub_d2(mat: np.ndarray) -> np.ndarray:
        """d2[row, sub, code]: order-pinned squared subvector distances,
        the oracle's 8-term fold."""
        d2 = np.empty((len(mat), _PQ_CODES, len(book_ids)))
        for b in range(len(book_ids)):
            for s in range(_PQ_CODES):
                sub = mat[:, s * _SUB_DIM : (s + 1) * _SUB_DIM]
                d2[:, s, b] = V.seq_norm2(sub - book[b, s])
        return d2

    @F.pandas_udf("struct<cell:int, codes:array<int>, probe:array<int>>")
    def encode_udf(emb_col: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb_col.to_numpy()).astype(np.float64)
        n = len(mat)
        nrm = np.sqrt(V.seq_norm2(mat))
        # cosine per centroid, same op sequence as the oracle:
        # pinned-fold dot, then one division by (row_norm * cent_norm)
        sims = np.empty((n, len(cent_ids)))
        for c in range(len(cent_ids)):
            sims[:, c] = V.seq_dot(mat, cents_raw[c]) / (nrm * cent_nrms[c])
        # ORDER BY sim DESC, cell — stable argsort keeps low cell first
        order = np.argsort(-sims, axis=1, kind="stable")
        # ORDER BY d2, code — argmin takes the first (lowest code) tie
        codes = np.argmin(_sub_d2(mat), axis=2)
        return pd.DataFrame(
            {
                "cell": order[:, 0].astype(np.int32),
                "codes": list(codes.astype(np.int32)),
                "probe": list(order[:, :_N_PROBE].astype(np.int32)),
            }
        )

    @F.pandas_udf("array<array<long>>")
    def lut_udf(emb_col: pd.Series) -> pd.Series:
        # FLOOR-quantized integer LUT (FAISS fast-scan style): the ADC
        # sum becomes order-independent exact bigint arithmetic, which
        # is what lets the shortlist ordering — hence the whole query —
        # be oracle-checked.
        mat = np.stack(emb_col.to_numpy()).astype(np.float64)
        q = np.floor(_sub_d2(mat) * 1073741824.0).astype(np.int64)
        return pd.Series([[list(sub) for sub in row] for row in q])

    enc = emb.select("vec_id", "embedding", encode_udf("embedding").alias("e"))
    index = enc.select(
        "vec_id", F.col("e.cell").alias("cell"), F.col("e.codes").alias("codes")
    )
    queries = (
        enc.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode("e.probe").alias("cell"),
            lut_udf("embedding").alias("lut"),
        )
    )
    # ADC: approx d2 = sum over subspaces of lut[sub][codes[sub]] —
    # exact bigint arithmetic over the quantized LUT (order-independent,
    # so it equals the oracle's SUM over the (sub, code) join)
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(_PQ_CODES)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at("lut", s), F.element_at("codes", s) + 1
        ),
    )
    cand = (
        index.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("ad2"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.asc("ad2"), F.asc("vec_id"))
    shortlist = (
        cand.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= _IVFPQ_OVERFETCH)
        .select("query_id", "vec_id")
    )
    # exact rescore: only the shortlist touches full vectors
    norm = F.sqrt(V.norm2("embedding"))
    vecs = emb.select("vec_id", "embedding", norm.alias("nrm"))
    qvecs = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    dot = V.dot("embedding", "q_emb")
    rescored = (
        shortlist.join(vecs, "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (F.col("nrm") * F.col("q_nrm"))).alias("cos_sim"),
        )
    )
    return cosine_topk(rescored, _TOP_K)


# --------------------------------------------------------------------------
# q78 — int8 SCALAR QUANTIZATION (SQ) encode: per-dimension corpus
# min/max → every component quantized to an 8-bit code
# floor((x-mn)/(mx-mn)*255 + 0.5), plus the exact reconstruction MAE.
# SQ is the simpler sibling of PQ (q75): 64 float32s (256 B) become 64
# bytes with NO codebook training — the standard first rung of the
# memory-ladder for trillion-vector indexes (the 4x rung; PQ is the 32x
# rung). Fully oracle-checked: the quantize/dequantize math is per-row
# IEEE with a FLOOR at the end, the per-vector error sum is
# FLOOR-quantized to 2^-30 before the bigint sum (order-independent),
# and the 64 codes are digested in pos order to one md5. The rng side is
# 64 rows — broadcast hash join against the corpus; one corpus pass.
# (Production note: the dims explode is the oracle-shared formulation;
# the packed form would zip_with against a broadcast mn/mx array — same
# two-pass structure, no shuffle either way.)
# --------------------------------------------------------------------------
def _sq_encode_sql(dialect: str) -> str:
    digest = f"md5({D.string_agg_ordered('code', 'pos', ',', dialect)})"
    return f"""
    WITH rng AS (
      SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY 1
    ),
    codes AS (
      SELECT d.vec_id, d.pos,
             CAST(CASE WHEN r.mx = r.mn THEN 0.0
                  ELSE LEAST(255.0, GREATEST(0.0,
                       FLOOR((d.x - r.mn) / (r.mx - r.mn) * 255.0 + 0.5))) END
                  AS INT) AS code,
             d.x, r.mn, r.mx
      FROM dims d JOIN rng r ON r.pos = d.pos
    ),
    recon AS (
      SELECT vec_id, pos, code,
             CAST(FLOOR(ABS(x - (mn + CAST(code AS DOUBLE) * ((mx - mn) / 255.0)))
                        * 1073741824.0) AS BIGINT) AS errq
      FROM codes
    )
    SELECT vec_id,
           CAST(COUNT(*) AS INT) AS n_dims,
           CAST(SUM(errq) AS DOUBLE) / (1073741824.0 * COUNT(*)) AS recon_mae,
           {digest} AS codes_md5
    FROM recon
    GROUP BY vec_id
    """


@query(
    "q78_sq_encode",
    oracle=oracle_with(_sq_encode_sql("duckdb"), dims=_dims_sql("duckdb")),
)
def q78_sq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _sq_encode_sql("spark"), dims=_dims_sql("spark"))


# --------------------------------------------------------------------------
# q79 — HYBRID RETRIEVAL with reciprocal-rank fusion (RRF): the BM25
# lexical arm (q5k's scorer over `documents`) and a cosine vector arm
# (query = the vec_id-0 embedding, exact-decimal dots per q70) each
# produce a top-100 candidate list; the two lists fuse on
# doc_id = vec_id (the engine's cross-modal key, as in qt2) with
# score = 1/(60+rank_lex) + 1/(60+rank_vec), missing arms contributing
# 0 — the standard RRF form (k=60). This is the production hybrid-search
# shape: each arm is independently prunable (BM25 by impact, vectors by
# IVF/PQ), only the ~100-row candidate lists rank globally
# (orderBy+limit = per-partition heap; ranks decorate the tiny survivor
# arrays — no unpartitioned WindowExec), and the fusion is a 100x100
# full-outer join. Fully oracle-checked: ranks are integers over
# bit-identical scores, and the fused score is a fixed-order two-term
# IEEE sum.
# --------------------------------------------------------------------------
_RRF_K = "60.0"
_RRF_POOL = 100
_RRF_TOPK = 20
# CASTs keep Spark from typing the bare literals as DECIMAL (DuckDB
# reads them as DOUBLE) — the driver hash is type-sensitive.
_RRF_EXPR = (
    "COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + l_rnk), 0.0)"
    " + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + v_rnk), 0.0)"
)


def _rrf_oracle() -> str:
    from tf_datapipeline_spark.operators.text import BM25_SCORED_CTES

    return f"""
    WITH {BM25_SCORED_CTES},
    norms AS (
      SELECT vec_id, embedding,
             SQRT({fold_norm2("duckdb", "embedding")}) AS nrm
      FROM embeddings
    ),
    dots AS (
      -- packed order-pinned fold (not the DECIMAL device)
      SELECT d.vec_id,
             {fold_dot("duckdb", "d.embedding", "q.embedding")} AS dot
      FROM norms d CROSS JOIN (SELECT embedding FROM norms WHERE vec_id = 0) q
    ),
    vscore AS (
      SELECT t.vec_id, t.dot / (nn.nrm * n0.nrm) AS cos_sim
      FROM dots t
      JOIN norms nn ON nn.vec_id = t.vec_id
      CROSS JOIN (SELECT nrm FROM norms WHERE vec_id = 0) n0
    ),
    vecr AS (
      SELECT vec_id, v_rnk FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS v_rnk
        FROM vscore
      ) x WHERE v_rnk <= {_RRF_POOL}
    ),
    lexr AS (
      SELECT doc_id, l_rnk FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS l_rnk
        FROM bm25_scored
      ) x WHERE l_rnk <= {_RRF_POOL}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
             CAST(l_rnk AS INT) AS lex_rank,
             CAST(v_rnk AS INT) AS vec_rank,
             {_RRF_EXPR} AS rrf_score
      FROM lexr l FULL OUTER JOIN vecr v ON v.vec_id = l.doc_id
    )
    SELECT doc_id, CAST(rnk AS INT) AS rank, lex_rank, vec_rank, rrf_score
    FROM (
      SELECT doc_id, lex_rank, vec_rank, rrf_score,
             ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rnk
      FROM fused
    ) f
    WHERE rnk <= {_RRF_TOPK}
    """


def _ranked_list(df: DataFrame, neg_col: str, id_col: str, out_id: str,
                 out_rnk: str, pool: int) -> DataFrame:
    """orderBy+limit(pool) then decorate ranks via the sorted-array idiom
    (q5f): no unpartitioned WindowExec, the heap-based TakeOrdered does
    the global selection."""
    top = df.orderBy(F.desc(neg_col), F.asc(id_col)).limit(pool)
    return (
        top.agg(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col(neg_col)).alias("_neg"), F.col(id_col))
                )
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_p", "_s"))
        .select(
            F.col(f"_s.{id_col}").alias(out_id),
            (F.col("_p") + 1).alias(out_rnk),
        )
    )


@query("q79_hybrid_rrf", oracle=_rrf_oracle())
def q79_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.text import bm25_scored

    lexr = _ranked_list(
        bm25_scored(spark, sf_dir), "score", "doc_id", "l_id", "l_rnk", _RRF_POOL
    )

    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = V.norm2("embedding")
    corpus = emb.select("vec_id", "embedding", F.sqrt(norm2).alias("nrm"))
    qv = corpus.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    dot = V.dot("embedding", "q_emb")
    vscore = corpus.crossJoin(F.broadcast(qv)).select(
        "vec_id", (dot / (F.col("nrm") * F.col("q_nrm"))).alias("cos_sim")
    )
    vecr = _ranked_list(vscore, "cos_sim", "vec_id", "v_id", "v_rnk", _RRF_POOL)

    fused = lexr.join(vecr, lexr.l_id == vecr.v_id, "full_outer").select(
        F.coalesce("l_id", "v_id").alias("doc_id"),
        F.col("l_rnk").cast("int").alias("lex_rank"),
        F.col("v_rnk").cast("int").alias("vec_rank"),
        F.expr(_RRF_EXPR).alias("rrf_score"),
    )
    top = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(_RRF_TOPK)
    return (
        top.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("rrf_score")).alias("_neg"),
                        "doc_id",
                        "lex_rank",
                        "vec_rank",
                        "rrf_score",
                    )
                )
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_p", "_s"))
        .select(
            F.col("_s.doc_id").alias("doc_id"),
            (F.col("_p") + 1).cast("int").alias("rank"),
            F.col("_s.lex_rank").alias("lex_rank"),
            F.col("_s.vec_rank").alias("vec_rank"),
            F.col("_s.rrf_score").alias("rrf_score"),
        )
    )


# --------------------------------------------------------------------------
# q7c — MUTUAL-kNN graph over the embedding corpus, blocked by q6b's
# corpus-scaled semantic cells: each vector's top-_MKNN_K cosine
# neighbors WITHIN its cell, kept as a graph edge only when the relation
# is reciprocal (a in top-k of b AND b in top-k of a). Mutual-kNN is the
# standard density signal for embedding-space QA (reciprocal neighbors
# mark genuine cluster cores; one-directional neighbors mark hubness
# artifacts) and the edge set UMAP/HDBSCAN-style structure analyses
# start from.
#
# Scale: blocking on `label` (10 distinct values in testdata) would make
# pair work O(n^2/10) — a quadratic hidden behind a constant. The
# blocking key is the SAME capped-coarse + in-group-fine cell assignment
# q6b broadcasts (semcells.semantic_cells_df): cell count grows as
# max(16, n/128), so per-cell population — and therefore per-block pair
# work — stays ~128 vectors INDEPENDENT of corpus size; total pair work
# is O(n * 128), linear in n. The b-side salt spreads each cell over the
# cluster instead of one task per cell. The top-k is a per-vector window
# over the blocked pairs (shuffle keyed by vec_id), and the reciprocity
# check is a self-join of the (k*n)-row edge list — never of the pair
# set. The DuckDB oracle replays the IDENTICAL cell assignment via the
# shared _cells_ctes_sql chain, so the blocked neighbor graph is
# hash-exact on both engines (cosines are plain float per q6b's
# contract: rank flips live inside a ~1e-12 sliver this corpus never
# hits; ties break by partner id identically in both).
# --------------------------------------------------------------------------
_MKNN_K = 3


def _mutual_knn_oracle() -> str:
    from tf_datapipeline_spark.operators.semcells import _cells_ctes_sql

    return f"""
    WITH {_cells_ctes_sql()},
    pairs AS (
      SELECT ca.vec_id AS va, cb.vec_id AS vb,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos
      FROM cells ca
      JOIN cells cb ON cb.cell = ca.cell AND cb.vec_id <> ca.vec_id
      JOIN embeddings a ON a.vec_id = ca.vec_id
      JOIN embeddings b ON b.vec_id = cb.vec_id
    ),
    edges AS (
      SELECT va, vb FROM (
        SELECT va, vb,
               ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
        FROM pairs
      ) r WHERE rn <= {_MKNN_K}
    ),
    mutual AS (
      SELECT e1.va AS a, e1.vb AS b
      FROM edges e1 JOIN edges e2 ON e2.va = e1.vb AND e2.vb = e1.va
    ),
    per_vec AS (
      SELECT a AS vec_id, COUNT(*) AS n_mutual, MIN(b) AS nearest_partner
      FROM mutual GROUP BY a
    )
    SELECT e.vec_id,
           CAST(COALESCE(p.n_mutual, 0) AS INT) AS n_mutual,
           p.nearest_partner
    FROM embeddings e LEFT JOIN per_vec p ON p.vec_id = e.vec_id
    """


def _mknn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed cell-blocked kNN edge list (va, vb) — q7c's graph
    construction, shared with q7m's NSW-style beam search. Out-degree
    is bounded at _MKNN_K by the per-va window."""
    from tf_datapipeline_spark.operators.semcells import semantic_cells_df

    cv = semantic_cells_df(spark, sf_dir)  # vec_id, embedding, nrm, cell
    _SALT = 16
    a = cv.select(
        F.col("cell"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("slice"),
    )
    b = cv.select(
        F.col("cell"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
        F.pmod(F.col("vec_id"), F.lit(_SALT)).cast("int").alias("slice"),
    )
    pairs = (
        a.join(b, ["cell", "slice"])
        .filter(F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            (V.dot("a_emb", "b_emb") / (F.col("a_nrm") * F.col("b_nrm"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("va").orderBy(F.desc("cos"), F.asc("vb"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MKNN_K)
        .select("va", "vb")
    )


@query("q7c_mutual_knn", oracle=_mutual_knn_oracle())
def q7c_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.semcells import semantic_cells_df

    cv = semantic_cells_df(spark, sf_dir)  # vec_id, embedding, nrm, cell
    edges = _mknn_edges(spark, sf_dir)
    rev = edges.select(F.col("va").alias("rva"), F.col("vb").alias("rvb"))
    mutual = edges.join(
        rev, (F.col("rva") == F.col("vb")) & (F.col("rvb") == F.col("va"))
    ).select(F.col("va").alias("a"), F.col("vb").alias("b"))
    per_vec = mutual.groupBy("a").agg(
        F.count(F.lit(1)).cast("int").alias("n_mutual"),
        F.min("b").alias("nearest_partner"),
    )
    return (
        cv.select("vec_id")
        .join(per_vec, cv.vec_id == per_vec.a, "left")
        .select(
            "vec_id",
            F.coalesce("n_mutual", F.lit(0)).cast("int").alias("n_mutual"),
            "nearest_partner",
        )
    )


# --------------------------------------------------------------------------
# q7e — BINARY (sign) quantization + Hamming-distance top-k: the
# cheapest rung of the quantization ladder (below q78's int8 SQ and
# q75's PQ). Each 64-dim float vector compresses 256x into two 32-bit
# sign words (bit p = 1 iff x_p >= 0 — the classic binary-embedding /
# sign-random-projection code with identity planes); query-to-corpus
# distance is bit_count(xor) per word — pure integer ops, so unlike
# every float-scoring ANN variant the ENTIRE search is hash-exact
# against the oracle (no decimal device, no rows-only retreat).
# Hamming on sign codes estimates the angle (E[d] = 64*theta/pi), so
# ranking tracks cosine ranking; recall vs q70's exact top-k is pinned
# in tests/test_similarity.py.
#
# Scale (100 TB): the code table is 8 bytes/vector (vs 256 B of
# floats) — 10^9 vectors fit in 8 GB, a broadcast-able or
# memory-mapped scan where the float corpus is not; encoding is one
# partial-aggregated pass over the exploded dims; the 8-query probe is
# a broadcast nested loop by DESIGN (q70 precedent — the brute scan IS
# this rung's contract; IVF cells bound it at deployment) whose per
# pair work is 2 xors + 2 popcounts instead of 64 fused
# multiply-adds. Sign-vs-zero is an exact float comparison (no
# arithmetic), identical on both engines.
# --------------------------------------------------------------------------
_BH_TOPK = 10


# The shared CTE `codes` (vec_id, w0, w1): each vector's 64 sign bits
# (x >= 0) over the `dims` table, dims 1-32 in w0 and 33-64 in w1.
_SIGN_CODES = f"""codes AS (
      SELECT vec_id,
             SUM(CASE WHEN pos <= 32 AND x >= 0
                      THEN {sql_shl1("pos - 1")} ELSE 0 END) AS w0,
             SUM(CASE WHEN pos > 32 AND x >= 0
                      THEN {sql_shl1("pos - 33")} ELSE 0 END) AS w1
      FROM dims d
      GROUP BY vec_id
    )"""


def _hamming(a: str, b: str, dialect: str) -> str:
    """INT Hamming distance between the sign codes of aliases `a`, `b`."""
    w0, w1 = (D.bxor(f"{a}.{w}", f"{b}.{w}", dialect) for w in ("w0", "w1"))
    return f"CAST(bit_count({w0}) + bit_count({w1}) AS INT)"


def _binary_hamming_sql(dialect: str) -> str:
    return f"""
    WITH {_SIGN_CODES},
    scored AS (
      SELECT /*+ BROADCAST(q) */
             q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_hamming("q", "c", dialect)} AS hamming
      FROM codes q JOIN codes c
        ON q.vec_id < {_N_QUERIES} AND c.vec_id >= {_N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, hamming
    FROM ranked WHERE rnk <= {_BH_TOPK}
    """


@query(
    "q7e_binary_hamming",
    oracle=oracle_with(_binary_hamming_sql("duckdb"), dims=_dims_sql("duckdb")),
)
def q7e_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(
        spark, sf_dir, _binary_hamming_sql("spark"), dims=_dims_sql("spark")
    )


# --------------------------------------------------------------------------
# q7f — MMR (Maximal Marginal Relevance) diversified re-rank: the
# standard greedy diverse-selection step (Carbonell & Goldstein 1998)
# used by retrieval stacks and LLM data-curation pipelines to avoid
# returning/selecting 10 near-identical items — pick argmax of
# lambda*rel(d) - (1-lambda)*max_{s in selected} sim(d, s), K times.
#
# Spark shape (100 TB): the ONLY corpus-proportional work is the q70
# scoring pass that builds the per-query top-_MMR_POOL shortlist (one
# scan, broadcast query side, window top-k) and the pairwise sims over
# that shortlist — both distributed, both order-pinned folds. The
# greedy itself is inherently sequential-in-K over a QUERY-SET-BOUNDED
# relation (8 queries x 24 candidates x 23 sims — never
# corpus-proportional), so it runs driver-side on the collected
# shortlist, exactly where a production serving stack reranks its
# shortlist. (The pure-SQL chained-CTE form works in DuckDB — the
# oracle below runs it with MATERIALIZED accumulators — but Spark
# inlines each acc_k CTE at every reference, tripling the plan per
# step: 3^10 copies of the scoring pipeline, measured as a driver OOM.
# Collecting the bounded shortlist is the engine's documented
# bounded-metadata pattern, q6b's <=1024-row centroid precedent.)
#
# Determinism/oracle: rel and pairwise sims are the order-pinned
# packed-array double folds (fold_dot/fold_norm2); the MMR score is
# 0.7*rel - 0.3*pen in IEEE double on both sides (Python float ==
# DuckDB DOUBLE op for op); ties break by vec_id; so the ENTIRE greedy
# trajectory is hash-exact (emitted: query_id, rank, vec_id,
# mmr_score).
# --------------------------------------------------------------------------
_MMR_POOL = 24
_MMR_K = 10
_MMR_LAMBDA = "CAST(0.7 AS DOUBLE)"
_MMR_ONE_MINUS = "CAST(0.3 AS DOUBLE)"
# Contract for the driver-side greedy: the collected
# shortlist is _N_QUERIES x _MMR_POOL rel rows + _N_QUERIES x _MMR_POOL^2
# pairwise sims — LINEAR in query count x pool^2, so a future query-set
# or pool increase grows the driver collect silently. The cap below is
# the production ceiling for the driver-greedy regime (~1M rows ≈ tens of
# MB of (q,va,vb,double) tuples — trivially driver-safe); past it q7f
# must fail fast and be reworked as an executor-side per-query greedy
# (groupBy(query_id).applyInPandas, each group's pool^2 sims local to one
# task) instead of growing the collect. Enforced in q7f, pinned in
# tests/test_plans.py.
_MMR_COLLECT_CAP = 1_000_000


def _mmr_collect_rows() -> int:
    """Driver-visible row bound for q7f's shortlist collect."""
    return _N_QUERIES * _MMR_POOL + _N_QUERIES * _MMR_POOL * _MMR_POOL


def _mmr_shortlist_ctes(dialect: str) -> tuple[str, str]:
    """The distributed part, shared by both engines: the CTE list of the
    per-query top-_MMR_POOL shortlist (rel), and the select of its
    pairwise sims over them."""
    ctes = f"""{_norms(dialect)},
    scored AS (
      SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, d.vec_id,
             {fold_dot(dialect, "d.embedding", "q.embedding")}
               / (d.nrm * q.nrm) AS rel
      FROM norms q JOIN norms d
        ON q.vec_id < {_N_QUERIES} AND d.vec_id <> q.vec_id
    ),
    pool AS (
      SELECT query_id, vec_id, rel FROM (
        SELECT query_id, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM scored
      ) pr WHERE rn <= {_MMR_POOL}
    ),
    pemb AS (
      SELECT p.query_id, p.vec_id, p.rel, n.embedding, n.nrm
      FROM pool p JOIN norms n ON n.vec_id = p.vec_id
    )"""
    sims = f"""SELECT a.query_id, a.vec_id AS va, a.rel, b.vec_id AS vb,
           {fold_dot(dialect, "a.embedding", "b.embedding")}
             / (a.nrm * b.nrm) AS sim
    FROM pemb a JOIN pemb b ON b.query_id = a.query_id
                           AND b.vec_id <> a.vec_id"""
    return ctes, sims


def _mmr_shortlist_sql(dialect: str) -> str:
    ctes, sims = _mmr_shortlist_ctes(dialect)
    return f"""
    WITH {ctes}
    {sims}
    """


def _mmr_oracle() -> str:
    steps = []
    steps.append(f"""
    sel1 AS (
      SELECT query_id, vec_id,
             {_MMR_LAMBDA} * rel - {_MMR_ONE_MINUS} * CAST(0 AS DOUBLE)
               AS mmr_score
      FROM (
        SELECT query_id, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM pool
      ) r1 WHERE rn = 1
    ),
    acc1 AS MATERIALIZED (SELECT query_id, vec_id FROM sel1)""")
    for k in range(2, _MMR_K + 1):
        p = k - 1
        steps.append(f"""
    cand{k} AS (
      SELECT p.query_id, p.vec_id, p.rel, MAX(ps.sim) AS pen
      FROM pool p
      JOIN acc{p} a ON a.query_id = p.query_id
      JOIN psim ps ON ps.query_id = p.query_id
                  AND ps.va = p.vec_id AND ps.vb = a.vec_id
      LEFT JOIN acc{p} ex ON ex.query_id = p.query_id
                         AND ex.vec_id = p.vec_id
      WHERE ex.vec_id IS NULL
      GROUP BY p.query_id, p.vec_id, p.rel
    ),
    sel{k} AS (
      SELECT query_id, vec_id, mmr_score FROM (
        SELECT query_id, vec_id,
               {_MMR_LAMBDA} * rel - {_MMR_ONE_MINUS} * pen AS mmr_score,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY {_MMR_LAMBDA} * rel - {_MMR_ONE_MINUS} * pen DESC,
                          vec_id) AS rn
        FROM cand{k}
      ) rk WHERE rn = 1
    ),
    acc{k} AS MATERIALIZED (SELECT query_id, vec_id FROM acc{p}
               UNION ALL SELECT query_id, vec_id FROM sel{k})""")
    picks = "\n      UNION ALL ".join(
        f"SELECT query_id, {k} AS rank, vec_id, mmr_score FROM sel{k}"
        for k in range(1, _MMR_K + 1)
    )
    ctes, sims = _mmr_shortlist_ctes("duckdb")
    return f"""
    WITH {ctes},
    psim AS MATERIALIZED ({sims}),{",".join(steps)}
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, mmr_score
    FROM ({picks}) allp
    """


@query("q7f_mmr_rerank", oracle=_mmr_oracle())
def q7f_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # Regime guard (see _MMR_COLLECT_CAP): the driver-greedy contract is
    # only valid while the shortlist stays a bounded-metadata collect.
    if _mmr_collect_rows() > _MMR_COLLECT_CAP:
        raise ValueError(
            "q7f_mmr_rerank out of driver-greedy regime: shortlist bound "
            f"_N_QUERIES({_N_QUERIES}) * _MMR_POOL({_MMR_POOL}) * "
            f"(1 + _MMR_POOL) = {_mmr_collect_rows()} rows exceeds "
            f"_MMR_COLLECT_CAP={_MMR_COLLECT_CAP}; rework the greedy as an "
            "executor-side per-query applyInPandas before raising the "
            "query set or pool size"
        )
    # distributed shortlist: one corpus scan + bounded pairwise sims
    rows = spark.sql(_mmr_shortlist_sql("spark")).collect()
    rel: dict[tuple[int, int], float] = {}
    sims: dict[tuple[int, int, int], float] = {}
    for r in rows:
        rel[(r.query_id, r.va)] = r.rel
        sims[(r.query_id, r.va, r.vb)] = r.sim
    out = []
    for q in sorted({k[0] for k in rel}):
        cands = sorted(v for (qq, v) in rel if qq == q)
        selected: list[int] = []
        for rank in range(1, _MMR_K + 1):
            best = None  # (score, vec_id)
            for v in cands:
                if v in selected:
                    continue
                pen = max((sims[(q, v, s)] for s in selected), default=None)
                score = (
                    0.7 * rel[(q, v)] - 0.3 * 0.0
                    if pen is None
                    else 0.7 * rel[(q, v)] - 0.3 * pen
                )
                # argmax with vec_id tie-break == the oracle's
                # ROW_NUMBER(ORDER BY score DESC, vec_id)
                if best is None or score > best[0] or (
                    score == best[0] and v < best[1]
                ):
                    best = (score, v)
            if best is None:
                break
            out.append((q, rank, best[1], best[0]))
            selected.append(best[1])
    return spark.createDataFrame(
        out, "query_id bigint, rank int, vec_id bigint, mmr_score double"
    )


# --------------------------------------------------------------------------
# q7g — cosine RADIUS (range) search: every corpus vector within a fixed
# similarity radius of each query, not a fixed top-k. This is the other
# half of the vector-retrieval API surface (FAISS range_search, pgvector
# `<=>` + WHERE): dedup wants "everything closer than tau", not "the 5
# closest", and recall evaluation wants the exact radius set as ground
# truth. Reference analog: none (extension family, BASELINE.json).
#
# Spark shape (100 TB): identical scan shape to q70's brute-force pass —
# the 8-row query side broadcasts, ONE corpus scan computes every dot
# via order-pinned packed-array folds (JVM codegen, no Python, no row
# explosion) — but with NO top-k window at all: the radius predicate is
# a per-row filter, so the corpus never shuffles and the plan is a
# single whole-stage-codegen map over the scan. Output is proportional
# to the true neighbor count (the radius dial), not corpus size.
# Cross-engine equality is exact: both engines fold the same packed
# array left to right (fold_dot/fold_norm2), so cos_sim is bit-identical
# and the >= tau comparison decides identically on both sides.
# --------------------------------------------------------------------------
_RADIUS_TAU = 0.25  # ~2 sigma for this corpus (random gaussian: cos has
# sd ~ 1/sqrt(64) = 0.125), so each query keeps a small true-neighbor set


def _radius_sql(dialect: str) -> str:
    return f"""
    WITH {_norms(dialect)},
    hits AS (
      SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, d.vec_id AS neighbor_id,
             {fold_dot(dialect, "d.embedding", "q.embedding")}
               / (q.nrm * d.nrm) AS cos_sim
      FROM (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}) q
      JOIN norms d ON d.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM hits WHERE cos_sim >= CAST({_RADIUS_TAU} AS DOUBLE)
    """


@query("q7g_radius_search", oracle=_radius_sql("duckdb"))
def q7g_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_radius_sql("spark"))


# --------------------------------------------------------------------------
# q7h — FILTERED ANN (metadata-constrained top-k): each query retrieves
# its top-k only among corpus vectors sharing its label — the
# "filtered vector search" API every production vector store grew
# (pgvector WHERE + ORDER BY embedding, FAISS IDSelector, Milvus/
# Vespa filtered search), and the retrieval mode LLM pipelines use for
# source-/language-/license-constrained example selection.
#
# Spark shape (100 TB): the filter turns q70's nested-loop scan into a
# BroadcastHashJoin ON label — the predicate is the join key, so each
# corpus row meets only the (tiny, broadcast) queries of its own label
# partition and filtered retrieval is CHEAPER than unfiltered, exactly
# as it should be (at scale the same key co-partitions the corpus so
# per-label shards prune before any distance math). Scoring reuses the
# order-pinned fold contract; ranks are per-(query, label) windows over
# the filtered candidate set only.
# --------------------------------------------------------------------------
def _filtered_knn_sql(dialect: str) -> str:
    return f"""
    WITH norms AS (
      SELECT vec_id, label, embedding,
             SQRT({fold_norm2(dialect, "embedding")}) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, d.vec_id AS neighbor_id,
             d.label,
             {fold_dot(dialect, "d.embedding", "q.embedding")}
               / (q.nrm * d.nrm) AS cos_sim
      FROM (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}) q
      JOIN norms d ON d.label = q.label AND d.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, label, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, label, cos_sim
    FROM ranked WHERE rnk <= {_TOP_K}
    """


@query("q7h_filtered_knn", oracle=_filtered_knn_sql("duckdb"))
def q7h_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_filtered_knn_sql("spark"))


# --------------------------------------------------------------------------
# q7i — index-quality RECALL EVALUATION: recall@k of the binary-Hamming
# rung (q7e's sign codes) against the exact cosine baseline (q70's
# brute-force ranking), per query plus the hit count — the monitoring
# query every production ANN deployment runs continuously ("is the
# compressed index still finding what exact search finds?"). Both arms
# are fully deterministic — the Hamming arm is pure integer ops and the
# exact arm is the order-pinned packed-array fold — so unlike the
# float-ordered ANN rungs (q71/q73, rows-only by necessity; q77 is
# fold-exact and oracle-checked) this
# evaluation is itself ORACLE-CHECKED end to end: the whole
# eval-harness arithmetic is value-verified, and the recall floors the
# rows-only rungs are tested against locally are exactly this shape.
#
# Scale (100 TB): the exact arm is one brute scan (the ground-truth
# cost any recall eval pays — at deployment it runs on a SAMPLED query
# set, which is what _N_QUERIES models); the Hamming arm scans 8-byte
# codes; both end in per-query top-k windows over broadcast-joined
# scans, and the final recall join touches k rows per query.
# --------------------------------------------------------------------------
_REC_K = 10  # recall@10 over q7e's Hamming codes (same k as _BH_TOPK)


def _recall_eval_sql(dialect: str) -> str:
    return f"""
    WITH {_SIGN_CODES},
    ham AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rnk
        FROM (
          -- query side as a FILTERED SUBQUERY + broadcast hint (not a
          -- join-condition filter): the literal filter makes the build
          -- side provably bounded for the NLJ audit, and the hint pins
          -- the build side regardless of stats (Catalyst built the
          -- corpus codes side here before — caught by the audit)
          SELECT /*+ BROADCAST(qc) */ qc.vec_id AS query_id,
                 c.vec_id AS neighbor_id,
                 {_hamming("qc", "c", dialect)} AS hamming
          FROM (SELECT * FROM codes WHERE vec_id < {_N_QUERIES}) qc
          JOIN codes c ON c.vec_id >= {_N_QUERIES}
        ) s
      ) r WHERE rnk <= {_REC_K}
    ),
    {_norms(dialect)},
    exact AS (
      -- the broadcast hint lives in its own window-free block: Spark
      -- drops relation hints from blocks it splits around a window
      -- function, and the NLJ build-side audit caught exactly that
      -- (Catalyst had built the CORPUS side)
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM (
          SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, d.vec_id AS neighbor_id,
                 {fold_dot(dialect, "d.embedding", "q.embedding")}
                   / (q.nrm * d.nrm) AS cos_sim
          FROM (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}) q
          JOIN norms d ON d.vec_id >= {_N_QUERIES}
        ) s
      ) r WHERE rnk <= {_REC_K}
    )
    SELECT e.query_id,
           CAST(COUNT(h.neighbor_id) AS INT) AS n_hit,
           CAST({_REC_K} AS INT) AS k,
           CAST(COUNT(h.neighbor_id) AS DOUBLE)
             / CAST({_REC_K} AS DOUBLE) AS recall_at_k
    FROM exact e
    LEFT JOIN ham h ON h.query_id = e.query_id
                   AND h.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@query(
    "q7i_recall_eval",
    oracle=oracle_with(_recall_eval_sql("duckdb"), dims=_dims_sql("duckdb")),
)
def q7i_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _recall_eval_sql("spark"), dims=_dims_sql("spark"))


# --------------------------------------------------------------------------
# q7j — EMBEDDING CENTROID DRIFT between two corpus snapshots: split the
# corpus by vec_id parity (standing in for consecutive ingest snapshots,
# the q5r device applied to vectors), compute each label's per-snapshot
# centroid, and report the cosine similarity between the two centroids —
# the embedding-space distribution-shift monitor a pipeline runs before
# trusting an ANN index or a classifier trained on last month's crawl
# ("did this label's region of embedding space move?"). drift_cos ~ 1
# means the label is stable; the n_a/n_b counts expose volume shift.
#
# Determinism: per-dimension centroid sums accumulate FLOOR(x * 2^36)
# exact integers (the q72 quantization — raw float->decimal casts can
# land on rounding-mode ties across engines, FLOOR of an exact double
# product cannot); the centroid division is one IEEE op; the 64-term
# dot/norm folds run in EXPLICIT dim order on both engines
# (vectors.fold_sum_ordered — the q6g recipe), and sqrt is correctly rounded under IEEE-754, so
# drift_cos is bit-identical. Spark's 0.0 fold init is bit-inert for
# the nonzero first term (the accepted q66 convention). A label absent
# from either half has no centroid to compare and is deliberately
# absent from the output (not silently zeroed).
#
# Scale (100 TB): ONE explode scan (the shared `dims` table) into a
# partial-aggregated (label, dim, half) sum — the shuffle carries
# labels x 64 x 2 metadata rows, not vectors; everything downstream is
# per-label arithmetic on ~128-element lists. No windows, no collects.
# --------------------------------------------------------------------------
def _centroid_drift_sql(dialect: str) -> str:
    return f"""
    WITH halves AS (
      SELECT e.label, d.pos, CAST(d.vec_id % 2 AS INT) AS half,
             CAST(FLOOR(d.x * 68719476736.0) AS BIGINT) AS q
      FROM dims d JOIN embeddings e ON e.vec_id = d.vec_id
    ),
    cents AS (
      SELECT label, pos, half,
             (CAST(SUM(q) AS DOUBLE) / 68719476736.0) / COUNT(*) AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM halves GROUP BY label, pos, half
    ),
    paired AS (
      SELECT a.label, a.pos, a.c AS ca, b.c AS cb, a.n AS na, b.n AS nb
      FROM (SELECT * FROM cents WHERE half = 0) a
      JOIN (SELECT * FROM cents WHERE half = 1) b
        ON a.label = b.label AND a.pos = b.pos
    )
    SELECT label,
           CAST(MIN(na) AS BIGINT) AS n_a,
           CAST(MIN(nb) AS BIGINT) AS n_b,
           {V.fold_sum_ordered(dialect, "ca * cb", "pos")}
             / (SQRT({V.fold_sum_ordered(dialect, "ca * ca", "pos")})
                * SQRT({V.fold_sum_ordered(dialect, "cb * cb", "pos")}))
             AS drift_cos
    FROM paired GROUP BY label
    """


@query(
    "q7j_centroid_drift",
    oracle=oracle_with(_centroid_drift_sql("duckdb"), dims=_dims_sql("duckdb")),
)
def q7j_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(
        spark, sf_dir, _centroid_drift_sql("spark"), dims=_dims_sql("spark")
    )


# --------------------------------------------------------------------------
# q7k — IVF CELL-BALANCE AUDIT: assign the FULL corpus to its nearest
# q73/q7b seed centroid and report the per-cell population histogram
# with share and balance factor (1.0 = perfectly even) — the
# index-health check that decides whether an IVF layout is servable:
# probe latency is proportional to the LARGEST cell a query touches,
# and a skewed assignment (balance >> 1 anywhere) means re-seeding or
# splitting before the index ships. The audit is the measurement twin
# of q9d's range-partition balance check, applied to vector cells.
#
# Spark shape (100 TB): one corpus scan computing 16 named distance
# folds per row + an array_sort argmin — NO per-vector shuffle (the
# q7b recipe: nesting folds in a when-chain would copy each 64-term
# tree per level) — then ONE partial-aggregated groupBy(cell) to 16
# rows; the window stats run on those 16 rows only. Deterministic:
# order-pinned zip_with/list_zip folds (bit-identical to the oracle's
# list_reduce by construction), argmin ties break by cell index, and
# share/balance are single IEEE divisions over exact integers. A cell
# with zero members has no row by construction (COUNT over groups) —
# n_cells in the balance factor counts POPULATED cells, so the audit
# reads identically in both engines either way.
# --------------------------------------------------------------------------
def _cell_balance_oracle() -> str:
    cells = seed_values_sql(_N_CELLS)
    d2 = fold_l2("duckdb", "v.embedding", "c.cemb")
    return f"""
    WITH cw(cell, cwvec_id) AS (VALUES {cells}),
    cwe AS (
      SELECT c.cell, e.embedding AS cemb
      FROM cw c JOIN embeddings e ON e.vec_id = c.cwvec_id
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2}, c.cell) AS rn
        FROM embeddings v CROSS JOIN cwe c
      ) r WHERE rn = 1
    ),
    percell AS (
      SELECT CAST(cell AS INT) AS cell,
             CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM assigned GROUP BY cell
    )
    SELECT cell, n_vecs,
           CAST(n_vecs AS DOUBLE) / SUM(n_vecs) OVER () AS share,
           CAST(n_vecs * COUNT(*) OVER () AS DOUBLE)
             / SUM(n_vecs) OVER () AS balance
    FROM percell
    """


@query("q7k_cell_balance", oracle=_cell_balance_oracle())
def q7k_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, best = nearest_seed(spark, sf_dir, load_table(spark, sf_dir, "embeddings"))
    percell = (
        df.select(best.getField("cell").cast("int").alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    w = Window.partitionBy()
    return percell.select(
        "cell",
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.sum("n_vecs").over(w)).alias(
            "share"
        ),
        (
            (F.col("n_vecs") * F.count(F.lit(1)).over(w)).cast("double")
            / F.sum("n_vecs").over(w)
        ).alias("balance"),
    )


# --------------------------------------------------------------------------
# q7l — PER-DIMENSION VARIANCE PROFILE: mean and variance of
# every embedding dimension in one scan — the PCA/whitening precursor
# and the index-health probe that catches dead or exploding dimensions
# before they poison ANN recall (a dimension with near-zero variance
# wastes PQ codebook capacity; one with outlier variance dominates L2).
#
# Exactness (the hard-won device): raw float->decimal casts can land on
# rounding-mode ties across engines (HALF_UP vs half-even — the q75
# class; an sf10 sweep caught EXACTLY this on this query's first
# dsum-based draft: float32 lanes are coarse dyadics, maximally
# midpoint-prone). So the moments accumulate FLOOR(x * 2^30) /
# FLOOR(x*x * 2^30) exact BIGINTs instead (the q72/q78 quantization:
# x*2^30 and the 48-bit-mantissa x*x*2^30 are exact double products,
# FLOOR is identical in both engines), and the derived mean/variance
# are computed from those integers by ONE shared expression string —
# identical IEEE op order on both sides, bit-identical output. The
# contract is the profile of 2^-30-quantized lanes; overflow regime:
# |sum| <= n * 2^30, exact in BIGINT to n ~ 8.5e9 vectors per dim.
#
# Scale (100 TB): posexplode fans 64 rows per vector but feeds a
# partial-aggregated 64-group groupBy — the shuffle carries 64 rows per
# task, and nothing materializes the exploded set. Output: 64 rows.
# --------------------------------------------------------------------------
_Q7L_Q = 1073741824.0  # 2^30

_Q7L_MEAN = f"CAST(s1 AS DOUBLE) / {_Q7L_Q} / n"
_Q7L_VAR = (
    f"GREATEST(CAST(s2 AS DOUBLE) / {_Q7L_Q}"
    f" - (CAST(s1 AS DOUBLE) / {_Q7L_Q})"
    f" * ((CAST(s1 AS DOUBLE) / {_Q7L_Q}) / n), 0.0) / n"
)


def _q7l_oracle() -> str:
    return f"""
    WITH vals AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    agg AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(v * {_Q7L_Q}) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(FLOOR(v * v * {_Q7L_Q}) AS BIGINT)) AS BIGINT)
               AS s2
      FROM vals GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim, n,
           {_Q7L_MEAN} AS mean_v,
           {_Q7L_VAR} AS var_v
    FROM agg
    """


@query("q7l_dim_variance", oracle=_q7l_oracle())
def q7l_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(F.posexplode("embedding").alias("dim", "vf")).select(
        "dim", F.col("vf").cast("double").alias("v")
    )
    agg = vals.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("v") * _Q7L_Q).cast("bigint"))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.floor(F.col("v") * F.col("v") * _Q7L_Q).cast("bigint"))
        .cast("bigint")
        .alias("s2"),
    )
    return agg.select(
        "dim",
        "n",
        F.expr(_Q7L_MEAN).alias("mean_v"),
        F.expr(_Q7L_VAR).alias("var_v"),
    )


# --------------------------------------------------------------------------
# q7m — GRAPH-ANN (NSW-style neighbor-graph beam search): the one
# mainstream ANN family the quantization
# ladder lacked — search by WALKING a bounded-out-degree neighbor graph
# instead of probing cells (the HNSW/NSW class, public method:
# Malkov & Yashunin 2016, single-layer variant). The graph is q7c's
# cell-blocked kNN edge list made undirected (out-degree ≤ 2·_MKNN_K);
# search is a DETERMINISTIC fixed-iteration beam: frontier_0 = the
# _N_CELLS IVF seed vectors, then _GANN_ROUNDS rounds of
# expand-via-edges → exact cosine rescore → top-_GANN_BEAM by
# (cos DESC, vec_id ASC). The frontier is always its own candidate, so
# beam quality is monotone and frontier_T contains the best vectors
# the walk ever found; the report is recall@_REC_K vs the exact
# top-k — the q7i evaluation shape.
#
# Determinism/oracle: every step is a join + window with exact integer
# tie-breaks; cosines use the order-pinned fold_dot/fold_norm2 doubles
# (the family's q6b float contract — rank flips live in a ~1e-12
# sliver). The output carries only integer counts and one IEEE
# division, so the whole query is ORACLE-CHECKED: DuckDB replays the
# identical graph construction and the identical T unrolled beam
# rounds.
#
# Scale (100 TB): graph build is q7c's banded construction (cells cap
# per-task pair work; digests/ids shuffle, never raw text); each beam
# round touches |queries| × (beam · out-degree) candidate rows — a
# METADATA-sized join against the broadcast query set, T times, with
# one hash-join per round against the (vec_id-keyed) corpus for
# rescoring. Nothing is ever all-pairs; the only corpus-sized work is
# the edge list the index build already paid for.
# --------------------------------------------------------------------------
_GANN_BEAM = 16  # beam width per query per round
_GANN_ROUNDS = 3  # fixed expansion rounds (graph diameter at this K)


def _graph_ann_sql() -> str:
    from tf_datapipeline_spark.operators.semcells import _cells_ctes_sql

    d = "duckdb"
    rounds = []
    for t in range(1, _GANN_ROUNDS + 1):
        rounds.append(f"""
    cand{t} AS (
      SELECT DISTINCT query_id, vec_id FROM (
        SELECT query_id, vec_id FROM beam{t - 1}
        UNION ALL
        SELECT f.query_id, u.vb AS vec_id
        FROM beam{t - 1} f JOIN undirected u ON u.va = f.vec_id
        WHERE u.vb >= {_N_QUERIES}
      ) c
    ),
    beam{t} AS (
      SELECT query_id, vec_id, cos FROM (
        SELECT c.query_id, c.vec_id,
               {fold_dot(d, "n.embedding", "q.embedding")}
                 / (q.nrm * n.nrm) AS cos,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY {fold_dot(d, "n.embedding", "q.embedding")}
                            / (q.nrm * n.nrm) DESC,
                          c.vec_id) AS rn
        FROM cand{t} c
        JOIN gnorms n ON n.vec_id = c.vec_id
        JOIN gnorms q ON q.vec_id = c.query_id
      ) r WHERE rn <= {_GANN_BEAM}
    )""")
    return f"""
    WITH {_cells_ctes_sql()},
    gpairs AS (
      SELECT ca.vec_id AS va, cb.vec_id AS vb,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos
      FROM cells ca
      JOIN cells cb ON cb.cell = ca.cell AND cb.vec_id <> ca.vec_id
      JOIN embeddings a ON a.vec_id = ca.vec_id
      JOIN embeddings b ON b.vec_id = cb.vec_id
    ),
    gedges AS (
      SELECT va, vb FROM (
        SELECT va, vb,
               ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
        FROM gpairs
      ) r WHERE rn <= {_MKNN_K}
    ),
    undirected AS (
      SELECT va, vb FROM gedges
      UNION
      SELECT vb AS va, va AS vb FROM gedges
    ),
    gnorms AS (
      SELECT vec_id, embedding, SQRT({fold_norm2(d, "embedding")}) AS nrm
      FROM embeddings
    ),
    beam0 AS (
      SELECT q.vec_id AS query_id, s.vec_id
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < {_N_QUERIES}) q,
           (SELECT vec_id FROM embeddings
            WHERE vec_id >= 8 AND (vec_id - 8) % {_CENTROID_STRIDE} = 0
              AND (vec_id - 8) // {_CENTROID_STRIDE} < {_N_CELLS}) s
    ),
    {", ".join(rounds)},
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY s.cos_sim DESC, s.vec_id) AS rnk
        FROM (
          SELECT q.vec_id AS query_id, d2.vec_id,
                 {fold_dot(d, "d2.embedding", "q.embedding")}
                   / (q.nrm * d2.nrm) AS cos_sim
          FROM (SELECT * FROM gnorms WHERE vec_id < {_N_QUERIES}) q
          JOIN gnorms d2 ON d2.vec_id >= {_N_QUERIES}
        ) s
      ) r WHERE rnk <= {_REC_K}
    )
    SELECT e.query_id,
           CAST(COUNT(b.vec_id) AS INT) AS n_hit,
           CAST({_REC_K} AS INT) AS k,
           CAST(COUNT(b.vec_id) AS DOUBLE)
             / CAST({_REC_K} AS DOUBLE) AS recall_at_k
    FROM exact e
    LEFT JOIN (SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id) AS rn
                 FROM beam{_GANN_ROUNDS}
               ) t WHERE rn <= {_REC_K}) b
      ON b.query_id = e.query_id AND b.vec_id = e.neighbor_id
    GROUP BY e.query_id
    """


@query("q7m_graph_ann", oracle=_graph_ann_sql())
def q7m_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = V.norm2("embedding")
    gnorms = emb.select("vec_id", "embedding", F.sqrt(norm2).alias("nrm"))
    queries = gnorms.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    edges = _mknn_edges(spark, sf_dir)
    undirected = (
        edges.union(edges.select(F.col("vb").alias("va"), F.col("va").alias("vb")))
        .distinct()
        .localCheckpoint()  # O(K·n) edge metadata, reused every round
    )
    # seed ids are a LITERAL grid (the q73/q77 convention) — isin pushes
    # In(vec_id, ...) into the scan, so the beam0 cross product's build
    # side is provably bounded by the query text (the stride-arithmetic
    # filter form hid that bound from the scan AND the NLJ audit)
    ids = seed_ids(_N_CELLS)

    dot = V.dot("embedding", "q_emb")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    # Hop-superset prescore (A/B in OPTIMIZATION_r12.md) instead of an
    # unrolled per-round rescore. The beam can only ever visit nodes
    # within _GANN_ROUNDS edge-hops of the seed set — a reachable set
    # derivable from edge METADATA alone, bounded by seeds · out_degree^T
    # regardless of corpus size — so ONE corpus pass (semi-joined down to
    # the reachable set, then scored against the broadcast query set)
    # replaces the three per-round corpus rescore joins, and the
    # per-round subtrees bottom out in the bounded `scored` checkpoint
    # instead of corpus exchanges (the unrolled plan: 2167 lines / 134
    # Exchange mentions, 4.1 MiB task binaries; the matched-window A/B
    # measured the shapes wall-equal at sf0.1 — the shared edge build
    # dominates there — and the one-scan shape is the strictly better
    # scaling term). A per-round corpus-side localCheckpoint was measured
    # slow because each round RE-SHUFFLED the corpus side; here no round
    # touches the corpus at all.
    seed_rel = spark.sql(
        "SELECT CAST(vec_id AS BIGINT) AS vec_id FROM VALUES "
        + ", ".join(f"({i})" for i in ids)
        + " AS t(vec_id)"
    )  # LocalTableScan: structurally bounded for the NLJ audit
    reach = seed_rel
    frontier = reach
    for _ in range(_GANN_ROUNDS):
        # frontier/reach stay metadata-sized: broadcast them into the
        # edge join so the O(K·n) edge table is never shuffled
        frontier = (
            undirected.join(
                F.broadcast(frontier), undirected.va == frontier.vec_id
            )
            .filter(F.col("vb") >= _N_QUERIES)
            .select(F.col("vb").alias("vec_id"))
            .distinct()
        )
        reach = reach.unionAll(frontier).distinct()
    scored = (
        gnorms.join(F.broadcast(reach), "vec_id")
        .crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "vec_id",
            (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim"),
        )
        .localCheckpoint()  # |reach| × |queries| rows — bounded
    )
    # literal seed relation (LocalTableScan — structurally bounded for
    # the NLJ audit; a seed id absent from the corpus would drop at the
    # first scored join either way, so this equals the old
    # corpus-filtered seed set row-for-row)
    beam = queries.select("query_id").crossJoin(F.broadcast(seed_rel))
    for _ in range(_GANN_ROUNDS):
        cand = (
            beam.select("query_id", "vec_id")
            .unionAll(
                undirected.join(
                    F.broadcast(beam), beam.vec_id == undirected.va
                )
                .filter(F.col("vb") >= _N_QUERIES)
                .select("query_id", F.col("vb").alias("vec_id"))
            )
            .distinct()
        )
        beam = (
            cand.join(scored, ["query_id", "vec_id"])
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _GANN_BEAM)
            .select("query_id", "vec_id", "cos_sim")
            # ≤ queries × _GANN_BEAM rows: checkpointing per round keeps
            # the plan from doubling (cand references beam twice) at the
            # cost of three tiny jobs — matched-window A/B: hop_ckpt
            # 5.21 vs unrolled 5.25 vs per-round rescore 5.25 (min-of-4,
            # quiet)
            .localCheckpoint()
        )
    found = beam.withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") <= _REC_K).select("query_id", "vec_id")

    exact_scored = gnorms.filter(F.col("vec_id") >= _N_QUERIES).join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cos_sim"),
    )
    exact = (
        exact_scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _REC_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    hit = found.select(
        F.col("query_id").alias("h_qid"), F.col("vec_id").alias("h_vid")
    )
    return (
        exact.join(
            hit,
            (F.col("h_qid") == F.col("query_id"))
            & (F.col("h_vid") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("h_vid").cast("int").alias("n_hit"),
            F.lit(_REC_K).cast("int").alias("k"),
            (
                F.count("h_vid").cast("double") / F.lit(float(_REC_K))
            ).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# q7n — FARTHEST-FIRST CENTROID INITIALIZATION: the k-means++
# style seeding rung the training ladder lacked — q73/q74 take their
# seeds from a FIXED id grid, but a production index build initializes
# centroids from the data (Arthur & Vassilvitskii 2007; the maximin
# variant of Gonzalez 1985 is its deterministic core). Round k picks the
# corpus vector MAXIMIZING the min squared L2 distance to the already-
# chosen set, ties broken by vec_id ASC; the output is the K-row pick
# ledger (round, vec_id, the maximin distance at pick time) that q74's
# Lloyd step would consume as its seed table.
#
# Exactness: distances are the order-pinned fold_l2 doubles (the q74
# contract); the running min uses LEAST (exact on doubles); the argmax
# is a (md DESC, vec_id ASC) total order both engines replay. The seed
# row's maximin_d2 is NULL by construction (no chosen set yet).
#
# Spark shape (100 TB): K-1 rounds, each ONE corpus scan with a
# broadcast 1-row centroid (no shuffle — the running-min column is
# updated in place and localCheckpoint bounds the lineage so round k
# does not recompute rounds 1..k-1), then ONE bounded driver collect of
# the single best row (the q7f bounded-shortlist convention; K rows
# total). Contrast with a naive all-pairs k-means++ — this is O(K·n)
# distance work, the same asymptotics the scalable k-means|| paper
# (Bahmani 2012) buys its oversampling rounds with.
# --------------------------------------------------------------------------
_FF_K = 8  # centroids to select (seed + 7 maximin rounds)
_FF_SEED = 8  # first centroid: the q73 seed-grid origin


def _farthest_first_ctes() -> str:
    """q7n's maximin chain as a CTE list: m1/p1 .. m7/p7, where p{k} is
    round k's one-row pick (vec_id, md); qt6's oracle seeds from it."""
    d = "duckdb"
    parts = [
        f"""m1 AS (
      SELECT v.vec_id, {fold_l2(d, "v.embedding", "c.embedding")} AS md
      FROM embeddings v JOIN embeddings c ON c.vec_id = {_FF_SEED}
    ),
    p1 AS (SELECT vec_id, md FROM m1 ORDER BY md DESC, vec_id LIMIT 1)"""
    ]
    for k in range(2, _FF_K):
        parts.append(f"""m{k} AS (
      SELECT v.vec_id,
             LEAST(m{k - 1}.md,
                   {fold_l2(d, "v.embedding", "c.embedding")}) AS md
      FROM m{k - 1} JOIN embeddings v ON v.vec_id = m{k - 1}.vec_id
      JOIN embeddings c ON c.vec_id = (SELECT vec_id FROM p{k - 1})
    ),
    p{k} AS (SELECT vec_id, md FROM m{k} ORDER BY md DESC, vec_id LIMIT 1)""")
    return ",\n    ".join(parts)


def _farthest_first_sql() -> str:
    picks = "\n    UNION ALL ".join(
        f"SELECT {k} AS rnd, vec_id, md FROM p{k}"
        for k in range(1, _FF_K)
    )
    return f"""
    WITH {_farthest_first_ctes()}
    SELECT CAST(rnd AS INT) AS rnd, CAST(vec_id AS BIGINT) AS vec_id,
           CAST(md AS DOUBLE) AS maximin_d2
    FROM (
      SELECT 0 AS rnd, CAST({_FF_SEED} AS BIGINT) AS vec_id,
             CAST(NULL AS DOUBLE) AS md
      UNION ALL {picks}
    ) ledger
    """


def _farthest_first_picks(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, float | None]]:
    """The maximin selection loop behind q7n, returning the K-row pick
    ledger [(rnd, vec_id, maximin_d2)] — shared with qt6's index-build
    composite, which seeds its assignment stage from these picks."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") == _FF_SEED).select(
        F.col("embedding").alias("cemb")
    )
    cur = emb.crossJoin(F.broadcast(seed)).select(
        "vec_id",
        "embedding",
        F.expr(fold_l2("spark", "embedding", "cemb")).alias("md"),
    )
    picks: list[tuple] = [(0, _FF_SEED, None)]
    for k in range(1, _FF_K):
        cur = cur.localCheckpoint()
        top = (
            cur.orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )  # bounded: ONE row per round, K-1 rounds total
        picks.append((k, top["vec_id"], top["md"]))
        if k < _FF_K - 1:
            cdf = spark.createDataFrame(
                [([float(x) for x in top["embedding"]],)],
                "cemb array<double>",
            )
            cur = cur.crossJoin(F.broadcast(cdf)).select(
                "vec_id",
                "embedding",
                F.least(
                    F.col("md"),
                    F.expr(fold_l2("spark", "embedding", "cemb")),
                ).alias("md"),
            )
    return picks


@query("q7n_farthest_first_init", oracle=_farthest_first_sql())
def q7n_farthest_first_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    picks = _farthest_first_picks(spark, sf_dir)
    return spark.createDataFrame(
        picks, "rnd int, vec_id bigint, maximin_d2 double"
    )


# --------------------------------------------------------------------------
# q7o — IVF PROBE-COUNT TUNING CURVE: the ANN twin of q6k's
# LSH S-curve calibration — the recall-vs-cost table an operator reads
# before picking nprobe in production. For each probe budget p in
# {1, 2, 4, 8, 16}, every query searches only the corpus vectors whose
# nearest seed cell ranks within its top-p cells; the row reports the
# candidate volume (the cost axis) and recall@k vs the exact top-k
# (the quality axis). p = 16 probes every cell, so its recall row is
# exactly 1 — a built-in self-check the invariant test pins.
#
# Determinism/oracle: cell assignment and query cell ranking both use
# the order-pinned fold_l2 doubles with integer tie-breaks (the q74
# contract — no numpy/BLAS in the assignment path, unlike rows-only
# q73); rescoring uses fold_dot cosines; the only divisions are the
# two per-row IEEE ratios. One dialect-parameterized SQL body drives
# both engines.
#
# Scale (100 TB): assignment is the q74 shape (corpus x 16 broadcast
# centroids, one argmin window partitioned per vector); each probe
# level reuses ONE shared (query, candidate) cosine table — the level
# join multiplies metadata (5 levels x prank filter), not rescoring
# work. Cost is ~2x the corpus in fold_dot evaluations for the full
# curve (sum of probed fractions), vs 16x if each level rescored
# independently.
# --------------------------------------------------------------------------
_PROBE_LEVELS = (1, 2, 4, 8, 16)


def _ivf_scored_sql(dialect: str) -> str:
    """The shared table `scored` (query_id, vec_id, prank, cos): the
    corpus-proportional part of the probe curve (assignment + query
    cell ranking + ONE rescore), read by both the per-level top-k
    window and the per-level candidate counts."""
    return f"""
    WITH {_CELL_CENTERS},
    nrm AS (
      SELECT vec_id, embedding,
             SQRT({fold_norm2(dialect, "embedding")}) AS n
      FROM embeddings
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT /*+ BROADCAST(c) */ v.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {fold_l2(dialect, "v.embedding", "c.cemb")},
                                           c.cell) AS rn
        FROM embeddings v CROSS JOIN cente c
        WHERE v.vec_id >= {_N_QUERIES}
      ) r WHERE rn = 1
    ),
    qcells AS (
      SELECT query_id, cell, prank FROM (
        SELECT /*+ BROADCAST(c) */ q.vec_id AS query_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {fold_l2(dialect, "q.embedding", "c.cemb")},
                                           c.cell) AS prank
        FROM embeddings q CROSS JOIN cente c
        WHERE q.vec_id < {_N_QUERIES}
      ) r
    )
    SELECT /*+ BROADCAST(qc) */ qc.query_id, a.vec_id, qc.prank,
           {fold_dot(dialect, "vn.embedding", "qn.embedding")}
             / (qn.n * vn.n) AS cos
    FROM qcells qc
    JOIN assign a ON a.cell = qc.cell
    JOIN nrm vn ON vn.vec_id = a.vec_id
    JOIN nrm qn ON qn.vec_id = qc.query_id
    """


def _ivf_probe_body(dialect: str) -> str:
    """The probe curve over the shared table `scored`."""
    levels = ", ".join(f"({p})" for p in _PROBE_LEVELS)
    return f"""
    WITH nrm AS (
      SELECT vec_id, embedding,
             SQRT({fold_norm2(dialect, "embedding")}) AS n
      FROM embeddings
    ),
    levels(p) AS (VALUES {levels}),
    found AS (
      SELECT p, query_id, vec_id FROM (
        SELECT l.p, s.query_id, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY l.p, s.query_id
                                  ORDER BY s.cos DESC, s.vec_id) AS rnk
        FROM scored s JOIN levels l ON s.prank <= l.p
      ) r WHERE rnk <= {_REC_K}
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT /*+ BROADCAST(qn) */
               qn.vec_id AS query_id, vn.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qn.vec_id
                 ORDER BY {fold_dot(dialect, "vn.embedding", "qn.embedding")}
                            / (qn.n * vn.n) DESC,
                          vn.vec_id) AS rnk
        FROM (SELECT * FROM nrm WHERE vec_id < {_N_QUERIES}) qn
        JOIN (SELECT * FROM nrm WHERE vec_id >= {_N_QUERIES}) vn ON 1 = 1
      ) r WHERE rnk <= {_REC_K}
    ),
    hits AS (
      SELECT f.p, CAST(COUNT(*) AS BIGINT) AS nh
      FROM found f JOIN exact e
        ON e.query_id = f.query_id AND e.vec_id = f.vec_id
      GROUP BY 1
    ),
    cands AS (
      SELECT l.p, CAST(COUNT(*) AS BIGINT) AS nc
      FROM scored s JOIN levels l ON s.prank <= l.p
      GROUP BY 1
    )
    SELECT CAST(c.p AS INT) AS nprobe,
           CAST({_N_QUERIES} AS BIGINT) AS n_queries,
           c.nc AS n_candidates,
           CAST(c.nc AS DOUBLE) / {_N_QUERIES} AS avg_candidates,
           COALESCE(h.nh, 0) AS n_hits,
           CAST(COALESCE(h.nh, 0) AS DOUBLE)
             / {_N_QUERIES * _REC_K} AS recall_at_k
    FROM cands c LEFT JOIN hits h ON h.p = c.p
    """


@query(
    "q7o_ivf_probe_curve",
    oracle=oracle_with(_ivf_probe_body("duckdb"), scored=_ivf_scored_sql("duckdb")),
)
def q7o_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(
        spark, sf_dir, _ivf_probe_body("spark"), scored=_ivf_scored_sql("spark")
    )


# --------------------------------------------------------------------------
# qt6 — INDEX-BUILD COMPOSITE: the end-to-end ANN training
# pipeline in one oracle-checked query — data-adaptive seeding (q7n's
# farthest-first maximin picks) feeding a Lloyd assignment + quantized
# centroid recompute (q74's step) over the picked seeds instead of the
# fixed id grid. This is the composite a production index build runs
# before q73/q77 serve queries: seeds -> assign -> retrain. Output is
# q74's (cell, dim, centroid, n_members) table, cells numbered by pick
# round.
#
# Engine split: Spark runs the q7n selection loop (K-1 broadcast scans,
# localCheckpoint-bounded) and inlines the picked ids as a literal
# seeds table for the assignment SQL; the DuckDB oracle derives the
# SAME seeds declaratively (the q7n CTE chain) and chains the
# assignment onto them — so seed selection AND the downstream
# assignment/means are one cross-engine value check. All arithmetic is
# the family's exactness kit: order-pinned fold_l2 distances, integer
# tie-breaks, FLOOR·2^36-quantized means.
#
# Scale (100 TB): selection is O(K·n) distance work (q7n's shape);
# assignment is q74's shape — K packed broadcast centroids against one
# corpus scan, argmin window partitioned per vector, one partial-agged
# rollup. No stage materializes more than the K-row seed ledger on the
# driver.
# --------------------------------------------------------------------------
def _index_build_tail(dialect: str) -> str:
    return f"""
    dims AS ({_dims_sql(dialect)}),
    scente AS (
      SELECT s.cell, e.embedding AS cemb
      FROM seeds s JOIN embeddings e ON e.vec_id = s.svec
    ),
    bdists AS (
      SELECT /*+ BROADCAST(c) */ v.vec_id, c.cell,
             {fold_l2(dialect, "v.embedding", "c.cemb")} AS d2
      FROM embeddings v CROSS JOIN scente c
    ),
    bassign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS rn
        FROM bdists
      ) ranked WHERE rn = 1
    )
    SELECT a.cell, CAST(d.pos AS INT) AS dim,
           (CAST(SUM(CAST(FLOOR(d.x * 68719476736.0) AS BIGINT)) AS DOUBLE)
              / 68719476736.0) / COUNT(*) AS centroid,
           COUNT(*) AS n_members
    FROM dims d JOIN bassign a ON a.vec_id = d.vec_id
    GROUP BY 1, 2
    """


def _index_build_oracle() -> str:
    seed_rows = "\n      UNION ALL ".join(
        [f"SELECT 0 AS cell, CAST({_FF_SEED} AS BIGINT) AS svec"]
        + [
            f"SELECT {k}, vec_id FROM p{k}"
            for k in range(1, _FF_K)
        ]
    )
    return f"""
    WITH {_farthest_first_ctes()},
    seeds AS (
      {seed_rows}
    ),
    {_index_build_tail("duckdb")}
    """


@query("qt6_index_build", oracle=_index_build_oracle())
def qt6_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    picks = _farthest_first_picks(spark, sf_dir)
    seeds = ", ".join(f"({rnd}, {vid})" for rnd, vid, _ in picks)
    body = f"""
    WITH seeds(cell, svec) AS (VALUES {seeds}),
    {_index_build_tail("spark")}
    """
    return sql_with(spark, sf_dir, body)


# --------------------------------------------------------------------------
# q7p — SILHOUETTE AUDIT of the IVF cell assignment: the
# cluster-quality rung the index family lacked — q7k counts cell sizes
# (balance), q7j tracks centroid drift, but neither says whether the
# PARTITIONING ITSELF is any good. The (centroid-based) silhouette does:
# per vector, a = L2 distance to its own (nearest) centroid, b = L2 to
# the runner-up centroid, s = (b - a) / max(a, b) in [0, 1] here (a is
# the argmin, so a <= b). Cells full of s ~ 0 vectors sit on cell
# boundaries — exactly the vectors an nprobe=1 search loses (q7o's
# recall curve quantifies the loss; q7p localizes WHICH cells cause it).
# This is the standard medoid/centroid simplification of the full
# silhouette — the all-pairs a/b (O(n^2) at corpus scale) is replaced by
# distance-to-centroid, the form every large-scale clustering audit
# ships.
#
# Exactness: squared distances are the order-pinned fold_l2 doubles;
# a/b are single SQRT ops (correctly rounded IEEE in both engines);
# s is one subtract + one divide. The per-cell mean goes through the
# FLOOR * 2^36 integer-quantization device (q74's convention) so the
# aggregate is order-independent and engine-exact.
#
# Spark shape (100 TB): ONE corpus scan cross-joins the 16-row
# broadcast-pinned centroid table (bounded build, the q74 shape); the
# argmin/runner-up come from a vec_id-partitioned rank window (rows
# per group = 16); the rollup is one partial-aggregated shuffle keyed
# on cell. No all-pairs anything, no driver state.
# --------------------------------------------------------------------------
_SIL_Q = 68719476736.0  # 2^36 — the shared mean-quantization device


def _silhouette_sql(dialect: str) -> str:
    return f"""
    WITH {_CELL_CENTERS},
    dists AS (
      SELECT /*+ BROADCAST(c) */ v.vec_id, c.cell,
             {fold_l2(dialect, "v.embedding", "c.cemb")} AS d2
      FROM embeddings v CROSS JOIN cente c
    ),
    ranked AS (
      SELECT vec_id, cell, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, cell) AS rn
      FROM dists
    ),
    sil AS (
      SELECT o.vec_id, o.cell,
             (SQRT(r.d2) - SQRT(o.d2))
               / CASE WHEN SQRT(r.d2) > SQRT(o.d2)
                      THEN SQRT(r.d2) ELSE SQRT(o.d2) END AS s
      FROM (SELECT vec_id, cell, d2 FROM ranked WHERE rn = 1) o
      JOIN (SELECT vec_id, d2 FROM ranked WHERE rn = 2) r
        ON r.vec_id = o.vec_id
    )
    SELECT CAST(cell AS INT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           (CAST(SUM(CAST(FLOOR(s * {_SIL_Q}) AS BIGINT)) AS DOUBLE)
              / {_SIL_Q}) / COUNT(*) AS avg_silhouette,
           MIN(s) AS min_silhouette,
           MAX(s) AS max_silhouette
    FROM sil GROUP BY 1
    """


@query("q7p_silhouette", oracle=_silhouette_sql("duckdb"))
def q7p_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # Spark side: an rn=1 / rn=2 self-join would re-derive the (corpus x
    # 16 broadcast centroids) distance table + window twice (plain CTEs
    # inline). The two smallest (d2, cell) pairs per
    # vector are just the first two elements of the 16-element sorted
    # struct array — ONE window-free aggregate pass; array_sort on
    # (d2, cell) structs replays exactly the ROW_NUMBER order, so a/b
    # and every downstream value are identical to the oracle's
    # self-join form.
    return spark.sql(f"""
    WITH {_CELL_CENTERS},
    dists AS (
      SELECT /*+ BROADCAST(c) */ v.vec_id, c.cell,
             {fold_l2("spark", "v.embedding", "c.cemb")} AS d2
      FROM embeddings v CROSS JOIN cente c
    ),
    two AS (
      SELECT vec_id,
             array_sort(collect_list(named_struct('d2', d2, 'cell', cell)))
               AS ds
      FROM dists GROUP BY vec_id
    ),
    sil AS (
      SELECT vec_id, ds[0].cell AS cell,
             (SQRT(ds[1].d2) - SQRT(ds[0].d2))
               / CASE WHEN SQRT(ds[1].d2) > SQRT(ds[0].d2)
                      THEN SQRT(ds[1].d2) ELSE SQRT(ds[0].d2) END AS s
      FROM two
    )
    SELECT CAST(cell AS INT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           (CAST(SUM(CAST(FLOOR(s * {_SIL_Q}) AS BIGINT)) AS DOUBLE)
              / {_SIL_Q}) / COUNT(*) AS avg_silhouette,
           MIN(s) AS min_silhouette,
           MAX(s) AS max_silhouette
    FROM sil GROUP BY 1
    """)
