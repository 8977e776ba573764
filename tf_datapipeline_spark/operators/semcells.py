"""Corpus-scaled semantic cell assignment — the shared blocking surface.

The capped-coarse + in-group-fine hierarchy that q6b (semantic dedup,
operators/dedup.py) broadcasts and q7c (mutual-kNN, operators/
similarity.py) blocks on. Lives in its own module so both can import it
without a dedup<->similarity cycle (each of those imports the other's
helpers lazily inside function bodies).

Scale contract (see the q6b block comment in dedup.py for the full
derivation): cell count grows as max(16, n/128) so per-cell population
stays ~128 vectors regardless of corpus size; the driver only ever
materializes the _COARSE_CAP-capped coarse level; the residual fine
split happens executor-side inside each coarse group. The DuckDB twin
(_cells_ctes_sql) replays the identical assignment in pure SQL, so any
query blocking on these cells stays hash-exact across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.functions import vectors as V

_COARSE_CAP = 1024  # corpus-INDEPENDENT ceiling on driver-collected /
                    # broadcast centroid rows (tests/test_plans.py pins it)


def _semantic_cells_config(n_vecs: int) -> tuple[int, int, int]:
    """(n_cells_target, k1, n_fine_per) for a corpus of ``n_vecs`` vectors.

    target grows with the corpus so per-cell population stays ~128; the
    coarse level k1 is capped at _COARSE_CAP (the only part the driver
    ever materializes); n_fine_per = ceil(target / k1) sub-cells are
    split executor-side inside each coarse group. n_fine_per == 1 (any
    corpus below ~_COARSE_CAP*128 vectors) degenerates to the flat
    single-level assignment q68 uses."""
    target = max(16, n_vecs // 128)
    k1 = min(target, _COARSE_CAP)
    n_fine_per = -(-target // k1)
    return target, k1, n_fine_per


def _cells_ctes_sql() -> str:
    """CTE chain ``cfg .. cells`` replaying the capped-coarse +
    in-group-fine cell assignment in pure SQL (cell count computed from
    COUNT(*), coarse centroids = stride seeds below the cap, fine
    centroids = every step-th row of the coarse group ordered by
    vec_id). Shared by q6b's oracle here and q7c's mutual-kNN oracle
    (similarity.py) — both engines block on the IDENTICAL cells."""
    from tf_datapipeline_spark.operators.similarity import _CENTROID_STRIDE

    s = _CENTROID_STRIDE
    return f"""cfg AS (
      SELECT GREATEST(16, COUNT(*) // 128) AS target,
             LEAST(GREATEST(16, COUNT(*) // 128), {_COARSE_CAP}) AS k1
      FROM embeddings
    ),
    cfg2 AS (
      SELECT target, k1,
             CAST(CEIL(CAST(target AS DOUBLE) / k1) AS BIGINT) AS n_fine
      FROM cfg
    ),
    cent AS (
      SELECT CAST((e.vec_id - 8) // {s} AS INTEGER) AS coarse,
             CAST(e.embedding AS DOUBLE[]) AS cvec
      FROM embeddings e, cfg2
      WHERE e.vec_id >= 8 AND (e.vec_id - 8) % {s} = 0
        AND (e.vec_id - 8) // {s} < cfg2.k1
    ),
    csim AS (
      -- cosine projected BEFORE the argmax window so the n x k1
      -- intermediate carries (vec_id, coarse, cos) — ~20 bytes/row —
      -- not the 0.5 KB embedding lists (the inline form spilled ~200 GB
      -- at the 200k-vector sf10 replica)
      SELECT v.vec_id, c.coarse,
             list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cvec)
               AS cos_c
      FROM embeddings v CROSS JOIN cent c
    ),
    casg AS (
      SELECT vec_id, coarse FROM (
        SELECT vec_id, coarse,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY cos_c DESC, coarse) AS rn
        FROM csim
      ) r WHERE rn = 1
    ),
    grp AS (
      SELECT vec_id, coarse,
             ROW_NUMBER() OVER (PARTITION BY coarse ORDER BY vec_id) - 1
               AS gpos,
             COUNT(*) OVER (PARTITION BY coarse) AS gsz
      FROM casg
    ),
    fcfg AS (
      SELECT g.coarse,
             LEAST(c.n_fine, g.gsz) AS n_f,
             GREATEST(1, g.gsz // LEAST(c.n_fine, g.gsz)) AS step
      FROM (SELECT DISTINCT coarse, gsz FROM grp) g, cfg2 c
    ),
    fcent AS (
      SELECT g.coarse, CAST(g.gpos // f.step AS INTEGER) AS fine,
             CAST(e.embedding AS DOUBLE[]) AS fvec
      FROM grp g
      JOIN fcfg f ON f.coarse = g.coarse
      JOIN embeddings e ON e.vec_id = g.vec_id
      WHERE g.gpos % f.step = 0 AND g.gpos // f.step < f.n_f
    ),
    fsim AS (
      SELECT g.vec_id, g.coarse, fc.fine,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), fc.fvec)
               AS cos_f
      FROM grp g
      JOIN embeddings e ON e.vec_id = g.vec_id
      JOIN fcent fc ON fc.coarse = g.coarse
    ),
    cells AS (
      SELECT vec_id, CAST(coarse * n_fine + fine AS INTEGER) AS cell FROM (
        SELECT f.vec_id, f.coarse, f.fine, c2.n_fine,
               ROW_NUMBER() OVER (
                 PARTITION BY f.vec_id
                 ORDER BY f.cos_f DESC, f.fine) AS rn
        FROM fsim f CROSS JOIN cfg2 c2
      ) r WHERE rn = 1
    )"""


def semantic_cells_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm, cell) under the corpus-scaled capped-
    coarse + in-group-fine cell assignment — the shared blocking surface
    for q6b (in-cell near-dup pairs) and q7c (in-cell mutual-kNN,
    similarity.py). Oracle twin: :func:`_cells_ctes_sql`."""
    from tf_datapipeline_spark.operators.similarity import _CENTROID_STRIDE

    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()  # parquet-footer metadata count: config scalar only
    _target, k1, n_fine = _semantic_cells_config(n_vecs)

    s = _CENTROID_STRIDE
    cid = F.floor((F.col("vec_id") - 8) / s)
    cent_rows = (
        emb.filter(
            (F.col("vec_id") >= 8)
            & ((F.col("vec_id") - 8) % s == 0)
            & (cid < k1)
        )
        .select(cid.cast("int").alias("coarse"), "embedding")
        .collect()
    )  # <= _COARSE_CAP rows by the filter itself — corpus-independent
    cent_rows.sort(key=lambda r: r.coarse)
    cell_ids = np.array([r.coarse for r in cent_rows], dtype=np.int32)
    cents = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in cent_rows]
    )
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast((cell_ids, cents))

    @F.pandas_udf("int")
    def coarse_udf(emb_col: pd.Series) -> pd.Series:
        ids, m = bc.value
        mat = np.stack(emb_col.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(ids[np.argmax(mat @ m.T, axis=1)])

    norm = F.sqrt(V.norm2("embedding"))
    cv0 = emb.select(
        "vec_id",
        "embedding",
        norm.alias("nrm"),
        coarse_udf("embedding").alias("coarse"),
    )
    if n_fine == 1:
        cv = cv0.select(
            "vec_id", "embedding", "nrm", F.col("coarse").alias("cell")
        )
    else:
        # Executor-side residual split, TWO-PASS (a one-pass shape, one
        # applyInPandas per coarse group, materializes the whole group —
        # n/k1 vectors, ~500 MB/task at 10^9 vectors, OOM past 10^10).
        #
        # Pass A (pure SQL, no Python): stride-pick each coarse group's
        # fine-centroid vec_ids over a NARROW (vec_id, coarse) window —
        # 12 bytes/row through the shuffle, not the 0.5 KB vectors —
        # fetch the picked vectors by an equi-join back to the corpus
        # (~target rows, AQE broadcasts it when small), and pack each
        # coarse group's centroids into ONE row (fine-sorted struct
        # array, n_f x 64 floats).
        # Pass B: sub-split every coarse group _FSPLIT ways by vec_id,
        # replicate its (tiny) centroid-block row to each sub-split, and
        # assign by cogrouped local matmul. Per-task memory is now
        # group/_FSPLIT rows + one n_f x 64 block — both ~n/ (k1*128)
        # vectors, the per-cell population constant, instead of the whole
        # group; nothing scales with corpus size until n_f itself does
        # (~4 MB blocks at 10^9 vectors, ~400 MB at 10^11 — two orders
        # past the one-pass shape's wall).
        # Cost of the bound: the coarse pandas-UDF assignment runs in
        # both passes (cv0 is referenced twice, uncached), one extra
        # corpus-scan + matmul — the documented memory-for-compute trade.
        #
        # The oracle's grp/fcfg/fcent CTEs replay the identical stride
        # picks; ties in the argmax break to the LOWEST fine id on both
        # engines (blocks are fine-sorted, np.argmax keeps the first
        # max; the oracle orders by cos_f DESC, fine).
        from pyspark.sql import Window

        _FSPLIT = 128

        # pcoarse/pvid aliases give the centroid-pick chain fresh
        # attribute ids — both cogroup sides descend from cv0, and Spark
        # rejects the shared-lineage `coarse` as an ambiguous self-join
        # otherwise.
        w = Window.partitionBy("pcoarse").orderBy("pvid")
        wc = Window.partitionBy("pcoarse")
        pos = (
            cv0.select(
                F.col("vec_id").alias("pvid"),
                F.col("coarse").alias("pcoarse"),
            )
            .withColumn("gpos", F.row_number().over(w) - F.lit(1))
            .withColumn("gsz", F.count(F.lit(1)).over(wc))
            .withColumn("n_f", F.least(F.lit(n_fine), F.col("gsz")))
            .withColumn(
                "step",
                F.greatest(
                    F.lit(1), F.floor(F.col("gsz") / F.col("n_f"))
                ),
            )
        )
        picks = pos.filter(
            (F.col("gpos") % F.col("step") == 0)
            & (F.floor(F.col("gpos") / F.col("step")) < F.col("n_f"))
        ).select(
            "pcoarse",
            F.floor(F.col("gpos") / F.col("step")).cast("int").alias("fine"),
            "pvid",
        )
        fcent = (
            picks.join(
                emb.select(
                    F.col("vec_id").alias("pvid"),
                    F.col("embedding").alias("femb"),
                ),
                "pvid",
            )
            .groupBy("pcoarse")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("fine"), F.col("femb").alias("embedding"))
                    )
                ).alias("fc")
            )
        )
        fc_rep = fcent.select(
            "pcoarse",
            "fc",
            F.explode(F.sequence(F.lit(0), F.lit(_FSPLIT - 1))).alias("psalt"),
        )
        rows = cv0.withColumn(
            "fsalt", F.pmod(F.col("vec_id"), F.lit(_FSPLIT)).cast("int")
        )

        def assign(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            if lpdf.empty:
                # slice the typed input frame: a dict-literal empty frame
                # defaults every column to float64, which Arrow can't
                # convert to the declared list<float> embedding type
                out = lpdf[["vec_id", "embedding", "nrm"]].copy()
                out["cell"] = np.array([], dtype=np.int32)
                return out
            blk = rpdf["fc"].iloc[0]
            fines = np.array([e["fine"] for e in blk], dtype=np.int64)
            fmat = np.stack(
                [np.asarray(e["embedding"], dtype=np.float64) for e in blk]
            )
            fmat /= np.maximum(
                np.linalg.norm(fmat, axis=1, keepdims=True), 1e-12
            )
            mat = np.stack(lpdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            fine = fines[np.argmax(mat @ fmat.T, axis=1)]
            coarse = int(lpdf["coarse"].iloc[0])
            out = lpdf[["vec_id", "embedding", "nrm"]].copy()
            out["cell"] = (coarse * n_fine + fine).astype(np.int32)
            return out

        cv = (
            rows.groupBy("coarse", "fsalt")
            .cogroup(fc_rep.groupBy("pcoarse", "psalt"))
            .applyInPandas(
                assign,
                "vec_id long, embedding array<float>, nrm double, cell int",
            )
        )
    return cv
