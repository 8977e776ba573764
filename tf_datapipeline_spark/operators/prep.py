"""End-to-end LLM training-data prep composites (qt1 text-only, qt2
multimodal with a SemDeDup stage over `embeddings`): the full document
pipeline a pretraining corpus runs, as ONE DataFrame chain —

    quality filter (q51's rule) ->
    exact dedup (q60/q61's min-doc-per-md5) ->
    near-dup removal (q63 LSH pairs -> q67 connected components,
                      keep the component representative) ->
    benchmark decontamination (q5c's 5-gram overlap) ->
    per-language accounting of kept docs / tokens / context chunks
    (q50 token rule, q5g chunk arithmetic).

Each doc gets all four flags computed INDEPENDENTLY and is assigned one
drop reason by fixed priority (quality > exact-dup > near-dup >
contaminated), so every document lands in exactly one bucket and the
stage order is explicit rather than emergent. The oracle replays the
whole composition declaratively (recursive CTE for components).

Scale shape: inherits each stage's design — broadcast benchmark grams,
banded LSH (never all-pairs), components by per-partition union-find
contraction (exact, and the whole job, when the pairs fit one
partition as on the local corpus) then O(log diameter) rounds of one
observed checkpoint each, and a single md5-partitioned window for
exact dedup. The only new shuffles the composite adds are the two LEFT
JOINs of per-doc flags back to the documents scan, both on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.operators.dedup import (
    _lsh_pairs_body,
    _sql_shingles,
    _sql_signature,
    materialize_cc_labels,
)
from tf_datapipeline_spark.operators.text import (
    _CONTAM_MIN_OVERLAP,
    _CONTAM_MOD,
    _CONTAM_N,
    _SW_LIST,
    _STOPWORDS,
    _TOKENS_SQL,
    _grams_spark,
    _tokens_spark,
)
from tf_datapipeline_spark.registry import query

_CHUNK_STRIDE = 192  # q5g's stride: chunks per kept doc


def _reason_counts(reasons: tuple[str, ...]) -> str:
    return ",\n           ".join(
        f"CAST(COUNT(CASE WHEN reason = '{r}' THEN 1 END) AS BIGINT)"
        f" AS n_{r}"
        for r in reasons
    )


def _prep_flag_ctes() -> str:
    """The oracles' shared CTE list (qt1, qt2; recursive): per-doc
    `flags`, near-dup component `labels` and `contam`."""
    return f"""shingles AS ({_sql_shingles('duckdb')}),
    sig AS ({_sql_signature('shingles')}),
    pairs AS ({_lsh_pairs_body()}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
    ),
    labels AS (SELECT src AS doc_id, MIN(dst) AS label FROM reach GROUP BY src),
    toks AS (
      SELECT doc_id, lang, text, n_chars, {_TOKENS_SQL} AS t FROM documents
    ),
    flags AS (
      SELECT doc_id, lang, text, len(t) AS n_tokens,
             NOT (n_chars >= 100
                  AND len(list_filter(t, x -> x IN ({_SW_LIST}))) > 0)
               AS bad_quality,
             doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_dup
      FROM toks
    ),
    pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - {_CONTAM_N - 1}, 0)))
               AS i
      FROM toks
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[i:i+{_CONTAM_N - 1}], ' ') AS g
      FROM pos
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {_CONTAM_MOD} = 0),
    contam AS (
      SELECT c.doc_id, COUNT(*) >= {_CONTAM_MIN_OVERLAP} AS contaminated
      FROM grams c JOIN bench b USING (g)
      WHERE c.doc_id % {_CONTAM_MOD} <> 0
      GROUP BY 1
    )"""


def _prep_oracle() -> str:
    reason_counts = _reason_counts(
        ("kept", "quality", "exact_dup", "near_dup", "contaminated")
    )
    return f"""
    WITH RECURSIVE {_prep_flag_ctes()},
    reasoned AS (
      SELECT f.lang, f.n_tokens,
             1 + (greatest(length(f.text), 1) - 1) // {_CHUNK_STRIDE}
               AS n_chunks,
             CASE WHEN f.bad_quality THEN 'quality'
                  WHEN f.exact_dup THEN 'exact_dup'
                  WHEN COALESCE(l.label <> f.doc_id, FALSE) THEN 'near_dup'
                  WHEN COALESCE(ct.contaminated, FALSE) THEN 'contaminated'
                  ELSE 'kept' END AS reason
      FROM flags f
      LEFT JOIN labels l USING (doc_id)
      LEFT JOIN contam ct USING (doc_id)
    )
    SELECT lang,
           {reason_counts},
           CAST(COALESCE(SUM(CASE WHEN reason = 'kept' THEN n_tokens END), 0)
                AS BIGINT) AS kept_tokens,
           CAST(COALESCE(SUM(CASE WHEN reason = 'kept' THEN n_chunks END), 0)
                AS BIGINT) AS kept_chunks
    FROM reasoned GROUP BY 1
    """


def _prep_counts(
    spark: SparkSession,
    sf_dir: str,
    stages: tuple[tuple[DataFrame, F.Column, str], ...] = (),
) -> DataFrame:
    """qt1's composite, per language: every doc's quality, exact-dup,
    near-dup and contamination flags, one drop reason by that priority,
    and the per-reason counts with the kept docs' tokens and chunks.
    Each of `stages` — (per-doc frame LEFT JOINed on doc_id, drop
    condition over its columns, reason) — adds one reason after
    `contaminated`, before `kept`."""
    docs = load_table(spark, sf_dir, "documents")
    # (adaptive repartition A/B'd OFF here — OPTIMIZATION_r12.md: the
    # tokenize/gram streams are whitespace splits, and the added
    # shuffle measured 1.3s -> 2.1-2.8s; the device only pays on
    # md5-per-position streams like the shingle/winnow families)
    toks = _tokens_spark()
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    w = Window.partitionBy(F.md5("text"))
    # Project before the exchange (guide §2.3): the md5-dedup
    # window only needs the HASH as its key, and everything downstream
    # needs length(text), never text itself — computing n_chunks' input
    # here keeps the document payload out of BOTH the window exchange
    # and the doc_id join exchange (shipping full text through each
    # costs ~text-sized shuffles for a 16-byte decision).
    n_chunks = F.expr(
        f"1 + CAST(greatest(length(text), 1) - 1 AS LONG) DIV {_CHUNK_STRIDE}"
    )
    flags = docs.select(
        "doc_id",
        "lang",
        n_chunks.alias("n_chunks"),
        F.size(toks).alias("n_tokens"),
        (~((F.col("n_chars") >= 100) & (n_stop > 0))).alias("bad_quality"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("exact_dup"),
    )

    labels = materialize_cc_labels(spark, sf_dir)

    grams = docs.select("doc_id", _tokens_spark().alias("_toks")).select(
        "doc_id", F.explode(_grams_spark(F.col("_toks"))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") % _CONTAM_MOD == 0).select("g").distinct()
    contam = (
        grams.filter(F.col("doc_id") % _CONTAM_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg((F.count(F.lit(1)) >= _CONTAM_MIN_OVERLAP).alias("contaminated"))
    )

    near_dup = F.col("label").isNotNull() & (F.col("label") != F.col("doc_id"))
    reasons = [
        (F.col("bad_quality"), "quality"),
        (F.col("exact_dup"), "exact_dup"),
        (near_dup, "near_dup"),
        (F.coalesce(F.col("contaminated"), F.lit(False)), "contaminated"),
    ] + [(cond, r) for _, cond, r in stages]
    (first, first_reason), *rest = reasons
    reason = F.when(first, first_reason)
    for cond, r in rest:
        reason = reason.when(cond, r)
    joined = flags.join(labels, "doc_id", "left").join(contam, "doc_id", "left")
    for frame, _, _ in stages:
        joined = joined.join(frame, "doc_id", "left")
    reasoned = joined.select(
        "lang", "n_tokens", "n_chunks", reason.otherwise("kept").alias("reason")
    )

    def n_reason(r: str) -> F.Column:
        return F.count(F.when(F.col("reason") == r, 1)).alias(f"n_{r}")

    kept = F.col("reason") == "kept"
    return reasoned.groupBy("lang").agg(
        n_reason("kept"),
        *[n_reason(r) for _, r in reasons],
        F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.coalesce(F.sum(F.when(kept, F.col("n_chunks"))), F.lit(0))
        .cast("bigint")
        .alias("kept_chunks"),
    )


@query("qt1_prep_pipeline", oracle=_prep_oracle())
def qt1_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _prep_counts(spark, sf_dir)


# --------------------------------------------------------------------------
# qt2 — the MULTIMODAL prep composite: qt1's text pipeline with a
# SEMANTIC dedup stage fed by the `embeddings` table (vec_id = doc_id),
# the only query joining the text and embedding modalities — the real
# LLM-prep topology, where lexical dedup (exact + MinHash) runs on text
# and redundancy pruning (SemDeDup) runs on embeddings of the SAME
# corpus. Priority: quality > exact_dup > near_dup > contaminated >
# semantic_dup > kept; docs without an embedding skip the semantic
# stage (COALESCE keep=1), mirroring a corpus where only part is
# embedded. Oracle replays the entire composition (recursive-CTE
# components + q68's decimal-exact cell pipeline as a sub-select).
# --------------------------------------------------------------------------
def _prep_semantic_oracle() -> str:
    from tf_datapipeline_spark.operators.dedup import _semantic_dedup_sql

    reason_counts = _reason_counts(
        ("kept", "quality", "exact_dup", "near_dup", "contaminated", "semantic_dup")
    )
    return f"""
    WITH RECURSIVE {_prep_flag_ctes()},
    sem AS (
      SELECT vec_id, keep FROM ({_semantic_dedup_sql('duckdb')}) s
    ),
    reasoned AS (
      SELECT f.lang, f.n_tokens,
             CASE WHEN f.bad_quality THEN 'quality'
                  WHEN f.exact_dup THEN 'exact_dup'
                  WHEN COALESCE(l.label <> f.doc_id, FALSE) THEN 'near_dup'
                  WHEN COALESCE(ct.contaminated, FALSE) THEN 'contaminated'
                  WHEN COALESCE(s.keep, 1) = 0 THEN 'semantic_dup'
                  ELSE 'kept' END AS reason
      FROM flags f
      LEFT JOIN labels l USING (doc_id)
      LEFT JOIN contam ct USING (doc_id)
      LEFT JOIN sem s ON s.vec_id = f.doc_id
    )
    SELECT lang,
           {reason_counts},
           CAST(COALESCE(SUM(CASE WHEN reason = 'kept' THEN n_tokens END), 0)
                AS BIGINT) AS kept_tokens
    FROM reasoned GROUP BY 1
    """


@query("qt2_prep_semantic", oracle=_prep_semantic_oracle())
def qt2_prep_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.dedup import q68_semantic_dedup

    sem = q68_semantic_dedup(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("sem_keep")
    )
    semantic_dup = F.coalesce(F.col("sem_keep"), F.lit(1)) == 0
    return _prep_counts(
        spark, sf_dir, ((sem, semantic_dup, "semantic_dup"),)
    ).drop("kept_chunks")
