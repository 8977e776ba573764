"""End-to-end LLM training-data prep composites (qt1 text-only, qt2
multimodal with a SemDeDup stage over `embeddings`): the full document
pipeline a pretraining corpus runs, as ONE DataFrame chain —

    quality gate ->
    exact dedup (q60/q61's min-doc-per-md5) ->
    near-dup removal (q63 LSH pairs -> q67 connected components,
                      keep the component representative) ->
    benchmark decontamination (q5c's 5-gram overlap) ->
    per-language accounting of kept docs / tokens / context chunks
    (q50 token rule, q5g chunk arithmetic),

each per-document rule as operators/text.py defines it for both engines.

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
    _FINGERPRINT_SQL,
    _TOKENS_SQL,
    _contamination_spark,
    _contamination_sql,
    _fingerprint_spark,
    _n_stop_sql,
    _quality_spark,
    _quality_sql,
    _tokens_spark,
)
from tf_datapipeline_spark.registry import query

_CHUNK_STRIDE = 192  # q5g's stride: chunks per kept doc


def _label_ctes() -> str:
    """Recursive CTEs ending in `labels` (doc_id, label): each near-dup
    doc's component minimum, by reachability over q63's LSH pairs."""
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
    labels AS (SELECT src AS doc_id, MIN(dst) AS label FROM reach GROUP BY src)"""


def _flag_ctes() -> str:
    """CTEs of the per-doc `flags` and the 5-gram `contam`."""
    return f"""toks AS (
      SELECT doc_id, lang, text, n_chars, {_TOKENS_SQL} AS t FROM documents
    ),
    flags AS (
      SELECT doc_id, lang, len(t) AS n_tokens,
             1 + (greatest(length(text), 1) - 1) // {_CHUNK_STRIDE} AS n_chunks,
             NOT {_quality_sql(_n_stop_sql('t', 'duckdb'))} AS bad_quality,
             doc_id <> MIN(doc_id) OVER (PARTITION BY {_FINGERPRINT_SQL})
               AS exact_dup
      FROM toks
    ),
    {_contamination_sql('doc_id', 'toks')}"""


# The oracle's drop reasons over `flags f` in priority order, as
# `reasons` in _prep_counts: (condition, reason)
_ORACLE_REASONS = (
    ("f.bad_quality", "quality"),
    ("f.exact_dup", "exact_dup"),
    ("COALESCE(l.label <> f.doc_id, FALSE)", "near_dup"),
    ("COALESCE(ct.contaminated, FALSE)", "contaminated"),
)


def _prep_oracle(
    stages: tuple[tuple[str, str, str, str], ...] = (),
    label_ctes: str = _label_ctes(),
) -> str:
    """qt1's oracle. Each of `stages` — (CTE, LEFT JOIN, drop condition,
    reason) — adds one reason after `contaminated`, before `kept`, as in
    _prep_counts. `label_ctes` defines `labels`; pass "" to read a
    `labels` table instead (tools/staged_prep_oracle.py)."""
    reasons = _ORACLE_REASONS + tuple(st[2:] for st in stages)
    ctes = ",\n    ".join(
        cte for cte in (label_ctes, _flag_ctes(), *(st[0] for st in stages)) if cte
    )
    whens = "\n                  ".join(f"WHEN {c} THEN '{r}'" for c, r in reasons)
    counts = ",\n           ".join(
        f"CAST(COUNT(CASE WHEN reason = '{r}' THEN 1 END) AS BIGINT) AS n_{r}"
        for r in ("kept", *(r for _, r in reasons))
    )
    return f"""
    WITH RECURSIVE {ctes},
    reasoned AS (
      SELECT f.lang, f.n_tokens, f.n_chunks,
             CASE {whens}
                  ELSE 'kept' END AS reason
      FROM flags f
      LEFT JOIN labels l USING (doc_id)
      LEFT JOIN contam ct USING (doc_id)
      {" ".join(st[1] for st in stages)}
    )
    SELECT lang,
           {counts},
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
    w = Window.partitionBy(_fingerprint_spark())
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
        (~_quality_spark()).alias("bad_quality"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("exact_dup"),
    )

    labels = materialize_cc_labels(spark, sf_dir)

    contam = _contamination_spark(docs, ["doc_id"])

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
def _prep_semantic_oracle(label_ctes: str = _label_ctes()) -> str:
    from tf_datapipeline_spark.operators.dedup import _semantic_dedup_sql

    sem = (
        f"sem AS (SELECT vec_id, keep FROM ({_semantic_dedup_sql('duckdb')}) s)",
        "LEFT JOIN sem s ON s.vec_id = f.doc_id",
        "COALESCE(s.keep, 1) = 0",
        "semantic_dup",
    )
    return f"""
    SELECT * EXCLUDE (kept_chunks) FROM ({_prep_oracle((sem,), label_ctes)})
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
