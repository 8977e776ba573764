"""Text analysis over `documents` (SURVEY.md §2B "text analysis" + the
driver contract's training-data ops): token stats, quality scoring,
language-ID heuristic, BPE-ish token counting, fingerprinting, TF-IDF,
string-similarity pairs.

All pure built-in column expressions — no Python UDFs — so the hot path
stays in whole-stage codegen and the DuckDB oracle can check every op.
Per-row ratios are single IEEE divisions (deterministic); aggregate sums
are exact integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import (
    docs_scan_source,
    load_table,
    oracle_with,
    register_views,
    sql_with,
)
from tf_datapipeline_spark.functions import dialect as D
from tf_datapipeline_spark.functions.texthash import (
    sql_hash32,
    sql_md5_window,
)
from tf_datapipeline_spark.registry import query

# --------------------------------------------------------------------------
# The per-document text rules, each written once as a Spark Column
# (`*_spark`, lazy: a Column needs an active session) and as the oracle's
# SQL (`*_sql`/`*_SQL`; `dialect` where a shared builder reads it too).
# Components and composites (qt0, q57, qt5; qt1/qt2 in prep.py, qt4 in
# streaming/events_stream.py) select them; test_plans.py audits that.
# --------------------------------------------------------------------------
def _tokens_spark() -> Column:  # the whitespace tokens of `text`
    return F.split(F.trim(F.col("text")), r"\s+")


def _tokens_sql(dialect: str) -> str:
    return D.split_ws("trim(text)", dialect)


_TOKENS_SQL = _tokens_sql("duckdb")


def _count_words_spark(toks: Column, words: tuple[str, ...]) -> Column:
    """How many elements of the token array `toks` are in `words`."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _count_words_sql(toks: str, words: tuple[str, ...], dialect: str) -> str:
    listed = ", ".join(f"'{w}'" for w in words)
    return D.size(f"filter({toks}, t -> t IN ({listed}))", dialect)


_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _n_stop_spark() -> Column:
    return _count_words_spark(_tokens_spark(), _STOPWORDS)


def _n_stop_sql(toks: str, dialect: str) -> str:
    return _count_words_sql(toks, _STOPWORDS, dialect)


_N_STOP_SQL = _n_stop_sql(_TOKENS_SQL, "duckdb")

# q51's quality gate (Gopher-style, Rae et al. 2021): a minimum length in
# characters and at least one stopword (`n_stop` counts them)
_GATE_MIN_CHARS = 100


def _quality_spark() -> Column:
    return (F.col("n_chars") >= _GATE_MIN_CHARS) & (_n_stop_spark() > 0)


def _quality_sql(n_stop: str) -> str:
    return f"(n_chars >= {_GATE_MIN_CHARS} AND {n_stop} > 0)"


_QUALITY_SQL = _quality_sql(_N_STOP_SQL)

# The share of `text`'s characters matching a one-character regex, by
# length difference after deleting them (DuckDB deletes every match only
# with the 'g' flag); and the count of a regex's matches.
_ALPHA_RE, _SPACE_RE = "[a-z]", r"\s"


def _char_ratio_spark(pattern: str) -> Column:
    text_len = F.length("text")
    hits = text_len - F.length(F.regexp_replace("text", pattern, ""))
    return hits.cast("double") / text_len


def _char_ratio_sql(pattern: str) -> str:
    return (
        f"(CAST(length(text) - length(regexp_replace(text, '{pattern}', '', 'g'))"
        " AS DOUBLE) / length(text))"
    )


def _regex_count_spark(pattern: str) -> Column:
    return F.regexp_count("text", F.lit(pattern))


def _regex_count_sql(pattern: str) -> str:
    return f"CAST(length(regexp_extract_all(text, '{pattern}')) AS INT)"


# q52's language ID: marker-word counts per language, argmax with ties
# going to the first language in sorted order.
_LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "los", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de", "shi", "le", "zai", "he"),
}
_LANG_SCORES_SQL = {
    lang: _count_words_sql(_TOKENS_SQL, words, "duckdb")
    for lang, words in _LANG_MARKERS.items()
}


def _lang_scores_spark() -> dict[str, Column]:
    toks = _tokens_spark()
    return {lang: _count_words_spark(toks, w) for lang, w in _LANG_MARKERS.items()}


def _lang_id_spark(scores: dict[str, Column]) -> tuple[Column, Column]:
    """(pred_lang, top_score) over the per-language `scores`."""
    langs = sorted(scores)
    top = F.greatest(*[scores[lang] for lang in langs])
    pred = F.when(scores[langs[0]] == top, langs[0])
    for lang in langs[1:-1]:
        pred = pred.when(scores[lang] == top, lang)
    return pred.otherwise(langs[-1]), top


def _lang_id_sql(scores: dict[str, str]) -> tuple[str, str]:
    langs = sorted(scores)
    top = f"GREATEST({', '.join(scores[lang] for lang in langs)})"
    whens = " ".join(f"WHEN {scores[lang]} THEN '{lang}'" for lang in langs[:-1])
    return f"CASE {top} {whens} ELSE '{langs[-1]}' END", top


_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # q53: words, numbers, punctuation


# q54's content fingerprint (also the exact-dup key of q57, qt1/qt2 and
# q6a/q6e) and the size of its exact-duplicate cluster
def _fingerprint_spark() -> Column:
    return F.md5("text")


def _cluster_size_spark() -> Column:
    return F.count(F.lit(1)).over(Window.partitionBy(_fingerprint_spark()))


_FINGERPRINT_SQL = "md5(text)"
_CLUSTER_SIZE_SQL = f"COUNT(*) OVER (PARTITION BY {_FINGERPRINT_SQL})"


# Word n-grams: the oracle's from position rows over a relation (keys, t)
# of token arrays t, Spark's array-side (1-indexed in both engines).
def _doc_tokens_sql(keys: str) -> str:
    return f"(SELECT {keys}, {_TOKENS_SQL} AS t FROM documents)"


def _gram_pos_sql(n: int, keys: str, src: str) -> str:
    """Rows (keys, t, i) of `src`, one per start i of an n-token window."""
    return f"""SELECT {keys}, t,
             unnest(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS i
      FROM {src}"""


def _gram_sql(n: int) -> str:
    return f"array_to_string(t[i:i+{n - 1}], ' ')"


def _bigram_strings_spark(toks: str) -> Column:
    """The bigrams of the token array column `toks` (at least 2 long)."""
    return F.expr(
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1)))"
    )


# q5c's benchmark contamination: a doc outside the benchmark slice shares
# at least _CONTAM_MIN_OVERLAP of its distinct _CONTAM_N-grams with it.
_CONTAM_N = 5  # words per gram
_CONTAM_MIN_OVERLAP = 3  # distinct shared grams => contaminated
_CONTAM_MOD = 23  # doc_id % _CONTAM_MOD == 0 -> benchmark slice


def _gram_rows_spark(docs: DataFrame, keys: list[str]) -> DataFrame:
    """Rows (keys, g): each doc's distinct 5-grams. The token array is
    projected first: split inline, it is re-evaluated inside the
    transform lambda for every slice (6.5x slower at sf0.1)."""
    toks = F.col("_toks")
    grams = F.array_distinct(
        F.when(
            F.size(toks) >= _CONTAM_N,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (_CONTAM_N - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, _CONTAM_N)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    return docs.select(*keys, _tokens_spark().alias("_toks")).select(
        *keys, F.explode(grams).alias("g")
    )


def _contamination_spark(docs: DataFrame, keys: list[str]) -> DataFrame:
    """Rows (keys, n_overlap, contaminated) of the docs outside the slice
    that share a benchmark gram. The small benchmark gram set is
    broadcast."""
    grams = _gram_rows_spark(docs, keys)
    bench = grams.filter(F.col("doc_id") % _CONTAM_MOD == 0).select("g").distinct()
    n = F.count(F.lit(1))
    return (
        grams.filter(F.col("doc_id") % _CONTAM_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy(*keys)
        .agg(n.alias("n_overlap"), (n >= _CONTAM_MIN_OVERLAP).alias("contaminated"))
    )


def _contamination_sql(keys: str, src: str) -> str:
    """CTEs ending in `contam`, as _contamination_spark, over `src` (keys, t)."""
    return f"""pos AS ({_gram_pos_sql(_CONTAM_N, keys, src)}),
    grams AS (SELECT DISTINCT {keys}, {_gram_sql(_CONTAM_N)} AS g FROM pos),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {_CONTAM_MOD} = 0),
    contam AS (
      SELECT {keys}, COUNT(*) AS n_overlap,
             COUNT(*) >= {_CONTAM_MIN_OVERLAP} AS contaminated
      FROM grams JOIN bench USING (g)
      WHERE doc_id % {_CONTAM_MOD} <> 0
      GROUP BY {keys}
    )"""


# --------------------------------------------------------------------------
# q50 — per-document token statistics.
# --------------------------------------------------------------------------
@query(
    "q50_token_stats",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           CAST(length({_TOKENS_SQL}) AS INT) AS n_tokens,
           CAST(n_chars AS DOUBLE) / length({_TOKENS_SQL}) AS chars_per_token
    FROM documents
    """,
)
def q50_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens_spark())
    return docs.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tokens).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# q51 — quality scoring: alpha/space/stopword ratios + the quality gate.
# --------------------------------------------------------------------------
@query(
    "q51_quality_score",
    oracle=f"""
    SELECT doc_id,
           {_char_ratio_sql(_ALPHA_RE)} AS alpha_ratio,
           {_char_ratio_sql(_SPACE_RE)} AS space_ratio,
           CAST({_N_STOP_SQL} AS DOUBLE) / length({_TOKENS_SQL}) AS stopword_ratio,
           CASE WHEN {_QUALITY_SQL} THEN 1 ELSE 0 END AS is_quality
    FROM documents
    """,
)
def q51_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_stop = _n_stop_spark()
    n_tokens = F.size(_tokens_spark())
    return docs.select(
        "doc_id",
        _char_ratio_spark(_ALPHA_RE).alias("alpha_ratio"),
        _char_ratio_spark(_SPACE_RE).alias("space_ratio"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        F.when(_quality_spark(), 1).otherwise(0).alias("is_quality"),
    )


# --------------------------------------------------------------------------
# q52 — language-ID heuristic (the rule above). On this synthetic corpus
# most docs score 'en'.
# --------------------------------------------------------------------------
def _q52_oracle() -> str:
    pred, top = _lang_id_sql({lang: f"s_{lang}" for lang in _LANG_MARKERS})
    named = ",\n             ".join(
        f"{sql} AS s_{lang}" for lang, sql in _LANG_SCORES_SQL.items()
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS actual_lang,
             {named}
      FROM documents
    )
    SELECT doc_id, actual_lang, {pred} AS pred_lang,
           CAST({top} AS INTEGER) AS top_score
    FROM scored
    """


@query("q52_lang_id", oracle=_q52_oracle())
def q52_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = _lang_scores_spark()
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[scores[lang].alias(f"s_{lang}") for lang in sorted(scores)],
    )
    pred, top = _lang_id_spark({lang: F.col(f"s_{lang}") for lang in scores})
    return scored.select(
        "doc_id", "actual_lang", pred.alias("pred_lang"), top.alias("top_score")
    )


# --------------------------------------------------------------------------
# q53 — BPE-ish token counting (the "token budget" op of a training-data
# pipeline) and the number tokens among them.
# --------------------------------------------------------------------------
_NUMBER_RE = "[0-9]+"


@query(
    "q53_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           {_regex_count_sql(_BPE_PATTERN)} AS n_bpe_tokens,
           {_regex_count_sql(_NUMBER_RE)} AS n_number_tokens
    FROM documents
    """,
)
def q53_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _regex_count_spark(_BPE_PATTERN).alias("n_bpe_tokens"),
        _regex_count_spark(_NUMBER_RE).alias("n_number_tokens"),
    )


# --------------------------------------------------------------------------
# q54 — document fingerprint: md5 content hash + duplicate-cluster size
# (the fingerprint both exact-dedup variants build on).
# --------------------------------------------------------------------------
@query(
    "q54_fingerprint",
    oracle=f"""
    SELECT doc_id, {_FINGERPRINT_SQL} AS fingerprint,
           {_CLUSTER_SIZE_SQL} AS cluster_size
    FROM documents
    """,
)
def q54_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _fingerprint_spark().alias("fingerprint"),
        _cluster_size_spark().alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# qt0 — composite per-document text profile: the q50-q54 rules (token
# stats, quality ratios and gate, language ID, BPE token budget, content
# fingerprint and duplicate-cluster size) in ONE scan, one wide row per
# document. Everything is built-in column expressions (single codegen
# stage); the only shuffle is the fingerprint-cluster window,
# partitioned by the content hash.
# --------------------------------------------------------------------------
def _qt0_oracle() -> str:
    pred, _ = _lang_id_sql(_LANG_SCORES_SQL)
    return f"""
    SELECT doc_id,
           n_chars,
           CAST(length({_TOKENS_SQL}) AS INT) AS n_tokens,
           {_char_ratio_sql(_ALPHA_RE)} AS alpha_ratio,
           CAST({_N_STOP_SQL} AS DOUBLE) / length({_TOKENS_SQL}) AS stopword_ratio,
           CASE WHEN {_QUALITY_SQL} THEN 1 ELSE 0 END AS is_quality,
           {pred} AS pred_lang,
           {_regex_count_sql(_BPE_PATTERN)} AS n_bpe_tokens,
           {_FINGERPRINT_SQL} AS fingerprint,
           {_CLUSTER_SIZE_SQL} AS cluster_size
    FROM documents
    """


@query("qt0_text_profile", oracle=_qt0_oracle())
def qt0_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_stop = _n_stop_spark()
    n_tokens = F.size(_tokens_spark())
    pred, _ = _lang_id_spark(_lang_scores_spark())
    return docs.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        _char_ratio_spark(_ALPHA_RE).alias("alpha_ratio"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        F.when(_quality_spark(), 1).otherwise(0).alias("is_quality"),
        pred.alias("pred_lang"),
        _regex_count_spark(_BPE_PATTERN).alias("n_bpe_tokens"),
        _fingerprint_spark().alias("fingerprint"),
        _cluster_size_spark().alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# q55 — TF-IDF: explode tokens → tf per (doc, term), df per term over the
# corpus, rational idf N/df (no transcendental: ln differs across libm
# builds; the ranking is monotone-equivalent). Two shuffles: one on
# (doc_id, term), one broadcast-back of the tiny term-df dim.
# --------------------------------------------------------------------------
@query(
    "q55_tfidf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE tf.tf >= 8
    """,
)
def q55_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens_spark()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.filter(F.col("tf") >= 8)
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))).alias(
                "tfidf"
            ),
        )
    )


# --------------------------------------------------------------------------
# q56 — string-similarity pairs: levenshtein distance within same-(lang,
# source) blocks, bounded by a LENGTH-BAND blocking key: floor(len/32).
# Edit distance >= |len_a - len_b|, so any pair worth reporting sits in
# the same or an adjacent band — non-adjacent pairs (distance >= 32) are
# excluded BY DESIGN. Bands alone do NOT bound pair work, though: the
# (lang, source, band) key space saturates (~350 blocks on this corpus
# shape at any scale), so block POPULATION grows linearly with the
# corpus and in-block pair work quadratically — measured 412k banded
# pairs at sf1 -> 39M at sf10 (an uncapped
# quadratic). _Q56_BAND_CAP is the q63-style hot-block guard: each
# block keeps only its _Q56_BAND_CAP lowest doc_ids (deterministic,
# replayed verbatim by the oracle's ROW_NUMBER), so total pair work is
# bounded by n_blocks * 3 * cap^2 — CONSTANT in corpus size — while the
# scan stays one linear pass. The cap does not bind at the driver's
# correctness/bench scales (largest block: 3 docs at sf0.01, 11 at
# sf0.1; it first binds at sf1 where the max block is 94). Realized as
# an equi-join on (lang, source, band): the b side probes its own and
# both neighbor bands, so each qualifying pair matches exactly once and
# the join stays a hash join.
# --------------------------------------------------------------------------
_Q56_BAND_CAP = 64


@query(
    "q56_levenshtein_pairs",
    oracle=f"""
    WITH sampled AS (
      SELECT doc_id, lang, source, text,
             CAST(FLOOR(length(text) / 32.0) AS BIGINT) AS band
      FROM documents WHERE doc_id % 5 = 0
    ),
    capped AS (
      SELECT doc_id, lang, source, text, band FROM (
        SELECT s.*, ROW_NUMBER() OVER (PARTITION BY lang, source, band
                                       ORDER BY doc_id) AS rn
        FROM sampled s
      ) r WHERE rn <= {_Q56_BAND_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_distance,
           1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                 / GREATEST(length(a.text), length(b.text)) AS similarity
    FROM capped a
    JOIN capped b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
     AND abs(a.band - b.band) <= 1
    """,
)
def q56_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    band = F.floor(F.length("text") / 32)
    capped = (
        docs.select("doc_id", "lang", "source", "text", band.alias("band"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang", "source", "band").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") <= _Q56_BAND_CAP)
        .drop("rn")
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "source",
        F.col("text").alias("text_a"),
        "band",
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "source",
        F.col("text").alias("text_b"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    )
    # The blocked join's shuffle is tiny (capped doc rows, a few MB even
    # at sf1), so AQE coalesces it to ~1 partition — and then the O(len^2)
    # levenshtein over every surviving pair runs on ONE task (measured:
    # 469s single-task at sf1). Explicitly round-robin the PAIR set
    # before the distance compute: the explicit numPartitions is exempt
    # from AQE coalescing, balance is perfect regardless of which blocks
    # are hot, and the extra shuffle moves only the capped pair set
    # (bounded by n_blocks * 3 * cap^2 rows at any corpus size).
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pairs = (
        a.join(b, ["lang", "source", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "text_a", "text_b")
        .repartition(n_part)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.levenshtein("text_a", "text_b").alias("edit_distance"),
        F.greatest(F.length("text_a"), F.length("text_b")).alias("mx"),
    ).select(
        "doc_a",
        "doc_b",
        "edit_distance",
        (1.0 - F.col("edit_distance").cast("double") / F.col("mx")).alias(
            "similarity"
        ),
    )


# --------------------------------------------------------------------------
# q57 — corpus preparation: the composed training-data filter chain a
# reference user actually runs — the quality gate AND the exact-dedup
# keeper (min doc_id per content fingerprint, q60/q61's policy) —
# rolled up per (lang, source). One scan + one dedup shuffle + one semi
# join + one agg.
# --------------------------------------------------------------------------
@query(
    "q57_corpus_prep",
    oracle=f"""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY {_FINGERPRINT_SQL}
    ),
    quality AS (
      SELECT doc_id, lang, source, n_chars
      FROM documents
      WHERE {_QUALITY_SQL}
    )
    SELECT q.lang, q.source,
           COUNT(*) AS n_kept,
           CAST(SUM(q.n_chars) AS BIGINT) AS total_chars
    FROM quality q JOIN keepers k ON k.doc_id = q.doc_id
    GROUP BY 1, 2
    """,
)
def q57_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.groupBy(_fingerprint_spark()).agg(F.min("doc_id").alias("doc_id"))
    quality = docs.filter(_quality_spark()).select(
        "doc_id", "lang", "source", "n_chars"
    )
    kept = quality.join(keepers.select("doc_id"), "doc_id", "left_semi")
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# q58 — vocabulary builder: corpus-wide token frequencies, top 100 by
# (count desc, token) — the vocab/token-budget job of a training
# pipeline. Explode shuffles one row per token; the count is map-side
# partial so the exchange carries (token, partial_count), and the top-k
# is a TakeOrdered, not a global sort.
# --------------------------------------------------------------------------
@query(
    "q58_vocabulary",
    oracle=f"""
    SELECT token, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """,
)
def q58_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens_spark()).alias("token")).filter(
        F.col("token") != ""
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# q59 — Gopher-style quality filter (Rae et al. 2021, "Scaling Language
# Models", Appendix A1.1 — public rule set): word-count bounds, mean word
# length bounds, minimum stopword hits, and a repetition signal (the most
# frequent word's share of the document). The per-(doc, token) counts are
# one partial-aggregated shuffle keyed by doc_id — at 100 TB this is the
# standard explode->combine shape, no driver involvement.
# --------------------------------------------------------------------------
_G_MIN_WORDS, _G_MAX_WORDS = 20, 100_000
_G_MIN_MWL, _G_MAX_MWL = 3.0, 10.0
_G_MIN_STOP = 2
_G_MAX_TOP_FRAC = 0.2


@query(
    "q59_gopher_filter",
    oracle=f"""
    WITH tc AS (
      SELECT doc_id, token, COUNT(*) AS c
      FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents)
      WHERE token <> ''
      GROUP BY doc_id, token
    ),
    rep AS (
      SELECT doc_id, MAX(c) AS top_count, SUM(c) AS n_words
      FROM tc GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(list_filter({_TOKENS_SQL}, t -> t <> ''),
                                          t -> length(t))) AS BIGINT) AS char_sum,
             CAST({_N_STOP_SQL} AS BIGINT) AS stop_hits
      FROM documents
    )
    SELECT r.doc_id,
           CAST(r.n_words AS BIGINT) AS n_words,
           CAST(b.char_sum AS DOUBLE) / r.n_words AS mean_word_len,
           b.stop_hits,
           CAST(r.top_count AS DOUBLE) / r.n_words AS top_word_frac,
           CASE WHEN r.n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}
                 AND CAST(b.char_sum AS DOUBLE) / r.n_words
                     BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}
                 AND b.stop_hits >= {_G_MIN_STOP}
                 AND CAST(r.top_count AS DOUBLE) / r.n_words <= {_G_MAX_TOP_FRAC}
                THEN 1 ELSE 0 END AS keep
    FROM rep r JOIN base b USING (doc_id)
    """,
)
def q59_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens_spark()).alias("token")).filter(
        F.col("token") != ""
    )
    rep = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_count"), F.sum("c").alias("n_words"))
    )
    nonempty = F.filter(_tokens_spark(), lambda t: t != "")
    base = docs.select(
        "doc_id",
        F.aggregate(
            nonempty, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).alias("char_sum"),
        _n_stop_spark().cast("bigint").alias("stop_hits"),
    )
    mwl = F.col("char_sum").cast("double") / F.col("n_words")
    top_frac = F.col("top_count").cast("double") / F.col("n_words")
    return rep.join(base, "doc_id").select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        mwl.alias("mean_word_len"),
        "stop_hits",
        top_frac.alias("top_word_frac"),
        F.when(
            F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS)
            & mwl.between(_G_MIN_MWL, _G_MAX_MWL)
            & (F.col("stop_hits") >= _G_MIN_STOP)
            & (top_frac <= _G_MAX_TOP_FRAC),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )


# --------------------------------------------------------------------------
# q5a — within-document repetition profile (the n-gram half of Gopher's
# repetition rules): bigram count, the most frequent bigram's share, and
# the fraction of bigram mass in bigrams occurring more than once. Bigrams
# are built array-side (1-indexed element access — identical semantics in
# Spark SQL and DuckDB) then explode->aggregate per doc_id.
# --------------------------------------------------------------------------
@query(
    "q5a_repetition_profile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter({_TOKENS_SQL}, x -> x <> '') AS t FROM documents
    ),
    pos AS ({_gram_pos_sql(2, 'doc_id', 't')}),
    bg AS (SELECT doc_id, {_gram_sql(2)} AS bigram FROM pos),
    bc AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS BIGINT) AS top_bigram_count,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
             AS dup_bigram_frac
    FROM bc GROUP BY doc_id
    """,
)
def q5a_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.filter(_tokens_spark(), lambda x: x != "").alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = t.select("doc_id", F.explode(_bigram_strings_spark("toks")).alias("bigram"))
    bc = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return bc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.max("c").cast("bigint").alias("top_bigram_count"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c")
        ).alias("dup_bigram_frac"),
    )


# --------------------------------------------------------------------------
# q5b — PII scrub. The synthetic corpus carries no PII, so the op injects a
# DETERMINISTIC email + phone per doc (derived from doc_id with identical
# arithmetic in both dialects), then scrubs with the engine's regex
# kernels — so match counting, replacement, and the scrubbed text itself
# (md5-hashed) are all value-checked cross-engine. Patterns stay within
# the syntax Java regex and RE2 share.
# --------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@query(
    "q5b_pii_scrub",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call '
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
               AS pii_text
      FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, pii_text,
             regexp_replace(regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_PHONE_RE}', '<PHONE>', 'g') AS clean
      FROM pii
    )
    SELECT doc_id,
           CAST(length(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS INT)
             AS n_emails,
           CAST(length(regexp_extract_all(pii_text, '{_PHONE_RE}')) AS INT)
             AS n_phones,
           CAST(length(clean) AS INTEGER) AS clean_len,
           md5(clean) AS clean_md5
    FROM scrubbed
    """,
)
def q5b_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 13) % 10000).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(pii_text, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(pii_text, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(pii_text, F.lit(_PHONE_RE)).alias("n_phones"),
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# q5c — benchmark-contamination check: word-5-gram overlap between the
# training corpus and a held-out "benchmark" slice (here: doc_id % 23 ==
# 0, standing in for an eval set) — the decontamination step every LLM
# training pipeline runs (e.g. GPT-3 appendix C / PaLM §6 describe
# 13-gram variants of exactly this). Scale shape: the benchmark n-gram
# set is tiny relative to the corpus -> DISTINCT then broadcast; the
# corpus side explodes distinct per-doc grams and the overlap count is a
# partial-aggregated groupBy(doc_id) — no all-pairs comparison anywhere.
# At 100 TB the only shuffle is the corpus-gram dedup per doc (map-local
# array_distinct, no exchange) plus the final per-doc count.
# --------------------------------------------------------------------------
@query(
    "q5c_contamination",
    oracle=f"""
    WITH {_contamination_sql('doc_id, lang', _doc_tokens_sql('doc_id, lang'))}
    SELECT doc_id, lang, n_overlap, CAST(contaminated AS INT) AS contaminated
    FROM contam
    """,
)
def q5c_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    contam = _contamination_spark(docs, ["doc_id", "lang"])
    return contam.withColumn("contaminated", F.col("contaminated").cast("int"))


# --------------------------------------------------------------------------
# q5d — sequence packing: concat-then-chunk layout for a fixed context
# length (B=512 tokens). Documents are laid end-to-end in doc_id order;
# each doc occupies token positions [start_tok, start_tok + n_tokens) and
# is cut into context chunks of 512 — the packing layout LLM trainers
# feed (docs spanning a chunk boundary are split across sequences). The
# global exclusive running sum is pipeline.offset_scan with a weight:
# per-bucket sums -> driver prefix -> partitioned window; no
# `Exchange SinglePartition` anywhere, so the layout job scales to a
# 100 TB corpus.
# --------------------------------------------------------------------------
_PACK_B = 512


@query(
    "q5d_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(length({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_tok
      FROM d
    )
    SELECT doc_id, n_tokens, start_tok,
           start_tok // {_PACK_B} AS chunk_first,
           (start_tok + n_tokens - 1) // {_PACK_B} AS chunk_last,
           (start_tok + n_tokens - 1) // {_PACK_B} - start_tok // {_PACK_B} + 1
             AS n_chunks
    FROM c
    """,
)
def q5d_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.pipeline import offset_scan

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(_tokens_spark()).cast("bigint").alias("n_tokens")
    )
    # doc_id is the order key; its high bits are an order-preserving bucket
    c, _ = offset_scan(
        d, F.col("doc_id") / 4096, ["doc_id"],
        weight=F.col("n_tokens"), name="start_tok",
    )
    first = F.expr(f"start_tok DIV {_PACK_B}")
    last = F.expr(f"(start_tok + n_tokens - 1) DIV {_PACK_B}")
    return c.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        first.alias("chunk_first"),
        last.alias("chunk_last"),
        (last - first + 1).alias("n_chunks"),
    )


# --------------------------------------------------------------------------
# q5e — statistical bigram-LM quality score: estimate P(w2|w1) from the
# corpus itself (c(w1 w2) / c(w1 ·)) and score each document by the mean
# conditional probability over its bigram occurrences — the perplexity
# proxy LLM pipelines use to rank text quality (log-free so no libm
# divergence; higher = more predictable text). Exactness: counts are
# exact integers, P is one IEEE division, and the mean quantizes each P
# by FLOOR(P·2^30) (an exact exponent-shift product, no decimal
# rounding-mode tie) before the exact integer sum. Scale shape: the
# bigram-count model is a partial-aggregated groupBy; the score join is
# an equi-join on (w1, w2) — at 100 TB the model would be pruned to
# top-K prefixes and broadcast in shards, same join key.
# --------------------------------------------------------------------------
_LM_SCALE = 1 << 30


def _bigrams_spark(toks):
    """Bigram array expression over a projected token column (so the
    split isn't re-evaluated per element, as in _gram_rows_spark)."""
    pair = lambda i: F.struct(
        F.element_at(toks, i).alias("w1"),
        F.element_at(toks, i + 1).alias("w2"),
    )
    return F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1), pair),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


# Shared by q5e (the raw per-doc LM score) and q5l (the CCNet-style
# head/middle/tail bucketing over it) — identical text so both oracles
# replay the exact same arithmetic.
_LM_SCORE_SQL = f"""
    WITH pos AS ({_gram_pos_sql(2, "doc_id", _doc_tokens_sql("doc_id"))}),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM pos
    ),
    c2 AS (
      SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1
    ),
    p AS (
      SELECT c2.w1, c2.w2,
             CAST(FLOOR((CAST(n2 AS DOUBLE) / n1) * {_LM_SCALE}.0)
                  AS BIGINT) AS pq
      FROM c2 JOIN c1 ON c1.w1 = c2.w1
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(p.pq) AS DOUBLE) / ({_LM_SCALE}.0 * COUNT(*)) AS lm_score
    FROM bg b JOIN p ON p.w1 = b.w1 AND p.w2 = b.w2
    GROUP BY 1
    """


@query("q5e_bigram_lm", oracle=_LM_SCORE_SQL)
def q5e_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select("doc_id", _tokens_spark().alias("_toks"))
        .select("doc_id", F.explode(_bigrams_spark(F.col("_toks"))).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    p = c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.floor(
            (F.col("n2").cast("double") / F.col("n1")) * _LM_SCALE
        ).cast("bigint").alias("pq"),
    )
    n = F.count(F.lit(1))
    return (
        bg.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            n.alias("n_bigrams"),
            (F.sum("pq").cast("double") / (F.lit(float(_LM_SCALE)) * n)).alias(
                "lm_score"
            ),
        )
    )


# --------------------------------------------------------------------------
# q5f — corpus top n-grams: whitespace bigrams across all documents, the
# global 20 most frequent (count DESC, bigram ASC). The bigram build is
# an array transform (JVM codegen, no explode-then-self-join); the global
# top-k is orderBy+limit → TakeOrderedAndProject, a per-partition heap +
# driver merge of 20-row heads — never a single-task global sort of the
# full n-gram distribution. The rank decorates only the final 20 rows.
# --------------------------------------------------------------------------
@query(
    "q5f_top_ngrams",
    oracle=f"""
    WITH pos AS ({_gram_pos_sql(2, "doc_id", _doc_tokens_sql("doc_id"))}),
    counts AS (SELECT {_gram_sql(2)} AS bigram, COUNT(*) AS n FROM pos GROUP BY 1)
    SELECT bigram, n, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT bigram, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rnk
      FROM counts
    ) ranked WHERE rnk <= 20
    """,
)
def q5f_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(_tokens_spark().alias("tokens"))
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("tokens") >= 2, _bigram_strings_spark("tokens")
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    counts = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("bigram")).limit(20)
    # rank the 20 survivors via one sorted-array aggregate instead of an
    # unpartitioned WindowExec (struct sorts by (-n, bigram) = n desc,
    # bigram asc — the same tie-break as the limit above)
    return (
        top.agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("n")).alias("_neg"), "bigram", "n"))
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_pos", "_s"))
        .select(
            F.col("_s.bigram").alias("bigram"),
            F.col("_s.n").alias("n"),
            (F.col("_pos") + 1).alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# q5g — DOCUMENT CHUNKING with overlap (context-window prep): every doc
# split into 256-char chunks on a 192-char stride (64-char overlap) — the
# standard shape for packing long documents into model context windows
# with continuity across boundaries. Entirely JVM-side (sequence →
# explode → substring: whole-stage codegen, no Python), embarrassingly
# parallel — no shuffle at all until a downstream consumer groups. Chunk
# text is reduced to (len, md5) so the oracle compares content without
# hauling full strings through the harness; empty docs still yield one
# (empty) chunk in both engines via the greatest() guard — Spark's
# sequence(0, -1) would DESCEND where generate_series(0,-1) is empty.
# --------------------------------------------------------------------------
_CHUNK, _STRIDE = 256, 192


@query(
    "q5g_doc_chunking",
    oracle=f"""
    WITH c AS (
      SELECT d.doc_id, i.i AS chunk_id,
             substr(d.text, CAST(i.i * {_STRIDE} + 1 AS BIGINT), {_CHUNK}) AS chunk
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(
                      0, (greatest(length(d.text), 1) - 1) // {_STRIDE})) AS i) i
    )
    SELECT doc_id, chunk_id,
           CAST(length(chunk) AS INTEGER) AS chunk_len,
           md5(chunk) AS chunk_md5
    FROM c
    """,
)
def q5g_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.expr(
            f"explode(sequence(0L, CAST(greatest(length(text), 1) - 1 AS LONG)"
            f" DIV {_STRIDE})) AS chunk_id"
        ),
        "text",
    ).select(
        "doc_id",
        "chunk_id",
        F.expr(
            f"substring(text, CAST(chunk_id * {_STRIDE} + 1 AS INT), {_CHUNK})"
        ).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.length("chunk").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# q5h — WINNOWING fingerprints (rolling-hash document fingerprinting,
# Schleimer/Wilkerson/Aiken 2003 — the MOSS algorithm): hash every
# 8-char k-gram, slide a 4-position window, keep each window's minimum
# hash; the DISTINCT minima are the document's fingerprints. Guarantees
# any shared substring >= k+w-1 chars yields a shared fingerprint —
# the position-robust near-dup primitive (vs q54's whole-doc md5, which
# any single edit breaks). The rolling-hash O(1) update is a CPU
# optimization; the OUTPUT is defined by per-position k-gram hashes,
# which both engines compute identically via the shared md5-prefix
# hash32 (functions/texthash.py), all codegen scalar work. Shuffle
# shape: positions explode map-side; one shuffle on doc_id for the
# window + the distinct/rollup — no cross-doc comparison anywhere.
#
# Restructured after the sf10 sweep (the q56 class of finding):
# the original shape computed n_pos with a MAX(i) window and hashed
# k-grams in the SAME select, so BOTH engines' window operators
# materialized the exploded rows WITH the full text column attached —
# at sf10 (500k docs, ~200M positions x ~400 B of text each) DuckDB's
# window buffered ~80 GB and thrashed; Spark shuffled text bytes
# through two windows. n_pos is just length(text) - (k-1) — a scalar
# of the BASE row, computed before the explode — and projecting the
# hash FIRST drops text before the one remaining window, whose input
# is (doc_id, i, n_pos, h) at ~28 B/row. Same output bit-for-bit.
# --------------------------------------------------------------------------
_WIN_K = 8  # k-gram chars
_WIN_W = 4  # winnow window positions


@query(
    "q5h_winnow_fingerprint",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, n_pos,
             unnest(generate_series(1, n_pos)) AS i,
             text
      FROM (
        SELECT doc_id, text,
               length(text) - {_WIN_K - 1} AS n_pos
        FROM documents WHERE length(text) >= {_WIN_K}
      )
    ),
    hashed AS (
      SELECT doc_id, i, n_pos,
             {sql_hash32(f"substr(text, CAST(i AS INT), {_WIN_K})")} AS h
      FROM pos
    ),
    winnowed AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                                   AND {_WIN_W - 1} FOLLOWING) AS fp
      FROM hashed
      QUALIFY i <= n_pos - {_WIN_W - 1}
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM winnowed)
    SELECT doc_id, COUNT(*) AS n_fingerprints,
           CAST(SUM(fp) AS BIGINT) AS fp_sum,
           CAST(MIN(fp) AS BIGINT) AS fp_min,
           CAST(MAX(fp) AS BIGINT) AS fp_max
    FROM fps GROUP BY doc_id
    """,
)
def q5h_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The whole winnow is PER-DOCUMENT — k-gram hashes,
    # the w-wide sliding min, the distinct, and the four rollup figures
    # never cross documents — so the explode → window(doc_id) →
    # distinct → groupBy(doc_id) pipeline (two exchanges + a sort of
    # ~25x-exploded position rows) collapses into per-row ARRAY ops:
    # hs = transform(positions), fps = array_distinct(sliding mins),
    # rollups = size/aggregate/array_min/array_max. ZERO exchanges at
    # any scale; per-task transient memory is one doc's position array
    # (8 B x chars — far below the exploded rows the old shape pushed
    # through the shuffle). The Spark-side hash uses the conv() spelling
    # (one JVM intrinsic vs the 8-term instr decode; equality of the two
    # forms is pinned in tests) — the oracle keeps the shared instr SQL
    # and the explode/window shape, and values are identical: only
    # full-width windows survive either way, so the length filter
    # tightens to k+w-1 (shorter docs produced zero winnowed rows).
    # adaptive scan parallelism (catalog.docs_scan_source): the
    # per-position md5 transform is this query's entire cost and runs
    # on ONE core when the corpus is a single small file
    docs = spark.sql(f"SELECT * FROM {docs_scan_source(spark, sf_dir)}").filter(
        F.length("text") >= _WIN_K + _WIN_W - 1
    )
    h = sql_hash32(f"substr(text, CAST(i AS INT), {_WIN_K})", "spark")
    hashed = docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, length(text) - {_WIN_K - 1}), i -> {h})"
        ).alias("hs"),
    )
    fps = hashed.select(
        "doc_id",
        F.expr(
            f"array_distinct(transform(sequence(1, size(hs) - {_WIN_W - 1}),"
            f" j -> array_min(slice(hs, j, {_WIN_W}))))"
        ).alias("fps"),
    )
    return fps.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.expr(
            "aggregate(fps, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).cast("bigint").alias("fp_sum"),
        F.array_min("fps").cast("bigint").alias("fp_min"),
        F.array_max("fps").cast("bigint").alias("fp_max"),
    )


# --------------------------------------------------------------------------
# q5i — tokenizer-vocabulary coverage: build the top-V corpus vocabulary
# (the q58 ranking), then report each doc's out-of-vocabulary token
# occurrence rate — the standard pre-training probe for "how much of
# this corpus will byte-fallback / <unk> under a fixed vocab". Scale
# shape: the vocabulary is V rows (broadcast); the per-doc OOV count is
# one explode + broadcast anti-join + partial-agg group-by — no shuffle
# of token text beyond the explode's local pass.
# --------------------------------------------------------------------------
_VOCAB_V = 64


@query(
    "q5i_oov_rate",
    oracle=f"""
    WITH toks AS {_doc_tokens_sql("doc_id")},
    occ AS (SELECT doc_id, unnest(t) AS token FROM toks),
    vocab AS (
      SELECT token FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
        FROM occ GROUP BY token
      ) ranked WHERE rn <= {_VOCAB_V}
    ),
    oov AS (
      SELECT o.doc_id, COUNT(*) AS n_oov
      FROM occ o LEFT JOIN vocab v USING (token)
      WHERE v.token IS NULL GROUP BY o.doc_id
    )
    SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(x.n_oov, 0) AS BIGINT) AS n_oov,
           CAST(COALESCE(x.n_oov, 0) AS DOUBLE) / len(t.t) AS oov_rate
    FROM toks t LEFT JOIN oov x USING (doc_id)
    """,
)
def q5i_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens_spark().alias("t"))
    occ = toks.select("doc_id", F.explode("t").alias("token"))
    freq = occ.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # V is tiny: rank via one sorted-array aggregate (same warning-free
    # form as dense_id_dict) instead of an unpartitioned window
    vocab = (
        freq.agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("n")).alias("_neg"), "token"))
                ),
                1,
                _VOCAB_V,
            ).alias("_top")
        )
        .select(F.explode("_top").alias("_s"))
        .select(F.col("_s.token").alias("token"))
    )
    oov = (
        occ.join(F.broadcast(vocab), "token", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    n_oov = F.coalesce(F.col("n_oov"), F.lit(0))
    return (
        toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(oov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            n_oov.cast("bigint").alias("n_oov"),
            (n_oov.cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


# --------------------------------------------------------------------------
# q5j — training-mixture reweighting: given frozen target language
# shares (the data-mixing recipe every pretraining run fixes up front),
# compute per-language actual token share, the sampling weight
# (epochs-over-that-slice) that hits the target, and the token count the
# slice contributes at budget. Pure arithmetic over a 5-row aggregate —
# the 100 TB cost is one partial-agg scan; the mixing table itself is
# driver-side policy. Weights are struct-ordered literals shared with
# the oracle, so the whole computation is value-checked.
# --------------------------------------------------------------------------
_MIX_WEIGHTS = {"en": 0.4, "zh": 0.2, "de": 0.15, "fr": 0.15, "es": 0.1}


@query(
    "q5j_mixture_weights",
    oracle=f"""
    WITH w(lang, target_share) AS (VALUES {", ".join(f"('{l}', CAST({v} AS DOUBLE))" for l, v in sorted(_MIX_WEIGHTS.items()))}),
    lt AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM lt)
    SELECT lt.lang, lt.n_docs, lt.n_tokens,
           CAST(lt.n_tokens AS DOUBLE) / tot.total_tokens AS actual_share,
           w.target_share,
           (w.target_share * tot.total_tokens) / lt.n_tokens AS sampling_weight
    FROM lt JOIN w USING (lang) CROSS JOIN tot
    """,
)
def q5j_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        sorted(_MIX_WEIGHTS.items()), "lang string, target_share double"
    )
    lt = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens_spark())).cast("bigint").alias("n_tokens"),
    )
    tot = lt.agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"))
    return (
        lt.join(F.broadcast(w), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias(
                "actual_share"
            ),
            "target_share",
            (
                (F.col("target_share") * F.col("total_tokens"))
                / F.col("n_tokens")
            ).alias("sampling_weight"),
        )
    )


# --------------------------------------------------------------------------
# q5k — BM25 ranked retrieval: score every document against a fixed
# 3-term keyword query with the BM25 weighting (k1=1.2, b=0.75) and
# return the top 20. The idf uses BM25+'s rational core
# (N - df + 0.5)/(df + 0.5) + 1 WITHOUT the final log — transcendentals
# differ across libm builds (q55 precedent) and the per-term weighting
# stays monotone-equivalent. The corpus never materializes full postings:
# tokens are filtered to the 3 query terms BEFORE the explode, so the
# shuffle carries at most 3 rows per matching document; (avgdl, N) and
# the per-term df are 1-row broadcast scalars. The per-document score is
# a fixed-order 3-term sum of per-row IEEE doubles — bit-identical in
# both engines — and the final top-20 is orderBy+limit
# (TakeOrderedAndProject: per-partition heap, no global sort) with the
# rank decorated by the q5f sorted-array idiom (no unpartitioned
# WindowExec).
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "join", "window")
_BM25_TOPK = 20
_BM25_POOL = 100  # candidate pool q79's rank fusion consumes


def _bm25_score_expr() -> str:
    """BM25 score as one SQL expression over columns (dl, n_docs, sum_dl,
    tf_i, df_i) — the SAME text runs in Spark (F.expr) and DuckDB so every
    IEEE operation happens in the same order."""
    parts = []
    for i in range(len(_BM25_TERMS)):
        s = (
            f"(((CAST(n_docs - df_{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{i} AS DOUBLE) + 0.5)) + 1.0)"
            f" * ((CAST(tf_{i} AS DOUBLE) * 2.2)"
            f" / (CAST(tf_{i} AS DOUBLE)"
            f" + (1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
            f" / (CAST(sum_dl AS DOUBLE) / n_docs))))))"
        )
        parts.append(f"COALESCE({s}, 0.0)")
    return " + ".join(parts)


def _bm25_nterms_expr() -> str:
    terms = " + ".join(
        f"(CASE WHEN tf_{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return f"CAST({terms} AS INT)"


def _bm25_case_list(col: str, agg: str) -> str:
    return ",\n             ".join(
        f"MAX(CASE WHEN term = '{t}' THEN {col} END) AS {agg}_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )


_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# Shared WITH-body: everything up to the scored candidate set. q5k ranks
# it to top-20; q79 reuses it as the lexical arm of rank fusion.
BM25_SCORED_CTES = f"""d AS (
      SELECT doc_id, CAST(length({_TOKENS_SQL}) AS INT) AS dl,
             list_filter({_TOKENS_SQL}, t -> t IN ({_BM25_TERM_LIST})) AS qt
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(qt) AS term FROM d) u
      GROUP BY 1, 2
    ), piv AS (
      SELECT doc_id,
             {_bm25_case_list('tf', 'tf')}
      FROM tf GROUP BY 1
    ), dft AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), dfp AS (
      SELECT {_bm25_case_list('df', 'df')}
      FROM dft
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d
    ), bm25_scored AS (
      SELECT p.doc_id, d.dl,
             {_bm25_nterms_expr()} AS n_terms,
             {_bm25_score_expr()} AS score
      FROM piv p JOIN d USING (doc_id) CROSS JOIN stats CROSS JOIN dfp
    )"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored BM25 candidates (doc_id, dl, n_terms, score) — one row per
    document containing >= 1 query term. Shared by q5k (top-20) and q79
    (rank-fusion lexical arm)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(_tokens_spark()).alias("dl"),
        F.filter(_tokens_spark(), lambda t: t.isin(*_BM25_TERMS)).alias("qt"),
    )
    tf = (
        d.select("doc_id", F.explode("qt").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    piv = tf.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("tf"))).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ]
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfp = dft.agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("df"))).alias(f"df_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ]
    )
    stats = d.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    joined = (
        piv.join(d.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfp))
    )
    return joined.select(
        "doc_id",
        "dl",
        F.expr(_bm25_nterms_expr()).alias("n_terms"),
        F.expr(_bm25_score_expr()).alias("score"),
    )


@query(
    "q5k_bm25",
    oracle=f"""
    WITH {BM25_SCORED_CTES}
    SELECT doc_id, CAST(rnk AS INT) AS rank, score, dl, n_terms
    FROM (
      SELECT doc_id, dl, n_terms, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM bm25_scored
    ) r
    WHERE rnk <= {_BM25_TOPK}
    """,
)
def q5k_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    top = (
        bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )
    return (
        top.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("score")).alias("_neg"),
                        "doc_id",
                        "score",
                        "dl",
                        "n_terms",
                    )
                )
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_pos", "_s"))
        .select(
            F.col("_s.doc_id").alias("doc_id"),
            (F.col("_pos") + 1).cast("int").alias("rank"),
            F.col("_s.score").alias("score"),
            F.col("_s.dl").alias("dl"),
            F.col("_s.n_terms").alias("n_terms"),
        )
    )


# --------------------------------------------------------------------------
# q5l — CCNet-style LM-quality bucketing: every document scored by the
# corpus bigram LM (q5e's log-free perplexity proxy) and split into
# head / middle / tail quality buckets, with the keep decision (head +
# middle survive) that CCNet applies before training. The cutoffs are
# FIXED operating constants — exactly the production shape: CCNet
# calibrates its perplexity thresholds once offline (per language, on a
# held-out sample) and then applies them as constants to the full
# corpus, which is also what keeps the op embarrassingly parallel — the
# bucket decision is a per-row comparison against broadcast-free
# literals, no global rank/ntile (a corpus-wide percentile window would
# be a global sort at 100 TB). Cutoffs 0.035/0.033 straddle the
# synthetic corpus's observed score mass (p33≈0.0341/p67≈0.0350 at
# sf0.01) so all three buckets are populated at every driver scale.
# --------------------------------------------------------------------------
_LM_HEAD_CUT = 0.035
_LM_MID_CUT = 0.033


@query(
    "q5l_perplexity_buckets",
    oracle=f"""
    SELECT doc_id, n_bigrams, lm_score,
           CASE WHEN lm_score >= {_LM_HEAD_CUT} THEN 'head'
                WHEN lm_score >= {_LM_MID_CUT} THEN 'middle'
                ELSE 'tail' END AS bucket,
           CASE WHEN lm_score >= {_LM_MID_CUT} THEN 1 ELSE 0 END AS keep
    FROM ({_LM_SCORE_SQL}) lm
    """,
)
def q5l_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = q5e_bigram_lm(spark, sf_dir)
    return lm.select(
        "doc_id",
        "n_bigrams",
        "lm_score",
        F.when(F.col("lm_score") >= F.lit(_LM_HEAD_CUT), "head")
        .when(F.col("lm_score") >= F.lit(_LM_MID_CUT), "middle")
        .otherwise("tail")
        .alias("bucket"),
        F.when(F.col("lm_score") >= F.lit(_LM_MID_CUT), 1)
        .otherwise(0)
        .alias("keep"),
    )


# --------------------------------------------------------------------------
# q5m — TEMPERATURE-smoothed mixture (the mT5/multilingual recipe q5j's
# frozen targets come from): per-language sampling shares proportional
# to share^alpha with alpha = 1/2, which up-weights low-resource slices
# without letting any slice dominate. alpha = 1/2 is deliberate: share^α
# via POWER is a transcendental (libm-dependent — the same reason q55
# drops ln), but SQRT is IEEE-754 correctly rounded in BOTH engines, so
# the smoothing is exact. Each smoothed weight is FLOOR-quantized to
# 2^-40 before the exact bigint normalization sum (the q5e trick), so
# the 5-term denominator is order-independent and the final shares are
# single deterministic divisions. Cost shape: one partial-agg scan to
# 5 rows; everything after is scalar arithmetic on broadcast 1-row
# totals.
# --------------------------------------------------------------------------
_TEMP_SCALE = 1 << 40


@query(
    "q5m_temperature_mix",
    oracle=f"""
    WITH lt AS (
      SELECT lang, CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM lt),
    wq AS (
      SELECT lt.lang, lt.n_tokens,
             CAST(lt.n_tokens AS DOUBLE) / tot.total_tokens AS share,
             CAST(FLOOR(SQRT(CAST(lt.n_tokens AS DOUBLE) / tot.total_tokens)
                        * {_TEMP_SCALE}.0) AS BIGINT) AS w
      FROM lt CROSS JOIN tot
    ),
    totw AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM wq)
    SELECT wq.lang, wq.n_tokens, wq.share,
           CAST(wq.w AS DOUBLE) / totw.total_w AS temp_share,
           (CAST(wq.w AS DOUBLE) / totw.total_w) / wq.share AS boost
    FROM wq CROSS JOIN totw
    """,
)
def q5m_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lt = docs.groupBy("lang").agg(
        F.sum(F.size(_tokens_spark())).cast("bigint").alias("n_tokens")
    )
    tot = lt.agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"))
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    wq = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        share.alias("share"),
        F.floor(F.sqrt(share) * _TEMP_SCALE).cast("bigint").alias("w"),
    )
    totw = wq.agg(F.sum("w").cast("bigint").alias("total_w"))
    temp_share = F.col("w").cast("double") / F.col("total_w")
    return wq.crossJoin(F.broadcast(totw)).select(
        "lang",
        "n_tokens",
        "share",
        temp_share.alias("temp_share"),
        (temp_share / F.col("share")).alias("boost"),
    )


# --------------------------------------------------------------------------
# q5n — BPE MERGE-PAIR statistics (tokenizer-training prep): corpus-wide
# counts of adjacent character pairs within whitespace tokens — the
# statistic byte-pair encoding maximizes at every merge step (merge the
# most frequent pair, re-count, repeat); one iteration is the
# declarative core, and the loop is a driver-side fold over this query
# exactly like q74 is one Lloyd step of k-means. Top-20 by (count DESC,
# pair ASC) via orderBy+limit (per-partition heap) with the q5f
# sorted-array rank — no unpartitioned WindowExec, no full sort of the
# pair distribution. Complements q53 (applying a BPE-ish tokenizer) and
# q58 (vocabulary): together they cover tokenizer train/apply/inspect.
# --------------------------------------------------------------------------
@query(
    "q5n_bpe_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    pairs AS (
      SELECT substr(tok, CAST(i.i AS INT), 2) AS pair
      FROM (SELECT tok FROM toks WHERE length(tok) >= 2) t,
           LATERAL (SELECT unnest(generate_series(1, length(tok) - 1)) AS i) i
    ),
    counts AS (
      SELECT pair, COUNT(*) AS n FROM pairs GROUP BY 1
    )
    SELECT pair, n, CAST(rnk AS INT) AS rnk FROM (
      SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rnk
      FROM counts
    ) ranked WHERE rnk <= 20
    """,
)
def q5n_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(F.explode(_tokens_spark()).alias("tok"))
        .filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> substr(tok, i, 2))"
                )
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("pair")).limit(20)
    return (
        top.agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("n")).alias("_neg"), "pair", "n"))
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_pos", "_s"))
        .select(
            F.col("_s.pair").alias("pair"),
            F.col("_s.n").alias("n"),
            (F.col("_pos") + 1).cast("int").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# q5o — DSIR-style target-matched data selection (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling" — public
# method): score every candidate document by how much its hashed-token
# distribution looks like a TARGET domain (here lang='en' stands in for
# the wiki+books target; the candidate pool is everything else), and
# select the docs the target model prefers. Tokens hash into B = 64
# buckets (the shared md5 device); the target and raw bucket
# distributions are Laplace-smoothed per-mille-style integer shares
# (share = (count+1)*1e6 DIV (total+B)); a doc's score is the inner
# product of its bucket counts with (target_share - raw_share), i.e.
# the FIRST-ORDER (linear) form of DSIR's log-likelihood-ratio around
# t ~= r. The substitution is deliberate and documented: ln() differs
# across libm builds (q55/q59 precedent), so the score is kept fully
# INTEGER — exact on both engines at any parallelism — and selection
# is the sign test score > 0 ("more target-like than raw-like"), not a
# global top-k sort.
#
# Scale (100 TB): both distributions are 64-row partial-aggregated
# summaries (broadcast, ~1 KB); scoring is one map-side broadcast join
# over per-(doc,bucket) counts — no global sort, no driver collect,
# nothing proportional to the corpus except the token scan. Overflow
# regime (ANSI bigint errors, never wraps): (total_tokens+1)*1e6 must
# stay under 2^63 -> exact through ~9e12 tokens; a 100 TB deployment
# widens the share arithmetic to DECIMAL(38,0) behind the same
# expressions.
# --------------------------------------------------------------------------
_DSIR_B = 64
_DSIR_SCALE = 1_000_000


def _dsir_body(dialect: str) -> str:
    h = sql_hash32("'dsir-' || tok", dialect)
    words = D.explode("split(text, ' ')", dialect)
    toks = f"SELECT doc_id, lang, {words} AS tok FROM documents"

    def share(c: str, n: str) -> str:
        num = f"(COALESCE({c}, 0) + 1) * {_DSIR_SCALE}"
        return D.idiv(num, f"({n} + {_DSIR_B})", dialect)

    return f"""
    WITH tok AS (
      SELECT doc_id, lang, ({h}) % {_DSIR_B} AS bucket
      FROM ({toks}) t WHERE tok <> ''
    ),
    spine AS (SELECT {D.explode_series(0, _DSIR_B - 1, dialect)} AS bucket),
    tcnt AS (
      SELECT bucket, COUNT(*) AS c FROM tok WHERE lang = 'en' GROUP BY 1
    ),
    rcnt AS (
      SELECT bucket, COUNT(*) AS c FROM tok WHERE lang <> 'en' GROUP BY 1
    ),
    ttot AS (SELECT COUNT(*) AS n FROM tok WHERE lang = 'en'),
    rtot AS (SELECT COUNT(*) AS n FROM tok WHERE lang <> 'en'),
    dshare AS (
      SELECT s.bucket,
             ({share("t.c", "tt.n")}) - ({share("r.c", "rt.n")})
               AS d
      FROM spine s
      LEFT JOIN tcnt t ON t.bucket = s.bucket
      LEFT JOIN rcnt r ON r.bucket = s.bucket
      CROSS JOIN ttot tt CROSS JOIN rtot rt
    ),
    docb AS (
      SELECT doc_id, bucket, COUNT(*) AS c FROM tok
      WHERE lang <> 'en' GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CAST(SUM(d.c) AS BIGINT) AS n_tokens,
           CAST(SUM(d.c * s.d) AS BIGINT) AS score,
           CAST(CASE WHEN SUM(d.c * s.d) > 0 THEN 1 ELSE 0 END AS INT)
             AS selected
    FROM docb d JOIN dshare s ON s.bucket = d.bucket
    GROUP BY d.doc_id
    """


@query("q5o_dsir_select", oracle=_dsir_body("duckdb"))
def q5o_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_dsir_body("spark"))


# --------------------------------------------------------------------------
# q5p — N-GRAM NOVELTY score: for each document, the fraction of its
# distinct 5-grams that appear for the FIRST time in the corpus at that
# document (corpus ordered by doc_id — crawl/ingest order). This is the
# "fresh token" curve curation pipelines use to decide when an extra
# crawl dump stops adding information (diminishing novelty ⇒ stop
# ingesting), and a per-doc novelty score doubles as a cheap
# templated-boilerplate detector (novelty ~0 ⇒ the doc is stitched from
# already-seen phrases).
#
# Spark shape (100 TB): one gram explode (array expression, JVM
# codegen), then the raw gram text is immediately replaced by a 60-bit
# md5-derived hash (a raw-string shuffle key carries the
# full gram text through both the groupBy and the join — 8-byte longs
# instead). One groupBy(gram_hash) MIN(doc_id) — partial-aggregated
# map-side so the shuffle carries one row per DISTINCT gram, not per
# occurrence — and one join of that first-occurrence table back to the
# per-doc gram sets on the hash. Both engines share the hash, so a
# (cosmically rare at < 2^30 distinct grams) collision merges the same
# two grams in both — the oracle match is unconditional. No windows, no
# collects; everything is integer counts plus one final division that
# rounds once identically in both engines.
# --------------------------------------------------------------------------


def _novelty_oracle() -> str:
    gh = sql_md5_window("m", "duckdb", width=15)
    return f"""
    WITH pos AS ({_gram_pos_sql(_CONTAM_N, "doc_id", _doc_tokens_sql("doc_id"))}),
    grams AS (
      SELECT DISTINCT doc_id, {gh} AS gh
      FROM (SELECT doc_id, md5({_gram_sql(_CONTAM_N)}) AS m FROM pos)
    ),
    first_seen AS (
      SELECT gh, MIN(doc_id) AS first_doc FROM grams GROUP BY gh
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = c.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = c.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
    FROM grams c JOIN first_seen f USING (gh)
    GROUP BY c.doc_id
    """


@query("q5p_ngram_novelty", oracle=_novelty_oracle())
def q5p_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adaptive scan parallelism (see catalog.docs_scan_source)
    docs = spark.sql(
        f"SELECT doc_id, text FROM {docs_scan_source(spark, sf_dir)}"
    )
    grams = _gram_rows_spark(docs, ["doc_id"]).select(
        "doc_id", F.expr(sql_md5_window("md5(g)", "spark", width=15)).alias("gh")
    )
    first_seen = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        grams.join(first_seen, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# q5r — VOCABULARY DRIFT between two corpus snapshots: split the corpus
# into halves A/B by doc_id parity (standing in for consecutive crawl
# snapshots) and surface the tokens whose relative frequency shifted
# most — the tokenizer-health / distribution-shift monitor a training
# pipeline runs before mixing a new crawl into an old recipe. The drift
# score is the cross-multiplied count difference
# |n_a * N_B - n_b * N_A| — an exact BIGINT (no division, no logs: ln()
# differs across libm builds, the q55/q59/q5o precedent), equal to
# N_A*N_B*|rate_a - rate_b| so its ranking IS the rate-shift ranking.
# The per-side rates in the output are single IEEE divisions.
#
# Scale (100 TB): one token-explode scan into a partial-aggregated
# (token, parity) count — the shuffle carries vocabulary rows, not
# tokens; the two corpus totals reduce to ONE broadcast row; top-50 is
# a TakeOrdered (per-partition heap + driver merge of 50-row heads —
# no global sort materialization). Ordering is total (score DESC, token
# ASC — token is the group key, so unique). Overflow: n*N products stay
# under 2^63 through ~3e9 tokens/side; a 100 TB run widens the score to
# DECIMAL(38,0) behind the same expression.
# --------------------------------------------------------------------------
_VOCAB_DRIFT_TOP = 50


def _vocab_drift_sql(dialect: str) -> str:
    return f"""
    WITH toks AS (
      SELECT CAST(doc_id % 2 AS INT) AS half,
             {D.explode(_tokens_sql(dialect), dialect)} AS token
      FROM documents
    ), counts AS (
      SELECT token,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM toks GROUP BY token
    ), totals AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) AS BIGINT) AS tot_b
      FROM counts
    )
    SELECT token, n_a, n_b,
           ABS(n_a * tot_b - n_b * tot_a) AS drift_score,
           CAST(n_a AS DOUBLE) / tot_a AS rate_a,
           CAST(n_b AS DOUBLE) / tot_b AS rate_b
    FROM counts, totals
    ORDER BY drift_score DESC, token
    LIMIT {_VOCAB_DRIFT_TOP}
    """


@query("q5r_vocab_drift", oracle=_vocab_drift_sql("duckdb"))
def q5r_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_vocab_drift_sql("spark"))


# --------------------------------------------------------------------------
# qt5 — CORPUS-HEALTH report: the per-source scorecard a data-curation
# team reads before every training run, composing the engine's
# monitoring signals in ONE scan — volume (docs/chars/tokens), exact
# duplication rate (distinct fingerprints over docs), the quality-gate
# pass rate and the stopword share (corpus-register proxy), all from the
# text rules at the top of this module. The composite closes the
# qt-series: qt1 preps, qt2 goes multimodal, qt4 ingests in-flight,
# qt5 reports.
#
# Scale (100 TB): one token-count projection per doc (codegen scalar
# work — the token ARRAY is sized, never exploded), then ONE
# partial-aggregated groupBy(source) with a distinct-hash sub-agg
# (shuffle carries (source, md5) pairs, 16+32 B/row); output is
# |sources| rows. All counts exact integers; the four rates are single
# IEEE divisions.
# --------------------------------------------------------------------------
def _corpus_health_sql(dialect: str) -> str:
    toks = _tokens_sql(dialect)
    nstop = _n_stop_sql(toks, dialect)
    return f"""
    WITH perdoc AS (
      SELECT source, n_chars, {_FINGERPRINT_SQL} AS th,
             CAST({D.size(toks, dialect)} AS BIGINT) AS n_tokens,
             CAST({nstop} AS BIGINT) AS n_stop,
             CASE WHEN {_quality_sql(nstop)} THEN 1 ELSE 0 END AS is_q
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT th) AS BIGINT) AS n_distinct_texts,
           CAST(COUNT(*) - COUNT(DISTINCT th) AS DOUBLE) / COUNT(*)
             AS exact_dup_rate,
           CAST(SUM(is_q) AS BIGINT) AS n_quality,
           CAST(SUM(is_q) AS DOUBLE) / COUNT(*) AS quality_rate,
           CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stopword_share,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
    FROM perdoc GROUP BY source
    """


@query("qt5_corpus_health", oracle=_corpus_health_sql("duckdb"))
def qt5_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_corpus_health_sql("spark"))


# --------------------------------------------------------------------------
# q5q — LENGTH-BAND SELECTION PROFILE: per-source document-
# length quartile bands with exact boundaries — the length-stratified
# curation policy ("keep the middle two bands, cap the tails") every
# pretraining mix applies before token budgeting. Rank-based banding
# (band of rank rn over n = ((rn-1)*4) DIV n + 1, computed division-free
# with the q27 exact-multiple device, ties broken by doc_id) means both
# engines band identically with no float thresholds anywhere.
#
# Shared SQL runs verbatim on both engines. Scale (100 TB): the window
# partitions by source — a per-source sort, no Exchange SinglePartition;
# row_number/count stream through the sort without buffering rows.
# --------------------------------------------------------------------------
_Q5Q_SQL = """
    WITH ranked AS (
      SELECT source, n_chars, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT source,
           CAST((((rn - 1) * 4) - ((rn - 1) * 4) % n) / n AS BIGINT) + 1
             AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked
    GROUP BY 1, 2
"""


@query("q5q_length_bands", oracle=_Q5Q_SQL)
def q5q_length_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_Q5Q_SQL)


# --------------------------------------------------------------------------
# q5s — ZIPF RANK-FREQUENCY PROFILE: the corpus-quality
# diagnostic every tokenizer/mixture audit starts from — the top-64
# global token frequencies with each rank's Zipf ratio f(1)/f(r)
# (natural text tracks ~r^-1; boilerplate/dup-heavy corpora flatten, and
# a template flood shows up as a cliff). Log-log slope fitting is
# deliberately NOT computed here: ln() is not guaranteed identically
# rounded across libm implementations, while f(1)/f(r) is one IEEE
# division of exact integers per row — bit-identical in both engines.
#
# Spark shape (100 TB): ONE partial-aggregated shuffle keyed on token
# (map-side combine collapses each partition's vocabulary first), then
# a TakeOrderedAndProject top-64 (per-partition heaps, no global sort)
# and the q5f convention for ranking the survivors: one sorted-array
# aggregate over 64 rows instead of an unpartitioned WindowExec.
# --------------------------------------------------------------------------
@query(
    "q5s_zipf_profile",
    oracle=f"""
    WITH counts AS (
      SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({_TOKENS_SQL}) AS t FROM documents) u
      GROUP BY 1
    ),
    ranked AS (
      SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rnk
      FROM counts
    )
    SELECT CAST(rnk AS INT) AS rnk, token, n,
           CAST((SELECT MAX(n) FROM counts) AS DOUBLE) / n AS zipf_ratio
    FROM ranked WHERE rnk <= 64
    """,
)
def q5s_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_tokens_spark()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(64)
    ranked = (
        top.agg(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("n")).alias("_neg"), "token", "n")
                )
            ).alias("_a")
        )
        .select(F.col("_a"), F.posexplode("_a").alias("_pos", "_s"))
    )
    f1 = F.element_at("_a", 1)["n"]
    return ranked.select(
        (F.col("_pos") + 1).alias("rnk"),
        F.col("_s.token").alias("token"),
        F.col("_s.n").alias("n"),
        (f1.cast("double") / F.col("_s.n")).alias("zipf_ratio"),
    )


# --------------------------------------------------------------------------
# q5t — BPE tokenizer APPLICATION: the rung
# above q5n (merge statistics) and below q5i (vocab coverage) that a
# training-data pipeline actually ships — ENCODE the corpus with the
# merge table the statistics derive. The merge table is the top-K
# character pairs by q5n's statistic (count DESC, pair ASC — one
# deterministic rank order); encoding applies the rules to each
# whitespace token in RANK order, each rule merging its adjacent
# single-character unit occurrences left-to-right non-overlapping.
# With character-pair rules this K-round unroll IS greedy
# lowest-rank-first BPE encoding exactly: a merge produces a 2-char
# unit, every later adjacent concatenation involving it has length
# >= 3, and the table holds only 2-char pairs — so no later rule can
# ever match a merged unit, and rank-order application == repeatedly
# merging the best-ranked pair present. Reported per doc: whitespace
# vs BPE token counts and the two compression ratios (BPE tokens per
# char — the fertility statistic tokenizer papers quote — and BPE
# tokens per whitespace token). n_unit_chars re-derives the char total
# from the FINAL units, so a merge that lost or duplicated characters
# cannot hash-match (conservation is part of the oracle row, and
# tests/test_text.py pins the detokenize round-trip itself).
#
# Exactness: everything is integer counting over exact string folds —
# both engines fold unit lists left-to-right with identical CASE
# semantics (Spark `aggregate`, DuckDB `list_reduce` over
# singleton-wrapped units, whose first-element init equals the
# empty-accumulator fold); ratios are one IEEE division each. A corpus
# with < K distinct pairs leaves the tail rounds as no-ops in both
# engines (Spark's merge table is simply shorter; DuckDB's
# out-of-bounds rules[k] is NULL, which matches nothing).
#
# Spark shape (100 TB): the fold runs over the DISTINCT-token
# vocabulary, NOT the token stream — Zipf makes the vocabulary orders
# of magnitude smaller than the corpus (the first cut folded every
# token instance and spent 27 s at sf0.1; the vocab form runs the same
# corpus in ~3 s, all of it in the unavoidable explode/aggregate). The
# stream side is then explode -> hash-join the per-token encoding ->
# one doc_id partial aggregate; AQE broadcasts the vocab side when it
# fits (it is not bounded by construction at 100 TB, so the join is
# NOT hard-wired broadcast). The K merge rounds are JVM higher-order
# functions over the vocab rows with the rules inlined as LITERALS
# (the merge table is a ≤ _BPE_K-row top-K aggregate — the bounded
# driver-shortlist convention; an array-column lookup inside the
# lambda re-evaluates per element and measured ~5x slower even on the
# vocab path).
# --------------------------------------------------------------------------
_BPE_K = 20  # merge-table size (q5n's top-20 statistic)


def _bpe_round_spark(pair: str) -> str:
    """One merge round over `units` (array<string>): left-to-right
    non-overlapping replacement of adjacent (c1, c2) unit pairs with the
    merged rule string."""

    def _lit(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    esc, c1, c2 = _lit(pair), _lit(pair[0]), _lit(pair[1])
    return f"""
    aggregate(
      units,
      CAST(array() AS array<string>),
      (acc, u) -> IF(
        size(acc) > 0
        AND try_element_at(acc, -1) = '{c1}'
        AND u = '{c2}',
        concat(slice(acc, 1, size(acc) - 1), array('{esc}')),
        concat(acc, array(u))))
    """


def _bpe_round_duckdb(k: int) -> str:
    c1 = f"substr(rules[{k}], 1, 1)"
    c2 = f"substr(rules[{k}], 2, 1)"
    # list_reduce has no init accumulator: wrap units as singletons so
    # the first element doubles as the initial accumulator — identical
    # to the empty-init fold because the first unit can never merge
    return f"""
    list_reduce(
      list_transform(units, u -> [u]),
      (acc, x) -> CASE
        WHEN len(acc) > 0 AND acc[-1] = {c1} AND x[1] = {c2}
        THEN list_concat(list_slice(acc, 1, len(acc) - 1), [rules[{k}]])
        ELSE list_concat(acc, x) END)
    """


def _bpe_encode_oracle() -> str:
    rounds = ", ".join(
        f"u{k} AS (SELECT tok, rules, {_bpe_round_duckdb(k)} AS units"
        f" FROM u{k - 1})"
        for k in range(1, _BPE_K + 1)
    )
    return f"""
    WITH ftoks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents) x
      WHERE length(tok) >= 1
    ),
    vfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
              FROM ftoks GROUP BY tok),
    bpairs AS (
      -- instance pair counts == vocab pair counts weighted by token
      -- frequency: the pair explode runs over the VOCABULARY only
      SELECT substr(tok, CAST(i.i AS INT), 2) AS pair, freq
      FROM (SELECT tok, freq FROM vfreq WHERE length(tok) >= 2) t,
           LATERAL (SELECT unnest(generate_series(1, length(tok) - 1)) AS i) i
    ),
    bcounts AS (SELECT pair, SUM(freq) AS n FROM bpairs GROUP BY 1),
    rules_t AS (
      SELECT list(pair ORDER BY n DESC, pair) AS rules
      FROM (SELECT pair, n FROM bcounts ORDER BY n DESC, pair LIMIT {_BPE_K})
    ),
    u0 AS (
      SELECT tok, rules,
             list_transform(generate_series(1, length(tok)),
                            i -> substr(tok, CAST(i AS INT), 1)) AS units
      FROM (SELECT tok FROM vfreq) v, rules_t
    ),
    {rounds},
    enc AS (
      SELECT tok,
             CAST(len(units) AS BIGINT) AS n_units,
             CAST(list_reduce(list_transform(units, u -> length(u)),
                              (a, b) -> a + b) AS BIGINT) AS u_chars
      FROM u{_BPE_K}
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(length(f.tok)) AS BIGINT) AS n_token_chars,
           CAST(SUM(e.n_units) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(e.u_chars) AS BIGINT) AS n_unit_chars,
           CAST(SUM(e.n_units) AS DOUBLE) / SUM(length(f.tok)) AS bpe_per_char,
           CAST(SUM(e.n_units) AS DOUBLE) / COUNT(*) AS bpe_per_ws_token
    FROM ftoks f JOIN enc e ON e.tok = f.tok
    GROUP BY f.doc_id
    """


def _bpe_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q5t per-doc BPE encode aggregate — shared with qt7's
    tokenize-then-pack composite, which lays the encoded token counts
    out into fixed-length training sequences."""
    docs = load_table(spark, sf_dir, "documents")
    # adaptive repartition measured WORSE here (OPTIMIZATION_r12.md:
    # on 2.1-2.9s vs off 1.3-1.7s): the whitespace tokenize is cheap
    # enough that the extra shuffle (paid twice — toks derives twice)
    # outweighs the parallelism; only md5-per-position streams win it
    toks = docs.select(
        "doc_id", F.explode(_tokens_spark()).alias("tok")
    ).filter(F.length("tok") >= 1)
    # one instance-level aggregate builds the frequency-weighted
    # vocabulary; everything pair/rule/encode-shaped runs over IT
    freqs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    freqs = freqs.localCheckpoint()  # reused by rules AND encode below
    # merge table: q5n's pair statistic over token INSTANCES (== vocab
    # pair counts weighted by freq), ≤ _BPE_K rows by construction —
    # the bounded driver-shortlist convention; sort mirrors the orderBy
    # so collect-order nondeterminism cannot reorder the merge table
    pairs = (
        freqs.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> substr(tok, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_K)
    )
    rules = [
        r.pair for r in sorted(top.collect(), key=lambda r: (-r.n, r.pair))
    ]
    # encode the VOCABULARY (distinct tokens), not the token stream
    vocab = freqs.select("tok").withColumn(
        "units",
        F.expr(
            "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"
        ),
    )
    for pair in rules:
        vocab = vocab.withColumn("units", F.expr(_bpe_round_spark(pair)))
    enc = vocab.select(
        "tok",
        F.size("units").cast("bigint").alias("n_units"),
        F.expr("aggregate(units, 0, (a, u) -> a + length(u))")
        .cast("bigint")
        .alias("u_chars"),
    )
    return (
        toks.join(enc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ws_tokens"),
            F.sum(F.length("tok")).cast("bigint").alias("n_token_chars"),
            F.sum("n_units").cast("bigint").alias("n_bpe_tokens"),
            F.sum("u_chars").cast("bigint").alias("n_unit_chars"),
            (
                F.sum("n_units").cast("double") / F.sum(F.length("tok"))
            ).alias("bpe_per_char"),
            (F.sum("n_units").cast("double") / F.count(F.lit(1))).alias(
                "bpe_per_ws_token"
            ),
        )
    )


@query("q5t_bpe_encode", oracle=_bpe_encode_oracle())
def q5t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_doc_counts(spark, sf_dir)


# --------------------------------------------------------------------------
# q5u — HASHED-FEATURE LINEAR QUALITY CLASSIFIER: model-BASED
# quality filtering, the rung above q51's hand-written heuristics — the
# fastText-style linear scorer (hashed bag-of-words -> weight lookup ->
# margin) that production pipelines (CCNet, fastText lang/quality
# filters) apply at corpus scale. No trained checkpoint ships in this
# container, so the 4096-entry weight vector is a FROZEN deterministic
# stand-in (w[b] = hash32('w|'||b) % 2001 - 1000, integers in
# [-1000, 1000]); the Spark-side plumbing — feature hashing, weight
# table application, margin aggregation, keep decision — is exactly the
# production shape and swapping real trained weights in is a one-table
# change.
#
# Exactness: token -> bucket is the shared md5-based hash32 (identical
# in both engines), the margin is an exact BIGINT sum of bounded
# integer weights (order-independent), and the score is ONE IEEE
# division per doc. DuckDB's SUM(BIGINT) widens to HUGEINT, so both
# margins are CAST back to BIGINT explicitly.
#
# Spark shape (100 TB): explode -> scalar md5 bucket (codegen) ->
# BROADCAST hash join against the 4096-row weight table (built from
# spark.range, never collected) -> one doc_id partial aggregate. One
# shuffle total (the final doc_id agg); the weight join is
# hard-broadcast because the table is bounded by construction (4096
# rows at any corpus size — the real-model analog is a vocab-hash
# weight vector, fixed at training time).
# --------------------------------------------------------------------------
_CLF_BUCKETS = 4096


def _clf_weight_sql(dialect: str) -> str:
    """w[b] for a bucket column `b`: deterministic stand-in weights."""
    h = sql_hash32("concat('w|', CAST(b AS STRING))", dialect)
    return f"CAST({h} % 2001 - 1000 AS BIGINT)"


def _clf_oracle() -> str:
    tok_h = sql_hash32("tok", "duckdb")
    return f"""
    WITH weights AS (
      SELECT CAST(b AS BIGINT) AS bucket, {_clf_weight_sql("duckdb")} AS w
      FROM (SELECT unnest(range({_CLF_BUCKETS})) AS b)
    ),
    toks AS (
      SELECT doc_id, {tok_h} % {_CLF_BUCKETS} AS bucket
      FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents) x
      WHERE length(tok) >= 1
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w.w) AS BIGINT) AS margin,
           CAST(SUM(w.w) AS DOUBLE) / COUNT(*) AS score,
           CAST(SUM(w.w) AS BIGINT) > 0 AS keep
    FROM toks t JOIN weights w ON w.bucket = t.bucket
    GROUP BY t.doc_id
    """


@query("q5u_quality_classifier", oracle=_clf_oracle())
def q5u_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(_tokens_spark()).alias("tok"))
        .filter(F.length("tok") >= 1)
        .select(
            "doc_id",
            F.expr(
                f"{sql_hash32('tok', 'spark')} % {_CLF_BUCKETS}"
            ).alias("bucket"),
        )
    )
    weights = (
        spark.range(_CLF_BUCKETS)
        .withColumnRenamed("id", "b")
        .select(
            F.col("b").alias("bucket"),
            F.expr(_clf_weight_sql("spark")).alias("w"),
        )
    )
    margin = F.sum("w").cast("bigint")
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            margin.alias("margin"),
            (margin.cast("double") / F.count(F.lit(1))).alias("score"),
            (margin > 0).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# q5w — CHI-SQUARE SOURCE-DRIFT AUDIT: the distribution-drift
# monitor for the curation mix — per source, the chi-square statistic of
# its document-length histogram (fixed 64-char-wide bands) against the
# corpus-wide band distribution. A source whose length profile diverges
# from the pool (template floods, truncation bugs, a feed that switched
# formats) surfaces as a large per-source chi2 long before its content
# metrics move. Chi-square is chosen over PSI/KL deliberately: it needs
# NO logarithms — ln() is not guaranteed identically rounded across
# libm implementations (the q5s rationale), while every chi2 term is a
# short fixed sequence of single IEEE ops ((o-e)^2/e with
# e = row_total*col_total/N), bit-identical in both engines.
#
# The statistic runs over the FULL source x band grid (absent cells
# contribute e, not 0 — dropping them understates drift); the grid is
# |sources| x |bands| metadata, built from two broadcast-scale rollups
# of the same cell table. Per-source summation goes through the
# FLOOR * 2^36 quantization device (order-independent, engine-exact).
#
# Spark shape (100 TB): ONE pushed-down scan (source, n_chars only) ->
# (source, band) partial aggregate; everything downstream — row/column
# totals, the grid join, the chi2 rollup — runs on metadata-sized
# tables. The scalar N join is a keyless aggregate (bounded build).
# --------------------------------------------------------------------------
_DRIFT_BAND_W = 64.0
_DRIFT_Q = 68719476736.0  # 2^36, the shared quantization device


# the shared (source, band) contingency table `cellt`, read by the row,
# column and total marginals and the grid join
_Q5W_CELLT = f"""
      SELECT source, CAST(FLOOR(n_chars / {_DRIFT_BAND_W}) AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    """

_Q5W_BODY = f"""
    WITH rowt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM cellt GROUP BY 1),
    colt AS (SELECT band, CAST(SUM(o) AS BIGINT) AS c FROM cellt GROUP BY 1),
    nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cellt),
    grid AS (
      SELECT rt.source, ct.band, rt.r, ct.c, nt.n,
             COALESCE(ce.o, 0) AS o
      FROM rowt rt CROSS JOIN colt ct CROSS JOIN nt
      LEFT JOIN cellt ce ON ce.source = rt.source AND ce.band = ct.band
    ),
    contrib AS (
      SELECT source, r,
             (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * c / n)
               * (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * c / n)
               / (CAST(r AS DOUBLE) * c / n) AS x
      FROM grid
    )
    SELECT source,
           MIN(r) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bands,
           CAST(SUM(CAST(FLOOR(x * {_DRIFT_Q}) AS BIGINT)) AS DOUBLE)
             / {_DRIFT_Q} AS chi2,
           (CAST(SUM(CAST(FLOOR(x * {_DRIFT_Q}) AS BIGINT)) AS DOUBLE)
             / {_DRIFT_Q}) / MIN(r) AS chi2_per_doc
    FROM contrib GROUP BY 1
"""

@query("q5w_chi2_drift", oracle=oracle_with(_Q5W_BODY, cellt=_Q5W_CELLT))
def q5w_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_with(spark, sf_dir, _Q5W_BODY, cellt=_Q5W_CELLT)


# --------------------------------------------------------------------------
# qt7 — TOKENIZE-THEN-PACK COMPOSITE: the job a trainer
# actually submits — encode the corpus with the q5n-derived BPE merge
# table (q5t's per-doc counts, reused verbatim) and lay the ENCODED
# token stream out into fixed 512-token training sequences (q5d's
# packing layout, which packs by whitespace counts; real packing packs
# by tokenizer output, which is what this composite does). Chaining the
# stages pins the integration seam: a tokenizer change reshuffles every
# chunk boundary downstream, and the oracle replays the full
# vocab -> merges -> encode -> prefix-sum -> chunk-span flow.
#
# Exactness: all-integer (token counts, exclusive prefix sums, FLOOR
# chunk division on non-negative values). Spark's global exclusive
# running sum is pipeline.offset_scan with a weight (per-bucket sums,
# driver prefix over bounded bucket rows, partitioned window), so there
# is no Exchange SinglePartition anywhere; the oracle's single ORDER BY
# window is the semantic twin.
#
# Spark shape (100 TB): q5t's vocab-sized encode (fold over DISTINCT
# tokens, hash-join back to the stream, one doc_id partial aggregate)
# feeds a doc_id-bucketed prefix sum — the same scale story as q5d,
# with the tokenizer swapped from whitespace to the trained BPE.
# --------------------------------------------------------------------------
@query(
    "qt7_tokenize_pack",
    oracle=f"""
    WITH perdoc AS (
      SELECT doc_id, n_bpe_tokens FROM ({_bpe_encode_oracle()}) q
    ),
    c AS (
      SELECT doc_id, n_bpe_tokens,
             CAST(COALESCE(SUM(n_bpe_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_tok
      FROM perdoc
    )
    SELECT doc_id, n_bpe_tokens, start_tok,
           start_tok // {_PACK_B} AS chunk_first,
           (start_tok + n_bpe_tokens - 1) // {_PACK_B} AS chunk_last,
           (start_tok + n_bpe_tokens - 1) // {_PACK_B}
             - start_tok // {_PACK_B} + 1 AS n_chunks
    FROM c
    """,
)
def qt7_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.pipeline import offset_scan

    d = _bpe_doc_counts(spark, sf_dir).select(
        "doc_id", F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens")
    )
    c, _ = offset_scan(
        d, F.col("doc_id") / 4096, ["doc_id"],
        weight=F.col("n_bpe_tokens"), name="start_tok",
    )
    first = F.expr(f"start_tok DIV {_PACK_B}")
    last = F.expr(f"(start_tok + n_bpe_tokens - 1) DIV {_PACK_B}")
    return c.select(
        "doc_id",
        "n_bpe_tokens",
        "start_tok",
        first.alias("chunk_first"),
        last.alias("chunk_last"),
        (last - first + 1).alias("n_chunks"),
    )
