"""Registry entries for text analysis (lang-ID, quality, token stats,
fingerprints) over the documents corpus."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import portable as P, text as T
from . import corpus
from .registry_core import declare


@declare(
    "text_langid",
    f"""
SELECT doc_id,
       {P.rounded_sql(T.stopword_ratio_sql('text'))} AS stopword_ratio,
       CASE WHEN {T.stopword_ratio_sql('text')} >= 0.02 THEN 'en'
            ELSE 'unknown' END AS lang_pred,
       lang AS lang_actual
FROM documents
""",
    survey_ids="text-langid",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language heuristic (n-gram LM stand-in: the
    feature extraction and thresholding shape is what scales; swapping
    in real per-language stopword tables is a constants change)."""
    docs = corpus.docs(spark, sf_dir)
    ratio = T.stopword_ratio_expr("text")
    return docs.select(
        "doc_id",
        P.rounded(ratio).alias("stopword_ratio"),
        F.when(ratio >= 0.02, F.lit("en")).otherwise(F.lit("unknown")).alias(
            "lang_pred"
        ),
        F.col("lang").alias("lang_actual"),
    )


@declare(
    "text_quality",
    f"""
SELECT doc_id,
       {P.rounded_sql(T.punct_ratio_sql('text'))} AS punct_ratio,
       {P.rounded_sql(T.uniq_token_ratio_sql('text'))} AS uniq_ratio,
       {T.quality_score_sql('text')} AS quality
FROM documents
""",
    survey_ids="text-quality",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = corpus.docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.explode(T.quality_features_expr("text")).alias("qf")
    ).select("doc_id", "qf.punct_ratio", "qf.uniq_ratio", "qf.quality")


@declare(
    "token_stats",
    f"""
SELECT doc_id,
       CAST({T.ws_token_count_sql('text')} AS INTEGER) AS n_ws_tokens,
       CAST({T.re_token_count_sql('text')} AS INTEGER) AS n_re_tokens,
       CAST(len(list_distinct({P.tokens_sql('text')})) AS INTEGER) AS n_distinct,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
""",
    survey_ids="text-tokens",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = corpus.docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).cast("int").alias("n_ws_tokens"),
        T.re_token_count(F.col("text")).cast("int").alias("n_re_tokens"),
        F.expr(
            f"CAST(size(array_distinct({P.tokens_spark_sql('text')})) AS INT)"
            " AS n_distinct"
        ),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


@declare(
    "doc_fingerprint",
    f"""
WITH positioned AS (
    SELECT doc_id,
           unnest({P.tokens_sql('text')}) AS term,
           generate_subscripts({P.tokens_sql('text')}, 1) AS pos
    FROM documents
),
hashed AS (
    SELECT doc_id,
           {P.md5_long_sql("pos::VARCHAR || '_' || term")} % {T.FP_MOD} AS h
    FROM positioned
)
SELECT doc_id, CAST(sum(h) % {T.FP_MOD} AS BIGINT) AS fingerprint
FROM hashed
GROUP BY doc_id
""",
    survey_ids="text-fingerprint",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-sensitive rolling document fingerprint: md5 of
    (position, token) folded mod a prime — order changes change the
    print, unlike a bag hash. Computed per-row from the token array
    (no explode, no shuffle): sum commutes, so the in-order fold equals
    the oracle's unordered SUM exactly in int64 (every term < FP_MOD,
    |tokens| * FP_MOD << 2^63 — no overflow, no FP)."""
    docs = corpus.docs(spark, sf_dir)
    # CASE keeps the fold total on empty token arrays even if a rule
    # reorders it ahead of the size filter: sequence(1, 0) descends to
    # [1, 0] and toks[-1] errors under ANSI
    # (operators/dedup.shingle_arrays documents the trap family)
    fold = (
        "CASE WHEN size(toks) > 0 THEN "
        "aggregate(sequence(1, size(toks)), 0L, (acc, i) -> acc + "
        "cast(conv(substring(md5(concat(cast(i as string), '_', toks[i - 1])),"
        f" 1, 15), 16, 10) as bigint) % {T.FP_MOD}L)"
        " ELSE 0L END"
    )
    return (
        docs.selectExpr("doc_id", f"{P.tokens_spark_sql('text')} AS toks")
        .filter(F.size("toks") > 0)
        .selectExpr("doc_id", f"CAST({fold} % {T.FP_MOD}L AS BIGINT) AS fingerprint")
    )


@declare(
    "token_stats_bpe",
    f"""
WITH toks AS (
    SELECT doc_id, {T.bpe_tokens_sql('text')} AS tk FROM documents
)
SELECT doc_id,
       CAST(len(tk) AS INTEGER) AS n_bpe,
       CAST(len(list_filter(tk, t -> regexp_full_match(t, '[a-zA-Z]+')))
            AS INTEGER) AS n_word,
       CAST(len(list_filter(tk, t -> regexp_full_match(t, '[0-9]+')))
            AS INTEGER) AS n_num,
       CAST(len(list_filter(tk, t -> t LIKE '''%')) AS INTEGER)
            AS n_contraction
FROM toks
""",
    survey_ids="text-tokens",
)
def q_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenization counts (the brief's 'BPE-ish regex'):
    contraction suffixes / letter runs / digit runs / punctuation runs,
    with per-class counts — the token accounting an LLM data pipeline
    runs before actual BPE merges. Pure column expressions; the token
    array never leaves the row."""
    docs = corpus.docs(spark, sf_dir)
    tk = T.bpe_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(tk).cast("int").alias("n_bpe"),
        F.size(F.filter(tk, lambda t: t.rlike("^[a-zA-Z]+$")))
        .cast("int")
        .alias("n_word"),
        F.size(F.filter(tk, lambda t: t.rlike("^[0-9]+$")))
        .cast("int")
        .alias("n_num"),
        F.size(F.filter(tk, lambda t: t.startswith("'")))
        .cast("int")
        .alias("n_contraction"),
    )


_REPETITION_SQL = f"""
SELECT doc_id,
       {T.top_ngram_ratio_sql('text', 2)} AS top_2gram_ratio,
       {T.dup_ngram_ratio_sql('text', 3)} AS dup_3gram_ratio
FROM documents
"""


@declare("text_repetition", _REPETITION_SQL, survey_ids="text-quality")
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: the share of 2-gram instances
    taken by the most frequent 2-gram, and the share of 3-gram
    instances whose 3-gram repeats — the filters that catch boilerplate
    and degenerate generations. Per-row expressions (map-only, zero
    shuffles); the repetition section of functions/text.py documents
    the explode+groupBy alternative for book-length documents. Both
    signals come from ONE joined-token string via
    repetition_features_expr (consuming-regex gram extraction +
    sorted-array folds; the function's docstring records the measured
    variant matrix), with explode as the Generate barrier
    that keeps CollapseProject from re-inlining the shared work into
    each output column."""
    docs = corpus.docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.explode(T.repetition_features_expr("text")).alias("rf")
    ).selectExpr(
        "doc_id",
        "rf.top_2gram_ratio",
        "rf.dup_3gram_ratio",
    )
