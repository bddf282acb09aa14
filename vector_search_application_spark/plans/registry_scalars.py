"""Registry entries for scalar functions, projections, and pagination
(SURVEY.md §2.10 C1-C4, §2.6 V5/V6, §2.5 Q4, §2.11 aggregations)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import classifier, portable as P, scalars
from ..operators import fusion, topk
from . import corpus
from .registry import FUSION_BLOCK, declare, q_fusion_max_dedup

# golden classifier cases (FIXTURES.md §6) + corpus-derived strings
CLASSIFIER_LITERALS = [
    "HYP220479",
    "RAD64002019",
    "MIL11-1101C",
    "p/n: AB1234",
    "gas torch",
    "welding helmet",
    "how to find best torch",
    "page 12",
    "iphone 15",
    "abc",
    "torch",
]


def _classifier_literal_inputs(spark: SparkSession) -> DataFrame:
    """The golden classifier literals as a JVM-built table (explode of
    an array literal — no Python workers, required for the driver's
    vanilla session). Shared by both C1 queries so the no-workers idiom
    lives in one place."""
    return spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in CLASSIFIER_LITERALS])).alias(
            "query_text"
        )
    )


@declare(
    "partno_classifier",
    f"""
WITH inputs AS (
    SELECT unnest([{', '.join("'" + s.replace("'", "''") + "'" for s in CLASSIFIER_LITERALS)}])
        AS query_text
    UNION ALL
    SELECT upper(replace(p_brand, '#', '')) || {corpus.PADDED_KEY_SQL}
    FROM part WHERE p_partkey < 10
    UNION ALL
    SELECT p_name FROM part WHERE p_partkey < 10
)
SELECT query_text,
       {classifier.partno_score_sql('query_text')} AS score,
       {classifier.is_part_number_sql('query_text')} AS is_part_number
FROM inputs
""",
    survey_ids="C1,C2",
)
def q_partno_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 classifier over golden literals + corpus-derived strings.

    The literal rows are built JVM-side (explode of an array literal,
    no Python workers — required for the driver's vanilla session)."""
    lits = _classifier_literal_inputs(spark)
    part = corpus._read(spark, sf_dir, "part").filter(F.col("p_partkey") < 10)
    pn = part.select(
        corpus.part_number().alias("query_text")
    )
    names = part.select(F.col("p_name").alias("query_text"))
    inputs = lits.unionByName(pn).unionByName(names)
    return inputs.select(
        "query_text",
        classifier.partno_score(F.col("query_text")).alias("score"),
        classifier.is_part_number(F.col("query_text")).alias("is_part_number"),
    )


@declare(
    "partno_explain",
    f"""
WITH inputs AS (
    SELECT unnest([{', '.join("'" + s.replace("'", "''") + "'" for s in CLASSIFIER_LITERALS)}])
        AS query_text
)
SELECT query_text,
       {', '.join(classifier.partno_explain_sql('query_text'))},
       {classifier.partno_score_sql('query_text')} AS score,
       {classifier.is_part_number_sql('query_text')} AS is_part_number
FROM inputs
""",
    survey_ids="C1",
)
def q_partno_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 explain variant (reference scripts/partno_classifier.py:146-282):
    per-feature integer contributions whose sum is the score."""
    lits = _classifier_literal_inputs(spark)
    return lits.select(
        "query_text",
        *classifier.partno_explain_cols(F.col("query_text")),
        classifier.partno_score(F.col("query_text")).alias("score"),
        classifier.is_part_number(F.col("query_text")).alias("is_part_number"),
    )


# --- V5/V6 projections over the fused result list -----------------------

_NORMED_FUSED = f"""
{FUSION_BLOCK},
normed AS (
    SELECT id, score, search_type,
           {P.rounded_sql(
               "CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0"
               " ELSE (score - min(score) OVER ())"
               " / (max(score) OVER () - min(score) OVER ()) END"
           )} AS norm_score
    FROM fused
)
""".strip()


@declare(
    "search_details_projection",
    f"""
WITH {_NORMED_FUSED}
SELECT {scalars.normalize_image_url_sql('p.img_270Wx270H_string')} AS image,
       n.id,
       p.shortDescription_airgas_text AS text,
       p.manufacturerPartNumber_text AS "Mfr Code",
       p.onlinePrice_string AS "Price",
       round(n.norm_score, 3) AS score,
       n.search_type,
       {scalars.score_label_sql('n.norm_score')} AS match_quality
FROM normed n JOIN products p USING (id)
""",
    survey_ids="V5,C3,C4,F4",
)
def q_search_details_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 search-with-details: fused list -> min-max normalize -> join
    payload -> UI projection with C3 label + C4 image URL fix.

    The fused list is K rows, so the payload join broadcasts the list
    side — at 100 TB the products table is never shuffled for a lookup."""
    fused = q_fusion_max_dedup(spark, sf_dir)
    normed = fusion.normalize_scores(fused, "min_max", "id")
    prods = corpus.products(spark, sf_dir)
    return prods.join(F.broadcast(normed), "id").select(
        scalars.normalize_image_url(F.col("img_270Wx270H_string")).alias("image"),
        F.col("id"),
        F.col("shortDescription_airgas_text").alias("text"),
        F.col("manufacturerPartNumber_text").alias("Mfr Code"),
        F.col("onlinePrice_string").alias("Price"),
        F.round(F.col("norm_score"), 3).alias("score"),
        F.col("search_type"),
        scalars.score_label(F.col("norm_score")).alias("match_quality"),
    )


@declare(
    "search_ids_projection",
    f"""
WITH {FUSION_BLOCK}
SELECT id, score FROM fused
""",
    survey_ids="V6",
)
def q_search_ids_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 minimal projection: {{id, score}} only."""
    return q_fusion_max_dedup(spark, sf_dir).select("id", "score")


# --- Q4: pagination + counts (and §2.11's visible aggregations) ----------


@declare(
    "scroll_page",
    """
SELECT doc_id, source, n_chars
FROM documents
ORDER BY doc_id ASC
LIMIT 20 OFFSET 40
""",
    survey_ids="Q4,K2",
)
def q_scroll_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = corpus.docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return topk.paginate(docs, "doc_id", limit=20, offset=40)


@declare(
    "keyset_page",
    """
SELECT doc_id, source, n_chars
FROM documents
WHERE doc_id > 39
ORDER BY doc_id ASC
LIMIT 20
""",
    survey_ids="Q4,K2,K3",
)
def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4's scale path: cursor pagination — same page as scroll_page
    (rows after doc_id 39) but via a pushed-down cursor predicate +
    TakeOrderedAndProject instead of a full-table ranking window."""
    docs = corpus.docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return topk.keyset_page(docs, "doc_id", after=39, limit=20)


@declare(
    "corpus_counts",
    """
SELECT source,
       count(*)::BIGINT AS n_docs,
       round(avg(n_chars)::DOUBLE, 6) AS avg_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY source
""",
    survey_ids="Q4,agg",
)
def q_corpus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        corpus.docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            P.rounded(F.avg("n_chars")).alias("avg_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


@declare(
    "event_props_agg",
    """
SELECT event_type,
       count(*)::BIGINT AS n,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
""",
    survey_ids="§2.10,§2.11",
)
def q_event_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction + aggregation: the events table's props
    column is a JSON blob (the reference's extra='allow' payload
    overflow, SURVEY.md §1.4); get_json_object pulls the typed field in
    the scan stage, so only the extracted int reaches the one shuffle.
    At scale, persistent extraction = a generated column the scan
    prunes to."""
    events = corpus._read(spark, sf_dir, "events").filter(
        F.col("props").isNotNull()
    )
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@declare(
    "event_value_median",
    """
WITH ranked AS (
    SELECT event_type, value, event_id,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type, CAST(n AS BIGINT) AS n, round(value, 6) AS median_value
FROM ranked WHERE rn = (n + 1) // 2
""",
    survey_ids="§2.11,§2.12",
)
def q_event_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median by explicit rank-pick (lower median at
    rn = (n+1) div 2, ties broken by event_id) — the same arithmetic in
    both engines, so it golden-matches where percentile built-ins'
    interpolation rules would not. One shuffle on the group key; both
    windows share it."""
    events = corpus._read(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    # asc_nulls_last pins the rank against the DuckDB twin: Spark's
    # F.asc sorts NULLS FIRST, DuckDB's ASC sorts them LAST — a NULL
    # value anywhere in a group would shift every rank and change which
    # row the (n+1) DIV 2 pick lands on (current fixtures carry no
    # NULLs, so values are unchanged; this closes the latent divergence)
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), F.asc("event_id")
    )
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("CAST((n + 1) DIV 2 AS BIGINT)")
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("value"), 6).alias("median_value"),
    )


# --- §2.11 extension: ROLLUP token accounting ------------------------------

_ROLLUP_SQL = f"""
SELECT coalesce(lang, '<all>') AS lang,
       coalesce(source, '<all>') AS source,
       count(*)::BIGINT AS n_docs,
       sum({P.token_count_sql('text')})::BIGINT AS n_tokens
FROM documents
GROUP BY ROLLUP (lang, source)
""".strip()


@declare("token_accounting_rollup", _ROLLUP_SQL, survey_ids="§2.11")
def q_token_accounting_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting at every reporting level in one pass —
    (lang, source), per-lang subtotals, grand total — via ROLLUP
    (the reference has no grouping sets at all, SURVEY.md §2.11).
    Spark expands rollup into partial-aggregable grouping-id groups:
    still ONE shuffle, map-side combine per level. lang/source are
    never NULL in this corpus, so coalesce labels are unambiguous."""
    docs = corpus.docs(spark, sf_dir)
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                f"CAST(sum(size({P.tokens_spark_sql('text')})) AS BIGINT) AS n_tokens"
            ),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "n_docs",
            "n_tokens",
        )
    )


# --- §2.12 extension: sliding-frame window over event time -----------------

_SLIDING_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       round(avg(value) OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(ts) ASC, event_id ASC
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS sliding_avg
FROM events
WHERE ts IS NOT NULL
""".strip()


@declare("event_sliding_avg", _SLIDING_SQL, survey_ids="§2.12")
def q_event_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing average over an explicit ROWS frame (3
    preceding + current) — the §2.12 frame-spec surface the reference
    never exercises. The frame order is total (ts, event_id), so the
    FP accumulation order is identical in both engines; rounded to 6
    per the portable-parity contract. One shuffle on user_id. NULL
    event times excluded in both engines — the frame order is on ts,
    and Spark sorts NULLS FIRST on ASC where DuckDB sorts NULLS LAST."""
    raw = corpus._read(spark, sf_dir, "events")
    events = raw.filter(F.col("ts").isNotNull()).select(
        "user_id", "event_id", "value", corpus.ts_us(raw).alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts_us"), F.asc("event_id"))
        .rowsBetween(-3, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        "ts_us",
        F.round(F.avg("value").over(w), 6).alias("sliding_avg"),
    )
