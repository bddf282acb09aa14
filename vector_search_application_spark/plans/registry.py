"""The declared-query registry: every entry pairs a Spark DataFrame
builder with the DuckDB oracle SQL computing the identical result.

This is the driver contract surface (__spark_entry__.py): queries() and
oracle_sql() are both views over REGISTRY. Parity rules are documented
in functions/portable.py; SURVEY.md §2 operator ids are cited per entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import portable as P
from ..functions import text as T
from ..functions.cache import plan_memo
from ..operators import bm25, exact, fusion, topk
from . import corpus, sqlfrag
from .constants import (
    BM25_B,
    BM25_K1,
    BRANCH_INFLATION,
    K,
    LINEAR_ALPHA,
    POSTFILTER_INFLATION,
    QUERY_TEXT,
    QUERY_VEC_ID,
    RRF_RANK_K,
    SCORE_THRESHOLD,
)


# Declared/REGISTRY/declare live in registry_core (a leaf module) so
# sibling registry modules can register entries without importing THIS
# module — see registry_core's docstring for the circular-import story.
from .registry_core import REGISTRY, Declared, declare  # noqa: F401


# ---------------------------------------------------------------------------
# V1 — dense top-k (exact brute-force oracle semantics)
# ---------------------------------------------------------------------------

_DENSE_CTES = sqlfrag.dense_scored_cte(corpus.query_vector_cte(QUERY_VEC_ID))


@declare(
    "dense_topk",
    f"""
WITH {_DENSE_CTES}
SELECT id AS vec_id, score
FROM dense_scored
ORDER BY score DESC, id ASC
LIMIT {K}
""",
    survey_ids="V1,K1,K3",
)
def q_dense_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    return topk.topk(topk.score_against_query(vecs, q), K)


@declare(
    "dense_topk_batch",
    f"""
WITH qs AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id < 5
),
scored AS (
    SELECT qs.query_id, e.vec_id,
           {P.rounded_sql(P.cosine_sql('e.embedding', 'qs.qvec'))} AS score
    FROM embeddings e CROSS JOIN qs
),
ranked AS (
    SELECT query_id, vec_id, score,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
    FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rn <= {K}
""",
    survey_ids="V1,K2",
)
def q_dense_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-of-queries dense top-k: broadcast the query set, one window.

    The 100 TB shape: corpus partitions never move; the small query side
    is broadcast and per-query ranking is a partial top-k per partition
    (window after AQE-coalesced exchange on query_id).
    """
    vecs = corpus.vectors(spark, sf_dir)
    qs = (
        vecs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    scored = topk.score_pairs(vecs, qs, query_keep=["query_id"]).select(
        "query_id", "vec_id", "score"
    )
    return topk.topk_per_group(scored, "query_id", K)


_BATCH_SQL = [d for d in REGISTRY if d.name == "dense_topk_batch"][0].sql


@declare(
    "dense_topk_batch_salted",
    _BATCH_SQL,
    survey_ids="V1,K2",
)
def q_dense_topk_batch_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe variant of dense_topk_batch: two-phase salted
    per-group top-k (local top-k per (query, salt), then global). Same
    oracle — results must be identical, ties included; what changes is
    the shuffle: the naive window sends each query's ENTIRE scored
    corpus to one reducer, the salted plan's final shuffle moves only
    n_salts*k rows per query. This is the plan to use on a hot query or
    at full corpus scale."""
    vecs = corpus.vectors(spark, sf_dir)
    qs = (
        vecs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    scored = topk.score_pairs(vecs, qs, query_keep=["query_id"]).select(
        "query_id", "vec_id", "score"
    )
    return topk.topk_per_group_salted(scored, "query_id", K)


@declare(
    "dense_threshold",
    f"""
WITH {_DENSE_CTES}
SELECT id AS vec_id, score
FROM dense_scored
WHERE score >= {SCORE_THRESHOLD}
ORDER BY score DESC, id ASC
LIMIT {K * 10}
""",
    survey_ids="V1,Q3",
)
def q_dense_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    scored = topk.threshold(topk.score_against_query(vecs, q), SCORE_THRESHOLD)
    return topk.topk(scored, K * 10)


@declare(
    "dense_postfilter",
    f"""
WITH q AS {corpus.query_vector_cte(QUERY_VEC_ID)},
scored AS (
    SELECT e.vec_id, e.label,
           {P.rounded_sql(P.cosine_sql('e.embedding', 'q.qvec'))} AS score
    FROM embeddings e CROSS JOIN q
),
inflated AS (
    SELECT * FROM scored ORDER BY score DESC, vec_id ASC
    LIMIT {K * POSTFILTER_INFLATION}
)
SELECT vec_id, label, score FROM inflated
WHERE label = 1
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
    survey_ids="Q2,K2",
)
def q_dense_postfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 post-hoc equality filter with 3x k-inflation — may legitimately
    return fewer than k rows (reference row-count semantics)."""
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    scored = topk.score_against_query(vecs, q, extra_cols=["label"])
    return topk.postfilter_topk(
        scored.select("vec_id", "label", "score"), F.col("label") == 1, K
    )


@declare(
    "dense_prefilter",
    f"""
WITH q AS {corpus.query_vector_cte(QUERY_VEC_ID)}
SELECT vec_id, label,
       {P.rounded_sql(P.cosine_sql('e.embedding', 'q.qvec'))} AS score
FROM embeddings e CROSS JOIN q
WHERE label = 1
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
    survey_ids="Q2,V6,K2",
)
def q_dense_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct twin of dense_postfilter: the equality
    predicate filters BEFORE scoring — pushed into the parquet scan —
    so only matching rows pay the cosine, a guaranteed-full top-k comes
    back (no inflate-and-hope), and at 100 TB a selective predicate
    shrinks the scan itself (partition/row-group pruning) instead of
    the result. Post-hoc (Q2) reproduces the reference's semantics;
    this is the plan you actually run when the filter is yours to
    push."""
    vecs = corpus.vectors(spark, sf_dir).filter(F.col("label") == 1)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    scored = topk.score_against_query(vecs, q, extra_cols=["label"])
    return topk.topk(scored.select("vec_id", "label", "score"), K)


# ---------------------------------------------------------------------------
# V2 — BM25 sparse top-k
# ---------------------------------------------------------------------------

_BM25_CTES = (
    sqlfrag.postings_ctes("documents", "doc_id", "text")
    + ",\n"
    + sqlfrag.qterms_cte_literal(QUERY_TEXT)
    + ",\n"
    + sqlfrag.bm25_scored_cte()
)


@declare(
    "bm25_topk",
    f"""
WITH {_BM25_CTES}
SELECT id, score FROM bm25_scored
ORDER BY score DESC, id ASC
LIMIT {K}
""",
    survey_ids="E2,E4,V2,I3",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.bm25_topk(corpus.docs(spark, sf_dir), QUERY_TEXT, K)


# ---------------------------------------------------------------------------
# V3/F1 — hybrid dense+sparse with RRF; F2 — linear fusion
# ---------------------------------------------------------------------------

_HYBRID_CTES = (
    sqlfrag.postings_ctes("documents", "doc_id", "text")
    + ",\n"
    + sqlfrag.qterms_cte_literal(QUERY_TEXT)
    + ",\n"
    + sqlfrag.bm25_scored_cte()
    + ",\n"
    + sqlfrag.dense_scored_cte(
        corpus.query_vector_cte(QUERY_VEC_ID), "embeddings", "vec_id", "embedding"
    )
    + ",\n"
    + sqlfrag.ranked_branch_cte("dense", "dense_scored", K * BRANCH_INFLATION)
    + ",\n"
    + sqlfrag.ranked_branch_cte("sparse", "bm25_scored", K * BRANCH_INFLATION)
)


def _hybrid_branches(spark: SparkSession, sf_dir: str):
    """Dense branch over embeddings + sparse branch over documents,
    joined on doc_id = vec_id (the driver testdata's shared key)."""
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    dense = topk.topk(
        topk.score_against_query(vecs, q), K * BRANCH_INFLATION
    ).select(F.col("vec_id").alias("id"), "score")
    sparse = bm25.bm25_topk(
        corpus.docs(spark, sf_dir), QUERY_TEXT, K * BRANCH_INFLATION
    )
    return dense, sparse


@declare(
    "hybrid_rrf",
    f"""
WITH {_HYBRID_CTES},
unioned AS (
    SELECT id, 'dense' AS branch, score AS branch_score, rank FROM dense_top
    UNION ALL
    SELECT id, 'sparse' AS branch, score AS branch_score, rank FROM sparse_top
)
SELECT id,
       {P.rounded_sql(f'sum(1.0 / ({RRF_RANK_K} + rank))')} AS score,
       max(CASE WHEN branch = 'dense' THEN branch_score END) AS dense_score,
       CAST(max(CASE WHEN branch = 'dense' THEN rank END) AS BIGINT) AS dense_rank,
       max(CASE WHEN branch = 'sparse' THEN branch_score END) AS sparse_score,
       CAST(max(CASE WHEN branch = 'sparse' THEN rank END) AS BIGINT) AS sparse_rank
FROM unioned
GROUP BY id
ORDER BY score DESC, id ASC
LIMIT {K}
""",
    survey_ids="V3,F1",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense, sparse = _hybrid_branches(spark, sf_dir)
    return fusion.rrf_fuse({"dense": dense, "sparse": sparse}, K, RRF_RANK_K, "id")


@declare(
    "linear_fusion",
    f"""
WITH {_HYBRID_CTES},
unioned AS (
    SELECT id, 'dense' AS branch, score AS branch_score FROM dense_top
    UNION ALL
    SELECT id, 'sparse' AS branch, score AS branch_score FROM sparse_top
),
grouped AS (
    SELECT id,
           max(CASE WHEN branch = 'dense' THEN branch_score END) AS dense_score,
           max(CASE WHEN branch = 'sparse' THEN branch_score END) AS sparse_score
    FROM unioned GROUP BY id
)
SELECT id,
       {P.rounded_sql(
           f"{LINEAR_ALPHA} * coalesce(dense_score, 0.0)"
           f" + {1.0 - LINEAR_ALPHA} * coalesce(sparse_score, 0.0)"
       )} AS score,
       dense_score, sparse_score
FROM grouped
ORDER BY score DESC, id ASC
LIMIT {K}
""",
    survey_ids="F2",
)
def q_linear_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense, sparse = _hybrid_branches(spark, sf_dir)
    return fusion.linear_fuse(dense, sparse, K, LINEAR_ALPHA, "id")


# ---------------------------------------------------------------------------
# F4 — score normalization over a result list
# ---------------------------------------------------------------------------

_NORM_TOP_CTE = f"""
{_DENSE_CTES},
top AS (
    SELECT id AS vec_id, score FROM dense_scored
    ORDER BY score DESC, id ASC LIMIT {K}
),
win AS (
    SELECT vec_id, score,
           min(score) OVER () AS mins, max(score) OVER () AS maxs,
           avg(score) OVER () AS mu, stddev_pop(score) OVER () AS sd
    FROM top
)
""".strip()


@declare(
    "normalize_min_max",
    f"""
WITH {_NORM_TOP_CTE}
SELECT vec_id, score,
       {P.rounded_sql(
           "CASE WHEN maxs = mins THEN 1.0"
           " ELSE (score - mins) / (maxs - mins) END"
       )} AS norm_score
FROM win
""",
    survey_ids="F4",
)
def q_normalize_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = q_dense_topk(spark, sf_dir)
    return fusion.normalize_scores(t, "min_max", "vec_id")


@declare(
    "normalize_z_score",
    f"""
WITH {_NORM_TOP_CTE}
SELECT vec_id, score,
       {P.rounded_sql(
           "CASE WHEN sd = 0.0 THEN 0.5 ELSE (score - mu) / sd + 0.5 END"
       )} AS norm_score
FROM win
""",
    survey_ids="F4",
)
def q_normalize_z_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = q_dense_topk(spark, sf_dir)
    return fusion.normalize_scores(t, "z_score", "vec_id")


# ---------------------------------------------------------------------------
# T1-T3 — products ingest transform stack (the de-facto payload table)
# ---------------------------------------------------------------------------


@declare(
    "ingest_products",
    f"""
WITH {corpus.PRODUCTS_CTE}
SELECT _id AS "_id",
       partNumber_airgas_text AS "partNumber_airgas_text",
       manufacturerPartNumber_text AS "manufacturerPartNumber_text",
       shortDescription_airgas_text AS "shortDescription_airgas_text",
       onlinePrice_string AS "onlinePrice_string",
       img_270Wx270H_string AS "img_270Wx270H_string",
       dense_text AS "dense_text",
       sparse_text AS "sparse_text",
       id
FROM products
""",
    survey_ids="T1,T2,T3,S8,I6",
)
def q_ingest_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.products(spark, sf_dir)


@declare(
    "validate_quarantine",
    f"""
WITH {corpus.PRODUCTS_CTE}
SELECT id,
       (_id IS NOT NULL
        AND shortDescription_airgas_text IS NOT NULL
        AND trim(shortDescription_airgas_text) <> '') AS is_valid
FROM products
""",
    survey_ids="T5",
)
def q_validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 validation/quarantine (reference
    app/services/document_service.py:166-190): require an id and at
    least one non-empty text field; invalid rows are preserved in a
    quarantine branch, not dropped. Declared as the union of both
    branches with the verdict flag so the oracle checks the split is
    a partition (no row lost or duplicated)."""
    from ..sources import json_source

    valid, quar = json_source.validate_documents(corpus.products(spark, sf_dir))
    return valid.select("id", F.lit(True).alias("is_valid")).unionByName(
        quar.select("id", F.lit(False).alias("is_valid"))
    )


# ---------------------------------------------------------------------------
# Q1/F5 — exact-match cascade over products
# ---------------------------------------------------------------------------

_CASCADE_QS_CTE = f"""
qs AS (
    SELECT upper(replace(p_brand, '#', '')) || {corpus.PADDED_KEY_SQL} AS q
    FROM part WHERE p_partkey = 123
)
""".strip()


def _cascade_sql(query_cte: str) -> str:
    return f"""
WITH {corpus.PRODUCTS_CTE},
{query_cte},
prim AS (
    SELECT id, 1.0::DOUBLE AS score,
           'partNumber_airgas_text' AS matched_field
    FROM products, qs
    WHERE partNumber_airgas_text = upper({T.duck_ws_strip_sql('qs.q')})
    ORDER BY id ASC LIMIT 10
),
sec AS (
    SELECT id, 0.9::DOUBLE AS score,
           'manufacturerPartNumber_text' AS matched_field
    FROM products, qs
    WHERE manufacturerPartNumber_text = upper({T.duck_ws_strip_sql('qs.q')})
    ORDER BY id ASC LIMIT 10
)
SELECT * FROM prim
UNION ALL
SELECT * FROM sec WHERE (SELECT count(*) FROM prim) = 0
"""


def _part_number_literal(spark: SparkSession, sf_dir: str, partkey: int) -> str:
    """The query literal for the exact/fusion part-number queries,
    fetched from the corpus. Memoized per (session, sf_dir, partkey)
    — the ``ivf_schedule`` n_vectors policy: a one-row ``first()`` job
    is query-INPUT metadata a warm session need not re-fetch per
    execution; release_all() clears, so the driver contract still
    fetches per query."""

    def fetch() -> str:
        row = (
            corpus._read(spark, sf_dir, "part")
            .filter(F.col("p_partkey") == partkey)
            .select("p_brand")
            .first()
        )
        return row.p_brand.replace("#", "").upper() + str(partkey).zfill(7)

    return plan_memo(
        (), ("reader", spark, "part_number_literal", sf_dir, partkey), fetch
    )


@declare("exact_cascade_primary", _cascade_sql(_CASCADE_QS_CTE), survey_ids="Q1,F5,C2")
def q_exact_cascade_primary(spark: SparkSession, sf_dir: str) -> DataFrame:
    prods = corpus.products(spark, sf_dir)
    query = _part_number_literal(spark, sf_dir, 123)
    return exact.exact_cascade(
        prods, query, "partNumber_airgas_text", "manufacturerPartNumber_text"
    )


@declare(
    "exact_cascade_secondary",
    _cascade_sql("qs AS (SELECT '0000456' AS q)"),
    survey_ids="Q1,F5",
)
def q_exact_cascade_secondary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary field misses ('0000456' is a mfr number, not a part
    number) -> cascade falls through to the secondary field at 0.9."""
    prods = corpus.products(spark, sf_dir)
    return exact.exact_cascade(
        prods, "0000456", "partNumber_airgas_text", "manufacturerPartNumber_text"
    )


@declare(
    "exact_cascade_miss",
    _cascade_sql("qs AS (SELECT 'NONEXISTENT123' AS q)"),
    survey_ids="Q1,F5",
)
def q_exact_cascade_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both fields miss — the reference's negative golden query
    'NONEXISTENT123' (scripts/indexing.py:652): the cascade must return
    an EMPTY result with the declared schema, not an error and not a
    fallback row."""
    prods = corpus.products(spark, sf_dir)
    return exact.exact_cascade(
        prods, "NONEXISTENT123", "partNumber_airgas_text", "manufacturerPartNumber_text"
    )


# ---------------------------------------------------------------------------
# V4/F3 — fusion search: exact cascade + ranked branch, max-score dedup
# ---------------------------------------------------------------------------


# CTE block reused by fusion_max_dedup and the V5/V6 projections
# (registry_scalars): everything up to `fused(id, score, search_type)`.
FUSION_BLOCK = f"""
{corpus.PRODUCTS_CTE},
{sqlfrag.postings_ctes('products', 'id', 'sparse_text')},
qt AS (
    SELECT DISTINCT unnest({P.tokens_sql('p_name')}) AS term
    FROM part WHERE p_partkey = 123
),
{sqlfrag.bm25_scored_cte()},
{sqlfrag.ranked_branch_cte('vec', 'bm25_scored', K * BRANCH_INFLATION)},
{_CASCADE_QS_CTE},
exact_br AS (
    SELECT id, 1.0::DOUBLE AS score, 'exact' AS search_type
    FROM products, qs
    WHERE partNumber_airgas_text = upper({T.duck_ws_strip_sql('qs.q')})
    ORDER BY id ASC LIMIT 10
),
unioned AS (
    SELECT id, score, search_type FROM exact_br
    UNION ALL
    SELECT id, score, 'vector' AS search_type FROM vec_top
),
grouped AS (
    SELECT id, max(score) AS score,
           max(CASE WHEN search_type = 'exact' THEN 1 END) IS NOT NULL AS has_e,
           max(CASE WHEN search_type = 'vector' THEN 1 END) IS NOT NULL AS has_v
    FROM unioned GROUP BY id
),
fused AS (
    SELECT id, score,
           concat_ws('+', CASE WHEN has_e THEN 'exact' END,
                          CASE WHEN has_v THEN 'vector' END) AS search_type
    FROM grouped
    ORDER BY score DESC, id ASC
    LIMIT {K}
)
""".strip()


@declare(
    "fusion_max_dedup",
    f"""
WITH {FUSION_BLOCK}
SELECT id, score, search_type FROM fused
""",
    survey_ids="V4,F3",
)
def q_fusion_max_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    prods = corpus.products(spark, sf_dir)
    query = _part_number_literal(spark, sf_dir, 123)
    exact_br = exact.exact_match_branch(
        prods, "partNumber_airgas_text", query, 1.0
    ).select("id", "score", F.lit("exact").alias("search_type"))
    qterms = (
        corpus._read(spark, sf_dir, "part")
        .filter(F.col("p_partkey") == 123)
        .selectExpr(f"explode(array_distinct({P.tokens_spark_sql('p_name')})) AS term")
    )
    postings = bm25.build_postings(prods, id_col="id", text_col="sparse_text")
    vec_br = topk.topk(
        bm25.bm25_score_terms(postings, qterms), K * BRANCH_INFLATION, id_col="id"
    ).select("id", "score", F.lit("vector").alias("search_type"))
    return fusion.max_dedup_fuse(exact_br, vec_br, K, "id")


def names() -> list[str]:
    return [d.name for d in REGISTRY]


# sibling registry modules append to REGISTRY on import (placed at module
# end so `declare` exists when they load)
from . import registry_mutations  # noqa: E402,F401
from . import registry_scalars  # noqa: E402,F401
from . import registry_dedup  # noqa: E402,F401
from . import registry_text  # noqa: E402,F401
from . import registry_embed  # noqa: E402,F401
from . import registry_streaming  # noqa: E402,F401
from . import registry_extras  # noqa: E402,F401
from . import registry_media  # noqa: E402,F401


# ---------------------------------------------------------------------------
# V2 batched: BM25 over a query batch (the serving shape under load)
# ---------------------------------------------------------------------------

BM25_BATCH_NQ = 5

_BM25_BATCH_CTES = (
    sqlfrag.postings_ctes("documents", "doc_id", "text")
    + f""",
qb AS (
    SELECT doc_id AS query_id,
           unnest(list_distinct({P.tokens_sql('text')})) AS term
    FROM documents WHERE doc_id < {BM25_BATCH_NQ}
),
bm25_matched_b AS (
    SELECT qb.query_id, p.id,
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf::DOUBLE * {BM25_K1 + 1.0})
             / (p.tf::DOUBLE + {BM25_K1}
                * ({1.0 - BM25_B} + {BM25_B} * p.doc_len::DOUBLE / s.avgdl))
               AS w
    FROM postings p
    JOIN qb USING (term)
    JOIN dfreq d USING (term)
    CROSS JOIN stats s
),
bm25_scored_b AS (
    SELECT query_id, id, {P.rounded_sql('sum(w)')} AS score
    FROM bm25_matched_b GROUP BY query_id, id
)"""
)


@declare(
    "bm25_topk_batch",
    f"""
WITH {_BM25_BATCH_CTES}
SELECT query_id, id, score FROM (
    SELECT query_id, id, score,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, id ASC) AS rn
    FROM bm25_scored_b
) WHERE rn <= {K}
""",
    survey_ids="E2,E4,V2,I3",
)
def q_bm25_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched sparse search ({BM25_BATCH_NQ} doc-text queries in one
    plan): the batch's distinct terms probe the postings ONCE via
    broadcast, df aggregates over the probed slice, the (query_id,
    term) pairs fan candidates out per query, and the single shuffle is
    the (query_id, id) score aggregation + per-query top-k window —
    the dense batch's scale story applied to the sparse index."""
    docs = corpus.docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") < BM25_BATCH_NQ).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    postings = bm25.build_postings(docs, id_col="doc_id", text_col="text")
    scored = bm25.bm25_score_terms_batch(
        postings, bm25.query_terms_batch(queries)
    )
    return topk.topk_per_group(scored, "query_id", K, id_col="id")


# ---------------------------------------------------------------------------
# I3/I4 — BM25 index as physical layout: term-bucketed postings +
# pruned lookup (the sparse twin of the IVF serving layouts; declared
# HERE, not in registry_extras, because the oracle reuses the
# bm25_topk/_batch SQL above, which the sibling-import snapshot at the
# top of registry_extras predates)
# ---------------------------------------------------------------------------

_BM25_INDEX_SCRATCH: list[str] = []


def _bm25_index_scratch() -> str:
    """One mkdtemp per process for the BM25 layout rebuild, rmtree'd
    at exit. write_bm25_indexed overwrites, so reuse is safe."""
    if not _BM25_INDEX_SCRATCH:
        import atexit
        import os
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="bm25_index_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _BM25_INDEX_SCRATCH.append(os.path.join(root, "postings"))
    return _BM25_INDEX_SCRATCH[0]


_BM25_TOPK_SQL = next(d.sql for d in REGISTRY if d.name == "bm25_topk")
_BM25_TOPK_BATCH_SQL = next(
    d.sql for d in REGISTRY if d.name == "bm25_topk_batch"
)


@declare(
    "bm25_index_lookup",
    _BM25_TOPK_SQL,  # the layout must be semantically invisible:
    # same oracle as bm25_topk (postings + stats + df + score + top-k)
    survey_ids="E2,V2,I3,I4",
)
def q_bm25_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index BUILD as partitioned table layout + pruned search
    (operators/bm25.write_bm25_indexed / bm25_indexed_topk): postings
    persist partitioned by term-hash bucket with the corpus-stats row
    stamped beside them, then the query's term buckets prune every
    other bucket directory BEFORE file I/O (PartitionFilters, asserted
    in tests/test_bm25_index.py) and scoring runs against the
    persisted stats. Until r13 warm BM25 existed only as the
    in-process cache; this is the restart-surviving serving shape.
    Rebuilds in a per-process scratch like ivf_index_lookup."""
    docs = corpus.docs(spark, sf_dir)
    path = _bm25_index_scratch()
    bm25.write_bm25_indexed(docs, path)
    return bm25.bm25_indexed_topk(spark, path, QUERY_TEXT, K)


@declare(
    "bm25_index_lookup_batch",
    _BM25_TOPK_BATCH_SQL,  # same oracle as bm25_topk_batch
    survey_ids="E2,E4,V2,I3,I4",
)
def q_bm25_index_lookup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 over the persisted term-bucketed layout: the
    batch's distinct terms prune to the union of term buckets (a
    bounded driver int list), the slice is probed once for all
    queries, and scoring + per-query top-k run against the persisted
    stats row. Same oracle as bm25_topk_batch (row-identical by
    construction)."""
    docs = corpus.docs(spark, sf_dir)
    path = _bm25_index_scratch()
    bm25.write_bm25_indexed(docs, path)
    queries = docs.filter(F.col("doc_id") < BM25_BATCH_NQ).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    return bm25.bm25_indexed_topk_batch(spark, path, queries, K)


# ---------------------------------------------------------------------------
# V3/F1 batched: hybrid RRF over the query batch
# ---------------------------------------------------------------------------

_HYBRID_BATCH_CTES = (
    _BM25_BATCH_CTES
    + f""",
qsd AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id < {BM25_BATCH_NQ}
),
dense_scored_bq AS (
    SELECT qsd.query_id, e.vec_id AS id,
           {P.rounded_sql(P.cosine_sql('e.embedding', 'qsd.qvec'))} AS score
    FROM embeddings e CROSS JOIN qsd
),
dense_top_b AS (
    SELECT query_id, id, score, rank FROM (
        SELECT query_id, id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
        FROM dense_scored_bq
    ) WHERE rank <= {K * BRANCH_INFLATION}
),
sparse_top_b AS (
    SELECT query_id, id, score, rank FROM (
        SELECT query_id, id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
        FROM bm25_scored_b
    ) WHERE rank <= {K * BRANCH_INFLATION}
)"""
)


@declare(
    "hybrid_rrf_batch",
    f"""
WITH {_HYBRID_BATCH_CTES},
unioned AS (
    SELECT query_id, id, 'dense' AS branch, score AS branch_score, rank
    FROM dense_top_b
    UNION ALL
    SELECT query_id, id, 'sparse' AS branch, score AS branch_score, rank
    FROM sparse_top_b
),
fused AS (
    SELECT query_id, id,
           {P.rounded_sql(f'sum(1.0 / ({RRF_RANK_K} + rank))')} AS score,
           max(CASE WHEN branch = 'dense' THEN branch_score END) AS dense_score,
           CAST(max(CASE WHEN branch = 'dense' THEN rank END) AS BIGINT)
               AS dense_rank,
           max(CASE WHEN branch = 'sparse' THEN branch_score END) AS sparse_score,
           CAST(max(CASE WHEN branch = 'sparse' THEN rank END) AS BIGINT)
               AS sparse_rank
    FROM unioned
    GROUP BY query_id, id
)
SELECT query_id, id, score, dense_score, dense_rank, sparse_score, sparse_rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, id ASC) AS rn
    FROM fused
) WHERE rn <= {K}
""",
    survey_ids="V3,F1,V1,V2",
)
def q_hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship hybrid query in its serving-batch shape: per query,
    a dense branch (broadcast query vectors, corpus stays put) and a
    sparse branch (one shared postings probe for the whole batch),
    each ranked per query to K*{BRANCH_INFLATION}, fused by RRF(k=60)
    with per-branch diagnostics — every window partitions by query_id,
    so N queries cost one extra window column, not N plans."""
    vecs = corpus.vectors(spark, sf_dir)
    docs = corpus.docs(spark, sf_dir)
    qs = vecs.filter(F.col("vec_id") < BM25_BATCH_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    dense_scored = topk.score_pairs(vecs, qs, query_keep=["query_id"]).select(
        "query_id", F.col("vec_id").alias("id"), "score"
    )
    dense_top = topk.topk_per_group(
        dense_scored, "query_id", K * BRANCH_INFLATION, id_col="id"
    )
    queries = docs.filter(F.col("doc_id") < BM25_BATCH_NQ).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    postings = bm25.build_postings(docs, id_col="doc_id", text_col="text")
    sparse_scored = bm25.bm25_score_terms_batch(
        postings, bm25.query_terms_batch(queries)
    )
    sparse_top = topk.topk_per_group(
        sparse_scored, "query_id", K * BRANCH_INFLATION, id_col="id"
    )
    return fusion.rrf_fuse_batch(
        {"dense": dense_top, "sparse": sparse_top}, K, RRF_RANK_K, "id"
    )


# ---------------------------------------------------------------------------
# Q1/F5 batched: exact cascade over a query-string batch
# ---------------------------------------------------------------------------
# The batch mixes all three cascade outcomes: partkeys 1-10 query by part
# number (primary hit at 1.0), 11-15 by bare manufacturer number
# (secondary-only hit at 0.9, gated per query), 16 queries a string that
# matches nothing (present in the batch, absent from the output).

CASCADE_BATCH_PRIMARY_N = 10
CASCADE_BATCH_N = 15

_CASCADE_BATCH_QS = f"""
qs AS (
    SELECT p_partkey AS query_id,
           CASE WHEN p_partkey <= {CASCADE_BATCH_PRIMARY_N}
                THEN upper(replace(p_brand, '#', ''))
                     || {corpus.PADDED_KEY_SQL}
                ELSE {corpus.PADDED_KEY_SQL} END AS q
    FROM part WHERE p_partkey <= {CASCADE_BATCH_N}
    UNION ALL
    SELECT {CASCADE_BATCH_N + 1} AS query_id, 'NONEXISTENT123' AS q
)"""


@declare(
    "exact_cascade_batch",
    f"""
WITH {corpus.PRODUCTS_CTE},
{_CASCADE_BATCH_QS},
prim AS (
    SELECT query_id, id, 1.0::DOUBLE AS score,
           'partNumber_airgas_text' AS matched_field
    FROM (
        SELECT qs.query_id, p.id,
               row_number() OVER (
                   PARTITION BY qs.query_id ORDER BY p.id ASC) AS rn
        FROM products p JOIN qs
          ON p.partNumber_airgas_text = upper({T.duck_ws_strip_sql('qs.q')})
    ) WHERE rn <= 10
),
sec AS (
    SELECT query_id, id, 0.9::DOUBLE AS score,
           'manufacturerPartNumber_text' AS matched_field
    FROM (
        SELECT qs.query_id, p.id,
               row_number() OVER (
                   PARTITION BY qs.query_id ORDER BY p.id ASC) AS rn
        FROM products p JOIN qs
          ON p.manufacturerPartNumber_text = upper({T.duck_ws_strip_sql('qs.q')})
    ) WHERE rn <= 10
)
SELECT * FROM prim
UNION ALL
SELECT * FROM sec WHERE query_id NOT IN (SELECT query_id FROM prim)
""",
    survey_ids="Q1,F5,C2",
)
def q_exact_cascade_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact cascade (operators/exact.exact_cascade_batch): the
    broadcast query table probes the corpus by hash equi-join on each
    payload field — never one job per query — with a per-query limit
    window over matched rows only and a broadcast anti-join standing in
    for the single query's 1-row count gate. The serving shape the
    amortized exact_batch bench row measures."""
    prods = corpus.products(spark, sf_dir)
    part = corpus._read(spark, sf_dir, "part")
    base = part.filter(F.col("p_partkey") <= CASCADE_BATCH_N).select(
        F.col("p_partkey").alias("query_id"),
        F.when(
            F.col("p_partkey") <= CASCADE_BATCH_PRIMARY_N,
            corpus.part_number(),
        )
        .otherwise(corpus.padded_key(F.col("p_partkey")))
        .alias("q"),
    )
    miss = part.filter(F.col("p_partkey") == 1).select(
        F.lit(CASCADE_BATCH_N + 1).cast("bigint").alias("query_id"),
        F.lit("NONEXISTENT123").alias("q"),
    )
    return exact.exact_cascade_batch(
        prods,
        base.unionByName(miss),
        "partNumber_airgas_text",
        "manufacturerPartNumber_text",
    )


# ---------------------------------------------------------------------------
# V4/F3 batched: fusion search (exact + ranked branch) per query
# ---------------------------------------------------------------------------

FUSION_BATCH_NQ = 8


@declare(
    "fusion_max_dedup_batch",
    f"""
WITH {corpus.PRODUCTS_CTE},
{sqlfrag.postings_ctes("products", "id", "sparse_text")},
qs AS (
    SELECT p_partkey AS query_id,
           upper(replace(p_brand, '#', ''))
               || {corpus.PADDED_KEY_SQL} AS q
    FROM part WHERE p_partkey <= {FUSION_BATCH_NQ}
),
exact_b AS (
    SELECT query_id, id, 1.0::DOUBLE AS score, 'exact' AS search_type
    FROM (
        SELECT qs.query_id, p.id,
               row_number() OVER (
                   PARTITION BY qs.query_id ORDER BY p.id ASC) AS rn
        FROM products p JOIN qs
          ON p.partNumber_airgas_text = upper({T.duck_ws_strip_sql('qs.q')})
    ) WHERE rn <= 10
),
qterms_b AS (
    SELECT p_partkey AS query_id,
           unnest(list_distinct({P.tokens_sql('p_name')})) AS term
    FROM part WHERE p_partkey <= {FUSION_BATCH_NQ}
),
bm25_matched_f AS (
    SELECT qb.query_id, p.id,
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf::DOUBLE * {BM25_K1 + 1.0})
             / (p.tf::DOUBLE + {BM25_K1}
                * ({1.0 - BM25_B} + {BM25_B} * p.doc_len::DOUBLE / s.avgdl))
               AS w
    FROM postings p
    JOIN qterms_b qb USING (term)
    JOIN dfreq d USING (term)
    CROSS JOIN stats s
),
vector_b AS (
    SELECT query_id, id, score, 'vector' AS search_type FROM (
        SELECT query_id, id, {P.rounded_sql('sum(w)')} AS score,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {P.rounded_sql('sum(w)')} DESC, id ASC) AS rn
        FROM bm25_matched_f GROUP BY query_id, id
    ) WHERE rn <= {K}
),
unioned AS (
    SELECT * FROM exact_b UNION ALL SELECT * FROM vector_b
),
fused AS (
    SELECT query_id, id, max(score) AS score,
           concat_ws('+',
               CASE WHEN max(CASE WHEN search_type = 'exact' THEN 1 END)
                    IS NOT NULL THEN 'exact' END,
               CASE WHEN max(CASE WHEN search_type = 'vector' THEN 1 END)
                    IS NOT NULL THEN 'vector' END) AS search_type
    FROM unioned GROUP BY query_id, id
)
SELECT query_id, id, score, search_type FROM (
    SELECT query_id, id, score, search_type,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, id ASC) AS rn
    FROM fused
) WHERE rn <= {K}
""",
    survey_ids="V4,F3",
)
def q_fusion_max_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched fusion search (operators/fusion.max_dedup_fuse_batch):
    per part-number query an exact branch and a BM25-ranked branch over
    the product postings, fused by per-(query_id, id) max-score dedup
    with exact-first labels — the whole batch one plan, every per-query
    rank a window keyed on query_id."""
    prods = corpus.products(spark, sf_dir)
    part = corpus._read(spark, sf_dir, "part")
    qs = part.filter(F.col("p_partkey") <= FUSION_BATCH_NQ).select(
        F.col("p_partkey").alias("query_id"),
        corpus.part_number().alias("q"),
    )
    # primary-only batch match, NOT the full cascade filtered down: the
    # oracle has no secondary branch, and building one just to discard
    # it constructs a corpus probe + window + anti-join of pure waste
    exact_br = exact.exact_match_batch(
        prods, qs, "partNumber_airgas_text", exact.EXACT_PRIMARY_SCORE
    ).select("query_id", "id", "score", F.lit("exact").alias("search_type"))
    qterms = part.filter(F.col("p_partkey") <= FUSION_BATCH_NQ).selectExpr(
        "p_partkey AS query_id",
        f"explode(array_distinct({P.tokens_spark_sql('p_name')})) AS term",
    )
    postings = bm25.build_postings(prods, id_col="id", text_col="sparse_text")
    vector_br = topk.topk_per_group(
        bm25.bm25_score_terms_batch(postings, qterms), "query_id", K, id_col="id"
    ).select("query_id", "id", "score", F.lit("vector").alias("search_type"))
    return fusion.max_dedup_fuse_batch(exact_br, vector_br, K, "id")


from . import registry_pipeline  # noqa: E402,F401
from . import registry_curation  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Driver-window curation
# ---------------------------------------------------------------------------
# The round driver's correctness gate checks exactly the first 50 REGISTRY
# entries; declaration order is an accident of module layout. Curate the
# window explicitly. Rotation policy (r7, unchanged): refresh evidence
# OLDEST-FIRST, with the override that queries whose backing code
# changed since their last driver verification re-enter regardless of
# age. Displaced queries keep tests/test_registry_oracle.py as their
# net. After this (r13) window runs, no query's last driver row is
# older than r11 (the r12 VERDICT task-1 done condition): the
# complete 34-query r10-stale cohort seats below, plus the
# changed-code cohort and ten r11 seats; the remaining 32 r11 greens
# stay current enough for one more round.

DRIVER_WINDOW = [
    # r14 window. Code changed re-enters regardless of age (r7 policy),
    # and this optimization round changed a LOT of backing code — the
    # expr-string twins (bm25 weight/cosine/tokenizer, minhash/LSH,
    # hashed shingles, repetition features, semantic verdicts), the
    # corpus reader/products memos, and the sized layout writes. Seat
    # first the r13 memoized-code cohort the r13 VERDICT flagged as
    # driver-stale ("What's wrong" #1) — all also r14-touched:
    "ivf_topk", "ivf_topk_batch", "ivfpq_topk", "pq_topk",
    "semantic_dedup", "bm25_topk_batch", "hybrid_rrf_batch",
    "embed_search_topk", "dedup_minhash_lsh", "training_manifest_full",
    # ... the rest of the r14 changed-expression cohort ...
    "bm25_topk", "hybrid_rrf", "linear_fusion", "fusion_max_dedup",
    "fusion_max_dedup_batch", "dense_topk", "dense_topk_batch",
    "exact_cascade_primary", "exact_cascade_batch",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_exact_then_near",
    "dedup_incremental", "semantic_dedup_kmeans", "stream_neardup_ingest",
    "text_repetition", "boilerplate_ngrams", "chunk_embed_pool",
    "benchmark_decontaminate", "retrieval_manifest", "training_manifest",
    "mixture_sample",
    # ... the persisted-layout lookups (their write paths gained the
    # cell/bucket-sized repartition this round) ...
    "ivf_index_lookup", "ivf_index_lookup_batch", "ivfpq_index_lookup",
    "ivfpq_index_lookup_batch", "pq_topk_batch",
    "bm25_index_lookup", "bm25_index_lookup_batch",
    # ... and eleven of the oldest (r11-evidence) seats. Still r11 after
    # this round: cleanup_old, compare_preview, exact_cascade_miss,
    # multimodal_byte_features, normalize_z_score, partno_explain,
    # payload_index_lookup, search_ids_projection, targz_import,
    # version_archive/get/history — tests/test_registry_oracle.py is
    # their net; they lead the r15 rotation.
    "bpe_train_merges", "bpe_encode_stats", "dense_prefilter",
    "doc_chunk_windows", "domain_mix_weights", "event_value_median",
    "exact_cascade_secondary", "ingest_products", "quantized_topk",
    "sequence_pack", "token_stats_bpe",
]


# curation lives in registry_core: it applies as soon as every
# windowed name is declared, which in the sibling-first import
# direction is AFTER this module's body ends (the sibling's remaining
# declares retry it). Consumers of the curated order call
# registry_core.ensure_curated(), which raises on a typo'd name.
from .registry_core import set_driver_window  # noqa: E402

set_driver_window(DRIVER_WINDOW)
