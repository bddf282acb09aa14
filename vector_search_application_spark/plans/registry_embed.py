"""Registry entries for the deterministic text embedder (E1/E3) and the
full text -> embed -> top-k search pipeline over the documents corpus.

This is the reference's core dataflow (embed corpus, embed query, rank
by cosine — reference scripts/indexing.py:445-512, 840-863) with the
documented deterministic embedder standing in for the ONNX model, which
makes the ENTIRE pipeline oracle-checkable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import embedder as E
from ..functions import portable as P
from . import corpus
from .constants import K
from .registry_core import declare

# a golden text query drawn from the documents vocabulary
EMBED_QUERY_TEXT = "stream processing engine"

_DOC_EMB_CTE = E.embed_postings_cte("documents", "doc_id", "text")
_Q_EMB_CTE = E.embed_query_cte(EMBED_QUERY_TEXT)


@declare(
    "embed_documents",
    f"""
WITH {_DOC_EMB_CTE}
SELECT id AS doc_id, dim, comp FROM emb
""",
    survey_ids="E1",
)
def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 corpus embed: signed-hash projection in posting form."""
    docs = corpus.docs(spark, sf_dir)
    return (
        E.embed_postings(docs, "doc_id", "text", index=True)
        .withColumnRenamed("id", "doc_id")
    )


@declare(
    "embed_query",
    f"""
WITH {_Q_EMB_CTE}
SELECT dim, comp AS qcomp FROM qemb
""",
    survey_ids="E3,E4",
)
def q_embed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 query embed (deterministic; the reference's lru-cached
    query_embed becomes a driver-built (dim, qcomp) LocalRelation)."""
    return E.embed_query_postings(spark, EMBED_QUERY_TEXT)


@declare(
    "embed_search_topk",
    f"""
WITH {_DOC_EMB_CTE},
{_Q_EMB_CTE},
scored AS (
    SELECT e.id, {P.rounded_sql('sum(e.comp * q.comp)')} AS score
    FROM emb e JOIN qemb q USING (dim)
    GROUP BY e.id
)
SELECT id AS doc_id, score FROM scored
ORDER BY score DESC, id ASC
LIMIT {K}
""",
    survey_ids="E1,E3,V1",
)
def q_embed_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship text-search dataflow: embed corpus + query, sparse
    cosine top-k — E1+E3+V1 with zero Python workers."""
    docs = corpus.docs(spark, sf_dir)
    doc_emb = E.embed_postings(docs, "doc_id", "text", index=True)
    q_emb = E.embed_query_postings(spark, EMBED_QUERY_TEXT)
    return (
        E.sparse_cosine_topk(doc_emb, q_emb, K)
        .withColumnRenamed("id", "doc_id")
    )
