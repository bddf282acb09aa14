"""Deterministic text embedder (SURVEY.md §2.3 E1/E3/E4; FIXTURES.md §2).

The reference embeds text with fastembed's BAAI/bge-small-en-v1.5 ONNX
model (reference scripts/indexing.py:326-340,445-512) — heavyweight and
not oracle-recomputable. Tests and declared queries use the documented
deterministic replacement: a signed hashing-trick projection

    for each token occurrence t:
        h    = md5_long(t)            (shared portable 60-bit hash)
        dim  = h mod HASH_EMBED_DIM   (low bits)
        sign = +1 if bit 6 of h is 0 else -1   (independent of dim)
        raw[dim] += sign
    vec = raw / ||raw||_2             (all-zero -> zero vector, the
                                       reference's embedding-failure
                                       fallback, app/services/
                                       search_service.py:136)

Vectors are kept in EXPLODED form (id, dim, comp) — "posting form" —
rather than assembled arrays: at 100 TB this is the layout a query
probes (its dims, as literals, against a dim-partitioned corpus), and
it makes the whole pipeline, including search, expressible in both
engines with no array machinery. The production ONNX model slots in as a mapInPandas
stage producing the same posting form (operators/embed_udf.py).

FIXTURES.md §2 specifies xxhash64(seed=42); we use the repo-wide md5
hash instead because DuckDB has no xxhash64 — same determinism,
documented deviation.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.constants import HASH_EMBED_DIM, ROUND_DIGITS  # noqa: F401 (re-exported)
from . import portable as P


def hash_dim(h: Column, dim: int = HASH_EMBED_DIM) -> Column:
    return (h % F.lit(dim)).cast("int")


def hash_dim_sql(h: str, dim: int = HASH_EMBED_DIM) -> str:
    return f"CAST(({h}) % {dim} AS INTEGER)"


def hash_sign(h: Column) -> Column:
    """+1.0 / -1.0 from bit 6 — the first bit not used by a dim<=64
    index. UNSAFE above 64 dims: h % dim determines bit 6 whenever
    128 divides dim (e.g. 384), making every token in a given dim
    carry the SAME sign — signed cancellation vanishes and the vector
    degenerates to per-dim counts. embed_postings enforces the
    bound."""
    return F.when(F.shiftright(h, 6) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def hash_sign_sql(h: str) -> str:
    return f"CASE WHEN (({h}) >> 6) % 2 = 0 THEN 1.0 ELSE -1.0 END"


def _check_dim(dim: int) -> None:
    if dim > 64:
        raise ValueError(
            f"signed-hash embedding supports dim <= 64 (got {dim}): the "
            "sign bit (bit 6) is only independent of the dim index below "
            "that bound — see hash_sign"
        )


def hash_embed_py(text: str, dim: int = HASH_EMBED_DIM) -> dict[int, float]:
    """{dim: comp} for one text: the Python twin of embed_postings
    (P.tokens_py, md5 low-60-bit hash, dim = h mod dim, sign = bit 6,
    HALF_UP rounding) for driver-side query vectors and the "hash"
    backend of operators/embed_udf.py. Pinned to the JVM form over an
    edge corpus (tests/test_query_literals.py::test_hash_embed_py_parity)."""
    raw: dict[int, float] = {}
    for term in P.tokens_py(text):
        h = int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
        d, sign = h % dim, 1.0 if (h >> 6) % 2 == 0 else -1.0
        raw[d] = raw.get(d, 0.0) + sign
    nrm = math.sqrt(sum(v * v for v in raw.values()))
    if nrm > 0:
        return {d: P.round_half_up(v / nrm) for d, v in raw.items()}
    return {d: 0.0 for d in raw}


def embed_postings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = HASH_EMBED_DIM,
    index: bool = False,
) -> DataFrame:
    """(id, dim, comp): L2-normalized signed-hash embedding, exploded.

    One explode + two keyed aggregations (dim sums, then per-id norms
    joined back), both partially aggregated map-side: a document ships
    at most one row per distinct dim, whatever its length. Docs with no
    tokens produce no rows (the zero vector's sparse representation).
    ``embed_short_postings`` is the one-exchange form for short texts.

    index=True memoizes + persists the result per (docs plan, params)
    — r13: the embedded corpus IS the dense index (the reference
    stores exactly this in its vector store), so a warm session embeds
    once instead of re-running tokenize + md5 + two aggregations per
    execution, the same policy bm25.build_postings applies to the
    sparse index. The driver's gate still embeds per query
    (release_all() clears the memo with the cached blocks). Callers
    that embed a STREAM of distinct inputs — foreachBatch micro-
    batches (streaming/ingest.py) — keep the default index=False:
    memoizing per-batch plans would pin a persisted copy of every
    batch until release_all().
    """
    _check_dim(dim)
    if index:
        from .cache import plan_memo, tracked_persist

        return plan_memo(
            docs,
            ("embed_postings", id_col, text_col, dim),
            lambda: tracked_persist(
                embed_postings(docs, id_col, text_col, dim, index=False)
            ),
        )
    sums = (
        _contributions(docs, id_col, text_col, dim)
        .groupBy("id", "dim")
        .agg(F.sum("sign").alias("s"))
    )
    norms = sums.groupBy("id").agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"))
    return _normalized(sums.join(norms, "id"))


def embed_short_postings(
    docs: DataFrame, id_col: str, text_col: str, dim: int = HASH_EMBED_DIM
) -> DataFrame:
    """``embed_postings`` for short texts, through one exchange: the
    tokens are repartitioned by id, so the (id, dim) sums and the per-id
    norm (a ``sum(s*s) OVER (PARTITION BY id)`` window, the DuckDB
    twin's form) are both partition-local. Every s is a sum of +-1.0,
    an exact integer in any order, so the rows equal embed_postings'
    bit for bit (tests/test_expr_parity.py).

    The exchange ships every token, not partial sums, so it pays only
    while a text has few tokens next to ``dim``. The Engine's product
    descriptions (3 to 5 tokens) shuffle 44% fewer bytes in 2 fewer jobs;
    the documents corpus (54 tokens on average) shuffles 73% more
    (sf0.1, 4 local cores). The Engine's index build and writes use
    this form; document corpora keep ``embed_postings``.
    """
    _check_dim(dim)
    sums = (
        _contributions(docs, id_col, text_col, dim)
        .repartition("id")
        .groupBy("id", "dim")
        .agg(F.sum("sign").alias("s"))
        .withColumn(
            "nrm",
            F.sqrt(F.sum(F.col("s") * F.col("s")).over(Window.partitionBy("id"))),
        )
    )
    return _normalized(sums)


def _contributions(docs: DataFrame, id_col: str, text_col: str, dim: int) -> DataFrame:
    """(id, dim, sign): one row per token occurrence."""
    # NULL ids are unindexable (T5: the reference requires _id at
    # upload) — same exclusion as bm25.build_postings; without it
    # groupBy treats every NULL-id doc as ONE group, pooling their
    # tokens into a phantom dense-index entry that can outrank real
    # top-k rows and joins to no document
    toks = docs.filter(F.col(id_col).isNotNull()).selectExpr(
        f"`{id_col}` AS id", f"explode({P.tokens_spark_sql(f'`{text_col}`')}) AS term"
    )
    h = P.md5_long(F.col("term"))
    return toks.select("id", hash_dim(h, dim).alias("dim"), hash_sign(h).alias("sign"))


def _normalized(sums: DataFrame) -> DataFrame:
    """(id, dim, comp) from (id, dim, s, nrm) rows."""
    return sums.select(
        "id",
        "dim",
        F.when(F.col("nrm") > 0, P.rounded(F.col("s") / F.col("nrm")))
        .otherwise(F.lit(0.0))
        .alias("comp"),
    )


def embed_postings_cte(
    source: str, id_expr: str, text_expr: str, dim: int = HASH_EMBED_DIM,
    name: str = "emb",
) -> str:
    """DuckDB CTE computing the identical (id, dim, comp) relation."""
    h = P.md5_long_sql("term")
    return f"""
{name}_tok AS (
    -- NULL ids are unindexable (same exclusion as the engine's
    -- embed_postings and the BM25 postings pair)
    SELECT {id_expr} AS id, unnest({P.tokens_sql(text_expr)}) AS term
    FROM {source}
    WHERE {id_expr} IS NOT NULL
),
{name}_sums AS (
    SELECT id, {hash_dim_sql(h, dim)} AS dim,
           sum({hash_sign_sql(h)}) AS s
    FROM {name}_tok
    GROUP BY id, {hash_dim_sql(h, dim)}
),
{name} AS (
    SELECT id, dim,
           CASE WHEN sqrt(sum(s*s) OVER (PARTITION BY id)) > 0
                THEN round((s / sqrt(sum(s*s) OVER (PARTITION BY id)))::DOUBLE,
                           {ROUND_DIGITS})
                ELSE 0.0 END AS comp
    FROM {name}_sums
)
""".strip()


def embed_query_postings(
    spark, query_text: str, dim: int = HASH_EMBED_DIM
) -> DataFrame:
    """(dim, qcomp) for one query string — E3 without the model server.

    Embedded on the driver by ``hash_embed_py`` (pinned to
    embed_postings) and returned as a LocalRelation of at most ``dim``
    VALUES rows, empty when the query has no tokens: building or
    collecting it runs no Spark job.
    """
    _check_dim(dim)
    vec = hash_embed_py(query_text, dim)
    return P.local_values(
        spark, "dim INT, qcomp DOUBLE",
        [f"{d}, {c!r}D" for d, c in sorted(vec.items())],
    )


def embed_query_cte(query_text: str, dim: int = HASH_EMBED_DIM) -> str:
    lit = query_text.replace("'", "''")
    return embed_postings_cte(
        f"(SELECT 0 AS qid, '{lit}' AS t)", "qid", "t", dim, name="qemb"
    )


def sparse_cosine_topk(
    doc_emb: DataFrame, query_emb: DataFrame, k: int
) -> DataFrame:
    """Top-k by sparse dot product of unit vectors (= cosine).

    The query's (dim, qcomp) rows (<= HASH_EMBED_DIM; collecting
    embed_query_postings' LocalRelation runs no job) enter the plan as
    literals: the corpus postings are probed with ``dim IN (...)`` and
    weighted through a literal ``map(dim -> qcomp)``, then partially
    aggregated per id — at scale the corpus postings stay put and only
    (id, partial score) rows shuffle.
    """
    q = query_emb.collect()
    qcomp = (
        F.expr(f"map({', '.join(f'{r.dim}, {r.qcomp!r}D' for r in q)})[dim]")
        if q else F.lit(None).cast("double")
    )
    scored = (
        doc_emb.filter(F.col("dim").isin([r.dim for r in q]))
        .groupBy("id")
        .agg(P.rounded(F.sum(F.col("comp") * qcomp)).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)
