"""Registry entries rounding out SURVEY.md §2 coverage:

  json_export_roundtrip  S1/S3/S6 — JSON export sink + JSON array scan.
                         The Spark result travels parquet -> JSON files
                         -> JSON scan; the ORACLE reads the source
                         parquet directly, so any corruption in the
                         export/scan path hash-mismatches (a true
                         roundtrip oracle, not a self-comparison).
  quantized_topk         I2 — scalar INT8 quantization (reference
                         scripts/indexing.py:283-300): store-side
                         vectors quantized per-vector min-max to 8-bit
                         codes, dequantized for scoring; the query
                         vector stays full-precision, like Qdrant's
                         scalar quantization with on-the-fly rescoring.
  compare_preview        V7/K4 — the compare-all harness (reference
                         app/api/endpoints/search.py:288-348): the same
                         query through dense / sparse / hybrid, first-3
                         rows each, labeled by method.
"""

from __future__ import annotations

import os

# atexit-registered scratch: a bare mkdtemp left an O(corpus) temp
# copy behind on every gate/bench execution of these roundtrip queries
from ..streaming.ingest import _scratch_dir  # noqa: E402

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import portable as P
from ..functions.text import WS_CHARS, duck_ws_strip_sql
from . import corpus
from .constants import K, PREVIEW_K, QUERY_VEC_ID
from .registry import (
    REGISTRY,
    declare,
    q_bm25_topk,
    q_dense_topk,
    q_hybrid_rrf,
)

_SQL = {d.name: d.sql for d in REGISTRY}


# ---------------------------------------------------------------------------
# S1/S3/S6 — JSON export sink + scan roundtrip
# ---------------------------------------------------------------------------

@declare(
    "json_export_roundtrip",
    "SELECT doc_id, lang, source, text FROM documents",
    survey_ids="S1,S3,S6",
)
def q_json_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export the documents table to JSON (S6: ordered projection,
    distributed write) and scan it back (S1); the oracle reads the
    source parquet, so the JSON roundtrip must be lossless."""
    out = os.path.join(_scratch_dir("json_roundtrip_"), "docs")
    docs = corpus.docs(spark, sf_dir).select(*_DOC_COLS)
    docs.write.mode("overwrite").json(out)
    # explicit schema: skips the inference double-read, pins types
    return spark.read.schema(_DOC_SCHEMA).json(out).select(*_DOC_COLS)


# ---------------------------------------------------------------------------
# S4 — directory import (full): JSON-ARRAY files + glob + reset-load
# ---------------------------------------------------------------------------

_DOC_COLS = ["doc_id", "lang", "source", "text"]
_DOC_SCHEMA = "doc_id bigint, lang string, source string, text string"


def _write_doc_json_arrays(docs: DataFrame, imp: str) -> None:
    """Export documents as JSON ARRAY files (the reference's on-disk
    format — one array per file, built JVM-side with
    to_json(collect_list(struct)))."""
    arrays = docs.groupBy(F.spark_partition_id().alias("p")).agg(
        F.to_json(F.collect_list(F.struct(*_DOC_COLS))).alias("j")
    )
    arrays.select("j").write.mode("overwrite").text(imp)
    for f in os.listdir(imp):  # the text sink writes .txt; S4 globs *.json
        if f.endswith(".txt"):
            os.rename(os.path.join(imp, f), os.path.join(imp, f[:-4] + ".json"))


@declare(
    "directory_import_full",
    "SELECT doc_id, lang, source, text FROM documents",
    survey_ids="S1,S4",
)
def q_directory_import_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's import path (glob *.json, reset collection, load):
    documents are exported as JSON ARRAY files, then import_full globs
    the directory, parses with the multiLine array reader, and
    overwrites the table. Oracle reads the source parquet: the whole
    export -> array-parse -> table roundtrip must be lossless."""
    from ..sources import json_source

    work = _scratch_dir("dir_import_")
    imp, table = os.path.join(work, "import"), os.path.join(work, "table")
    docs = corpus.docs(spark, sf_dir).select(*_DOC_COLS)
    _write_doc_json_arrays(docs, imp)
    json_source.import_full(spark, imp, table)
    return spark.read.parquet(table).select(*_DOC_COLS)


# ---------------------------------------------------------------------------
# S6 — sharded (distributed) JSON export roundtrip
# ---------------------------------------------------------------------------

_PRODUCT_EXPORT_COLS = [
    "_id",
    "partNumber_airgas_text",
    "manufacturerPartNumber_text",
    "shortDescription_airgas_text",
    "onlinePrice_string",
    "img_270Wx270H_string",
    "id",
]
_PRODUCT_EXPORT_SCHEMA = (
    "_id string, partNumber_airgas_text string,"
    " manufacturerPartNumber_text string,"
    " shortDescription_airgas_text string, onlinePrice_string string,"
    " img_270Wx270H_string string, id bigint"
)


@declare(
    "export_sharded_roundtrip",
    f"""
WITH {corpus.PRODUCTS_CTE}
SELECT {', '.join(_PRODUCT_EXPORT_COLS)} FROM products
""",
    survey_ids="S6",
)
def q_export_sharded_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 scale path: the products table through the DISTRIBUTED JSON
    export (one shard per partition + _MANIFEST.json; no driver
    streaming) and back through a schema-pinned scan. The oracle reads
    the source parquet, so the sharded roundtrip must be lossless —
    including null-field dropping on write (omitted keys) resurfacing
    as nulls under the explicit read schema."""
    from ..sources import json_source

    out = os.path.join(_scratch_dir("sharded_export_"), "products")
    prods = corpus.products(spark, sf_dir)
    _, n = json_source.export_documents_sharded(
        prods, out, order_cols=_PRODUCT_EXPORT_COLS
    )
    n_src = prods.count()
    if n != n_src:  # explicit raise: assert vanishes under python -O
        raise RuntimeError(f"sharded export wrote {n} of {n_src} rows")
    return (
        spark.read.schema(_PRODUCT_EXPORT_SCHEMA)
        .json(out)
        .select(*_PRODUCT_EXPORT_COLS)
    )


# ---------------------------------------------------------------------------
# S2 — tar.gz import (the reference's primary bulk-load path)
# ---------------------------------------------------------------------------

@declare(
    "targz_import",
    "SELECT doc_id, lang, source, text FROM documents",
    survey_ids="S2",
)
def q_targz_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (reference scripts/indexing.py:145-281: open products.tar.gz,
    find the inner .json members, parse): documents exported as JSON
    array files, tarred into ONE .tar.gz, then imported via the
    driver-side pre-extract + schema-pinned multiLine scan
    (sources/json_source.import_targz). Oracle reads the source
    parquet: archive -> extract -> scan must be lossless.

    The mapInPandas extractor (json_source.read_targz_json) is the
    cluster-scale path for a *directory* of archives (tested in
    tests/test_sources.py); pre-extract keeps this declared plan
    Python-worker-free."""
    import tarfile

    from ..sources import json_source

    work = _scratch_dir("targz_import_")
    imp = os.path.join(work, "inner")
    docs = corpus.docs(spark, sf_dir).select(*_DOC_COLS)
    _write_doc_json_arrays(docs, imp)
    archive = os.path.join(work, "products.tar.gz")
    with tarfile.open(archive, "w:gz") as tar:
        for f in sorted(os.listdir(imp)):
            if f.endswith(".json"):
                tar.add(os.path.join(imp, f), arcname=f"products/{f}")
    out = json_source.import_targz(spark, archive, work, schema=_DOC_SCHEMA)
    return out.select(*_DOC_COLS)


# ---------------------------------------------------------------------------
# I2 — scalar INT8 quantization + dequantized rescoring
# ---------------------------------------------------------------------------

_DEQ_SPARK = (
    "transform(embedding, x -> CASE WHEN scale = 0.0D THEN vmin"
    " ELSE vmin + round((cast(x as double) - vmin) / scale) * scale END)"
)


@declare(
    "quantized_topk",
    f"""
WITH ranges AS (
    SELECT vec_id, embedding,
           list_min(embedding)::DOUBLE AS vmin,
           (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE) / 255.0
               AS scale
    FROM embeddings
),
dq AS (
    SELECT vec_id,
           list_transform(embedding, x -> CASE WHEN scale = 0 THEN vmin
               ELSE vmin + round((x::DOUBLE - vmin) / scale) * scale END) AS dqv
    FROM ranges
),
q AS {corpus.query_vector_cte(QUERY_VEC_ID)}
SELECT vec_id, {P.rounded_sql(P.cosine_sql('d.dqv', 'q.qvec'))} AS score
FROM dq d CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
    survey_ids="I2,V1",
)
def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8-quantized dense top-k: codes = round((x - min)/scale) per
    vector (8-bit range), scoring on dequantized values — everything
    in-row, so quantization adds no shuffle; at scale the codes column
    is what you'd store (4x smaller scans), dequantizing in the scan."""
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    ranges = vecs.select(
        "vec_id",
        "embedding",
        F.expr("cast(array_min(embedding) as double)").alias("vmin"),
        F.expr(
            "(cast(array_max(embedding) as double)"
            " - cast(array_min(embedding) as double)) / 255.0D"
        ).alias("scale"),
    )
    dq = ranges.select("vec_id", F.expr(_DEQ_SPARK).alias("dqv"))
    scored = dq.crossJoin(F.broadcast(q)).select(
        "vec_id",
        P.rounded(F.expr(P.cosine_spark_sql("dqv", "qvec"))).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(K)


# ---------------------------------------------------------------------------
# I2 — BINARY quantization + oversampled rescoring
# ---------------------------------------------------------------------------

BQ_OVERSAMPLE = 4

_SIGN_SPARK = "transform({v}, x -> CASE WHEN cast(x as double) > 0.0D THEN 1.0D ELSE -1.0D END)"
_SIGN_DUCK = "list_transform({v}, x -> CASE WHEN x::DOUBLE > 0 THEN 1.0 ELSE -1.0 END)"


@declare(
    "binary_quantized_topk",
    f"""
WITH q AS {corpus.query_vector_cte(QUERY_VEC_ID)},
cand AS (
    SELECT vec_id, embedding, q.qvec AS qvec,
           {P.dot_sql(_SIGN_DUCK.format(v='embedding'), _SIGN_DUCK.format(v='q.qvec'))}
               AS bin_score
    FROM embeddings CROSS JOIN q
    ORDER BY bin_score DESC, vec_id ASC
    LIMIT {K * BQ_OVERSAMPLE}
)
SELECT vec_id, {P.rounded_sql(P.cosine_sql('embedding', 'qvec'))} AS score
FROM cand
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
    survey_ids="I2,V1",
)
def q_binary_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization (reference scripts/indexing.py:283-300 offers
    INT8 *and* binary): each component keeps only its sign bit; the
    candidate score is the sign-vector dot product (= agreements minus
    disagreements = dim - 2*hamming, so ranking by it IS hamming
    ranking); the top k*{BQ_OVERSAMPLE} candidates are rescored at full
    precision — Qdrant's binary-quantization oversample+rescore shape.

    Scale shape: the sign pass is map-only over 1-bit-per-component
    codes (32x smaller scans than float32), candidate selection is
    TakeOrderedAndProject, and the expensive full-precision cosine
    touches only k*{BQ_OVERSAMPLE} rows."""
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    cand = (
        vecs.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "qvec",
            F.expr(
                P.dot_spark_sql(
                    _SIGN_SPARK.format(v="embedding"), _SIGN_SPARK.format(v="qvec")
                )
            ).alias("bin_score"),
        )
        .orderBy(F.desc("bin_score"), F.asc("vec_id"))
        .limit(K * BQ_OVERSAMPLE)
    )
    return (
        cand.select(
            "vec_id",
            P.rounded(F.expr(P.cosine_spark_sql("embedding", "qvec"))).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(K)
    )


# ---------------------------------------------------------------------------
# V7/K4 — compare-all harness preview
# ---------------------------------------------------------------------------

@declare(
    "compare_preview",
    f"""
(SELECT 'dense' AS method, vec_id AS id, score
 FROM ({_SQL['dense_topk']}) ORDER BY score DESC, id ASC LIMIT {PREVIEW_K})
UNION ALL
(SELECT 'sparse' AS method, id, score
 FROM ({_SQL['bm25_topk']}) ORDER BY score DESC, id ASC LIMIT {PREVIEW_K})
UNION ALL
(SELECT 'hybrid' AS method, id, score
 FROM ({_SQL['hybrid_rrf']}) ORDER BY score DESC, id ASC LIMIT {PREVIEW_K})
""",
    survey_ids="V7,K4",
)
def q_compare_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same query through all three engines, first-PREVIEW_K rows
    each with a method label — the reference's /api/search/compare."""
    dense = (
        q_dense_topk(spark, sf_dir)
        .limit(PREVIEW_K)
        .select(
            F.lit("dense").alias("method"), F.col("vec_id").alias("id"), "score"
        )
    )
    sparse = (
        q_bm25_topk(spark, sf_dir)
        .limit(PREVIEW_K)
        .select(F.lit("sparse").alias("method"), "id", "score")
    )
    hybrid = (
        q_hybrid_rrf(spark, sf_dir)
        .limit(PREVIEW_K)
        .select(F.lit("hybrid").alias("method"), "id", "score")
    )
    return dense.unionByName(sparse).unionByName(hybrid)


# ---------------------------------------------------------------------------
# I4/I5 — payload keyword index as bucketed physical layout
# ---------------------------------------------------------------------------

@declare(
    "payload_index_lookup",
    f"""
WITH {corpus.PRODUCTS_CTE},
qs AS (
    SELECT upper(replace(p_brand, '#', '')) || {corpus.PADDED_KEY_SQL} AS q
    FROM part WHERE p_partkey = 123
)
SELECT id, partNumber_airgas_text, 1.0::DOUBLE AS score
FROM products, qs
WHERE partNumber_airgas_text = upper({duck_ws_strip_sql('qs.q')})
""",
    survey_ids="I4,I5",
)
def q_payload_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4/I5 (reference scripts/indexing.py:383-443, 358-378): the
    payload keyword index realized as hash-bucket partitioned layout —
    build the index (write bucketed by partNumber), then look the query
    up touching only its bucket directory (PartitionFilters prune the
    other 15/16 before any file I/O). The oracle is a plain filter over
    the unindexed table: the index must be semantically invisible.

    Each execution rebuilds the bucketed table in a fresh temp dir —
    this declared query is a correctness gate for build+lookup
    together, not a latency probe (same pattern as
    directory_import_full); the pruned-read physics is asserted in
    tests/test_sources.py."""
    from ..sources import layout

    work = os.path.join(_scratch_dir("payload_idx_"), "products")
    prods = corpus.products(spark, sf_dir)
    layout.write_bucketed(prods, work, "partNumber_airgas_text")
    part = corpus._read(spark, sf_dir, "part")
    q = (
        part.filter(F.col("p_partkey") == 123)
        .select(
            corpus.part_number().alias("q")
        )
        .first()["q"]
    )
    # C2 query cleanup happens BEFORE the bucket is derived (the lookup
    # itself matches the stored key exactly, layout.indexed_lookup)
    hit = layout.indexed_lookup(
        spark, work, "partNumber_airgas_text", q.strip(WS_CHARS).upper()
    )
    return hit.select(
        "id", "partNumber_airgas_text", F.lit(1.0).cast("double").alias("score")
    )


from ..operators.rerank import MMR_CANDIDATES, MMR_LAMBDA  # noqa: E402
from .constants import QUERY_VEC_ID as _MMR_QID  # noqa: E402

# exact double literals: Spark's greedy computes lam*score - (1-lam)*sim
# with (1.0 - 0.7) == 0.30000000000000004; writing 0.3 in the SQL would
# diverge at the rounding grain
_MMR_LAM = repr(MMR_LAMBDA)
_MMR_ONE_MINUS = repr(1.0 - MMR_LAMBDA)

_MMR_SQL = f"""
WITH RECURSIVE q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {_MMR_QID}),
cand AS (
    SELECT e.vec_id AS id,
           {P.rounded_sql(P.cosine_sql('e.embedding', 'q.qvec'))} AS score,
           e.embedding AS vec
    FROM embeddings e CROSS JOIN q
    ORDER BY score DESC, id ASC
    LIMIT {MMR_CANDIDATES}
),
sel AS (
    (SELECT 1 AS rank, id, score, score AS mmr, [vec] AS vecs, [id] AS ids
     FROM cand ORDER BY score DESC, id ASC LIMIT 1)
    UNION ALL
    (SELECT s.rank + 1, p.id, p.score, p.mmr,
            list_append(s.vecs, p.vec), list_append(s.ids, p.id)
     FROM sel s, LATERAL (
         SELECT c.id, c.score, c.vec,
                round(({_MMR_LAM} * c.score - {_MMR_ONE_MINUS} *
                    max({P.rounded_sql(P.cosine_sql('c.vec', 'u.v'))})
                )::DOUBLE, 6) AS mmr
         FROM cand c CROSS JOIN unnest(s.vecs) AS u(v)
         WHERE NOT list_contains(s.ids, c.id)
         GROUP BY c.id, c.score, c.vec
         ORDER BY mmr DESC, c.id ASC LIMIT 1
     ) p
     WHERE s.rank < {K})
)
SELECT CAST(rank AS INT) AS rank, id AS vec_id,
       score::DOUBLE AS score, mmr::DOUBLE AS mmr
FROM sel ORDER BY rank
"""


@declare(
    "mmr_rerank_topk",
    # the greedy selection IS expressible as a recursive CTE: each
    # iteration's argmax over (rounded) scores is one LATERAL row, and
    # per-pair sims round BEFORE the max, so the max is order-independent
    # (the module's float-comparison discipline). Exact python-model
    # equality additionally asserted in tests/test_rerank.py.
    _MMR_SQL,
    survey_ids="V5,rerank-mmr",
)
def q_mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank of the dense top-50 head (operators/
    rerank.py): the deterministic member of the reference's second-pass
    re-rank family (its cross-encoder config is dead code,
    app/config/config.py:44-48). Candidate generation is the
    distributed stage; the O(k*N) greedy runs on the driver over
    index-small data."""
    from ..operators.rerank import mmr_rerank
    from .constants import QUERY_VEC_ID

    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    return mmr_rerank(vecs, q)


# ---------------------------------------------------------------------------
# I2 — PRODUCT quantization + ADC candidate generation + exact rescore
# ---------------------------------------------------------------------------
# Completes the quantization trio (scalar INT8, binary sign, PQ — the
# Faiss family). Codebooks are deterministic (subvectors of the first
# PQ_CODEWORDS corpus vectors) so the full index build + asymmetric-
# distance scan is oracle-checkable; a trained-codebook build would
# swap in MLlib KMeans per subspace exactly like ivf_kmeans_topk.

from .constants import (  # noqa: E402
    PQ_CODEWORDS,
    PQ_OVERSAMPLE,
    PQ_SUBDIM,
    PQ_SUBSPACES,
)

_PQ_DIST_DUCK = (
    f"round(CAST({P.dot_sql('x.xv', 'x.xv')}"
    f" - 2 * {P.dot_sql('x.xv', 'c.cw')}"
    f" + {P.dot_sql('c.cw', 'c.cw')} AS DOUBLE), 6)"
)

_PQ_QSUB_DUCK = "list_slice(q.qvec, c.s*{d}+1, c.s*{d}+{d})".format(d=PQ_SUBDIM)


# Shared PQ code-build CTE stack (subs/cbsrc/cb/xs/dists/codes):
# ONE source for all three PQ queries — the batch twin once silently
# lost the s-ordered ADC fold the others carried (triple-maintained
# SQL drifts; single-sourced it cannot).
_PQ_CODE_CTES = f"""subs AS (SELECT unnest(range(0, {PQ_SUBSPACES})) AS s),
cbsrc AS (
    SELECT embedding, row_number() OVER (ORDER BY vec_id ASC) - 1 AS j
    FROM embeddings WHERE vec_id < {PQ_CODEWORDS}
),
cb AS (
    SELECT s, j,
           list_slice(embedding, s*{PQ_SUBDIM}+1, s*{PQ_SUBDIM}+{PQ_SUBDIM}) AS cw
    FROM cbsrc CROSS JOIN subs
),
xs AS (
    SELECT vec_id, s,
           list_slice(embedding, s*{PQ_SUBDIM}+1, s*{PQ_SUBDIM}+{PQ_SUBDIM}) AS xv
    FROM embeddings CROSS JOIN subs
),
dists AS (
    SELECT x.vec_id, x.s, c.j, {_PQ_DIST_DUCK} AS dist
    FROM xs x JOIN cb c ON c.s = x.s
),
codes AS (
    SELECT vec_id, s, j AS code FROM (
        SELECT vec_id, s, j,
               row_number() OVER (
                   PARTITION BY vec_id, s ORDER BY dist ASC, j ASC) AS rn
        FROM dists
    ) WHERE rn = 1
)"""


@declare(
    "pq_topk",
    f"""
WITH {_PQ_CODE_CTES},
q AS {corpus.query_vector_cte(QUERY_VEC_ID)},
lut AS (
    SELECT c.s, c.j,
           round(CAST({P.dot_sql(_PQ_QSUB_DUCK, 'c.cw')} AS DOUBLE), 6) AS w
    FROM cb c CROSS JOIN q
),
adc AS (
    SELECT cd.vec_id,
           -- ordered left fold, NOT sum(): Spark's ADC folds the LUT
           -- in s-order in-row; an arbitrary-order GROUP BY sum could
           -- round differently at a 0.5e-6 boundary
           round(CAST(list_aggregate(list(l.w ORDER BY cd.s), 'sum') AS DOUBLE), 6) AS adc_score
    FROM codes cd JOIN lut l ON l.s = cd.s AND l.j = cd.code
    GROUP BY cd.vec_id
),
cand AS (
    SELECT vec_id FROM adc
    ORDER BY adc_score DESC, vec_id ASC
    LIMIT {K * PQ_OVERSAMPLE}
)
SELECT e.vec_id, {P.rounded_sql(P.cosine_sql('e.embedding', 'q.qvec'))} AS score
FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
    survey_ids="I2,ann-pq,V1",
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-coded ANN: vectors stored as {PQ_SUBSPACES} one-byte codes
    (64x smaller than float32), scanned with asymmetric distance — a
    per-query {PQ_SUBSPACES}x{PQ_CODEWORDS} lookup table built once,
    broadcast, and folded over each row's code array (one in-row
    left-assoc fold, no per-row vector math); the ADC ranking
    oversamples {PQ_OVERSAMPLE}x and exact cosine rescores only those
    candidates. The index build (codes) is one broadcast-join + argmin
    per (vector, subspace) — the corpus never shuffles; at 100 TB the
    codes array is the stored column and the scan reads {PQ_SUBSPACES}
    bytes/vector instead of 256."""
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    from ..operators import ann

    return ann.pq_topk(vecs, q)


# ---------------------------------------------------------------------------
# I1+I2 — IVF-PQ: coarse cells prune, PQ ADC ranks, exact rescore
# ---------------------------------------------------------------------------

from .constants import IVF_CENTS_BOUND_SQL, IVF_PROBES_BOUND_SQL  # noqa: E402


@declare(
    "ivfpq_topk",
    f"""
WITH {_PQ_CODE_CTES},
cents AS (
    -- corpus-scaled schedule: C = max(8, ceil(sqrt(n))) seeded centroids
    SELECT vec_id AS centroid_id, embedding AS cvec
    FROM embeddings WHERE vec_id < {IVF_CENTS_BOUND_SQL}
),
cells AS (
    SELECT id AS vec_id, centroid_id AS cell FROM (
        SELECT e.vec_id AS id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {P.rounded_sql(P.cosine_sql('e.embedding', 'c.cvec'))} DESC,
                            c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
q AS {corpus.query_vector_cte(QUERY_VEC_ID)},
qcells AS (
    SELECT centroid_id AS cell FROM (
        SELECT c.centroid_id,
               row_number() OVER (
                   ORDER BY {P.rounded_sql(P.cosine_sql('c.cvec', 'q.qvec'))} DESC,
                            c.centroid_id ASC) AS rn
        FROM cents c CROSS JOIN q
    ) WHERE rn <= {IVF_PROBES_BOUND_SQL}
),
lut AS (
    SELECT c.s, c.j,
           round(CAST({P.dot_sql(_PQ_QSUB_DUCK, 'c.cw')} AS DOUBLE), 6) AS w
    FROM cb c CROSS JOIN q
),
adc AS (
    SELECT cd.vec_id,
           -- ordered left fold, NOT sum(): Spark's ADC folds the LUT
           -- in s-order in-row; an arbitrary-order GROUP BY sum could
           -- round differently at a 0.5e-6 boundary
           round(CAST(list_aggregate(list(l.w ORDER BY cd.s), 'sum') AS DOUBLE), 6) AS adc_score
    FROM codes cd
    JOIN cells ce ON ce.vec_id = cd.vec_id
    JOIN qcells qc ON qc.cell = ce.cell
    JOIN lut l ON l.s = cd.s AND l.j = cd.code
    GROUP BY cd.vec_id
),
cand AS (
    SELECT vec_id FROM adc
    ORDER BY adc_score DESC, vec_id ASC
    LIMIT {K * PQ_OVERSAMPLE}
)
SELECT e.vec_id, {P.rounded_sql(P.cosine_sql('e.embedding', 'q.qvec'))} AS score
FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
    survey_ids="I1,I2,ann-ivfpq,V1",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (operators/ann.ivfpq_topk): probe the
    scheduled max(2, ceil(log2(C))) nearest of C = max(8, ceil(sqrt(n)))
    cells, ADC-rank the probed
    fraction from {PQ_SUBSPACES}-byte codes, exact-rescore the
    {PQ_OVERSAMPLE}x-oversampled survivors — the three-stage funnel a
    billion-vector index runs, end-to-end oracle-checked because both
    the coarse and fine quantizers are deterministic builds."""
    from ..operators import ann

    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    return ann.ivfpq_topk(vecs, q)


_IVFPQ_TOPK_SQL = next(d.sql for d in REGISTRY if d.name == "ivfpq_topk")


@declare(
    "ivfpq_index_lookup",
    _IVFPQ_TOPK_SQL,  # the layout must be semantically invisible:
    # same oracle as ivfpq_topk (plain relational cells + codes +
    # probe + ADC + rescore)
    survey_ids="I1,I2,I4,ann-ivfpq",
)
def q_ivfpq_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index BUILD as partitioned table layout + pruned,
    column-pruned search (the billion-scale serving shape): the corpus
    is written (id, v, codes) partitioned by nearest-centroid cell,
    the PQ codebook + centroid metadata persist beside it, then the
    lookup prunes cell directories with the literal probe predicate
    and reads ONLY the codes column for the ADC scan (full vectors
    load just for the k*oversample rescore rows) — asserted in
    tests/test_ann.py. Each execution rebuilds the layout in one
    per-process temp dir, like ivf_index_lookup."""
    from ..operators import ann

    vecs = corpus.vectors(spark, sf_dir)
    path = _ivfpq_index_scratch()
    ann.write_ivfpq_indexed(vecs, path)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    return ann.ivfpq_indexed_topk(spark, path, q)


_IVFPQ_SCRATCH: list[str] = []


def _ivfpq_index_scratch() -> str:
    """One mkdtemp per process for the IVF-PQ layout rebuild, rmtree'd
    at exit. write_ivfpq_indexed overwrites, so reuse is safe."""
    if not _IVFPQ_SCRATCH:
        import atexit
        import os
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="ivfpq_index_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _IVFPQ_SCRATCH.append(os.path.join(root, "vectors"))
    return _IVFPQ_SCRATCH[0]


IVFPQ_BATCH_NQ = 20  # mirrors IVF_BATCH_NQ: the warm-batch serving shape


@declare(
    "ivfpq_index_lookup_batch",
    f"""
WITH {_PQ_CODE_CTES},
cents AS (
    SELECT vec_id AS centroid_id, embedding AS cvec
    FROM embeddings WHERE vec_id < {IVF_CENTS_BOUND_SQL}
),
cells AS (
    SELECT id AS vec_id, centroid_id AS cell FROM (
        SELECT e.vec_id AS id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {P.rounded_sql(P.cosine_sql('e.embedding', 'c.cvec'))} DESC,
                            c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
qs AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id < {IVFPQ_BATCH_NQ}
),
qcells AS (
    SELECT query_id, centroid_id AS cell FROM (
        SELECT q.query_id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {P.rounded_sql(P.cosine_sql('c.cvec', 'q.qvec'))} DESC,
                            c.centroid_id ASC) AS rn
        FROM cents c CROSS JOIN qs q
    ) WHERE rn <= {IVF_PROBES_BOUND_SQL}
),
lut AS (
    SELECT q.query_id, c.s, c.j,
           round(CAST({P.dot_sql(_PQ_QSUB_DUCK, 'c.cw')} AS DOUBLE), 6) AS w
    FROM cb c CROSS JOIN qs q
),
adc AS (
    -- ordered left fold, NOT sum(): the Spark side folds the LUT in
    -- s-order in-row (same pinned discipline as ivfpq_topk)
    SELECT l.query_id, cd.vec_id,
           round(CAST(list_aggregate(list(l.w ORDER BY cd.s), 'sum') AS DOUBLE), 6) AS score
    FROM codes cd
    JOIN cells ce ON ce.vec_id = cd.vec_id
    JOIN qcells qc ON qc.cell = ce.cell
    JOIN lut l ON l.query_id = qc.query_id AND l.s = cd.s AND l.j = cd.code
    GROUP BY l.query_id, cd.vec_id
),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
        FROM adc
    ) WHERE rn <= {K * PQ_OVERSAMPLE}
),
rescored AS (
    SELECT c.query_id, e.vec_id,
           {P.rounded_sql(P.cosine_sql('e.embedding', 'q.qvec'))} AS score
    FROM cand c
    JOIN embeddings e USING (vec_id)
    JOIN qs q USING (query_id)
)
SELECT query_id, vec_id, score FROM (
    SELECT query_id, vec_id, score,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
    FROM rescored
) WHERE rn <= {K}
""",
    survey_ids="I1,I2,I4,ann-ivfpq,V1",
)
def q_ivfpq_index_lookup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched search over the PERSISTED IVF-PQ layout — the warm
    serving shape for query batches (the r12 VERDICT's asked-for twin
    of ivf_index_lookup_batch): {IVFPQ_BATCH_NQ} queries rank their
    probe lists in-plan over the stored centroid metadata, the layout
    scan prunes to the union of probed cells as a literal
    PartitionFilter and reads ONLY the codes column for the per-query
    ADC fold (each code row scored just for the queries that probed
    its cell), then exact cosine rescores the per-query oversampled
    survivors from the layout's vector column. Same oracle family as
    ivfpq_topk, batched; rebuilds the layout in the shared
    per-process scratch like ivfpq_index_lookup."""
    from ..operators import ann

    vecs = corpus.vectors(spark, sf_dir)
    path = _ivfpq_index_scratch()
    ann.write_ivfpq_indexed(vecs, path)
    queries = vecs.filter(F.col("vec_id") < IVFPQ_BATCH_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann.ivfpq_indexed_topk_batch(spark, path, queries)


# ---------------------------------------------------------------------------
# I2 batched — PQ over a query batch (shared codes, per-query LUT)
# ---------------------------------------------------------------------------

PQ_BATCH_NQ = 5


@declare(
    "pq_topk_batch",
    f"""
WITH {_PQ_CODE_CTES},
qs AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id < {PQ_BATCH_NQ}
),
lut AS (
    SELECT q.query_id, c.s, c.j,
           round(CAST({P.dot_sql(
               'list_slice(q.qvec, c.s*' + str(PQ_SUBDIM) + '+1, c.s*'
               + str(PQ_SUBDIM) + '+' + str(PQ_SUBDIM) + ')', 'c.cw')}
               AS DOUBLE), 6) AS w
    FROM cb c CROSS JOIN qs q
),
adc AS (
    -- ordered left fold, NOT sum(): the Spark side folds the LUT in
    -- s-order, and an arbitrary-order GROUP BY sum could round-flip a
    -- tie at the oversample cut (the same pinned discipline as
    -- pq_topk / ivfpq_topk above; PARITY.md ADC row)
    SELECT l.query_id, cd.vec_id,
           round(CAST(list_aggregate(list(l.w ORDER BY cd.s), 'sum') AS DOUBLE), 6) AS score
    FROM codes cd JOIN lut l ON l.s = cd.s AND l.j = cd.code
    GROUP BY l.query_id, cd.vec_id
),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
        FROM adc
    ) WHERE rn <= {K * PQ_OVERSAMPLE}
),
rescored AS (
    SELECT c.query_id, e.vec_id,
           {P.rounded_sql(P.cosine_sql('e.embedding', 'q.qvec'))} AS score
    FROM cand c
    JOIN embeddings e USING (vec_id)
    JOIN qs q USING (query_id)
)
SELECT query_id, vec_id, score FROM (
    SELECT query_id, vec_id, score,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
    FROM rescored
) WHERE rn <= {K}
""",
    survey_ids="I2,ann-pq,V1",
)
def q_pq_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched PQ ({PQ_BATCH_NQ} queries, one plan): the code table
    builds once and is scanned once; each query contributes one
    broadcast LUT row; ADC scoring is the same in-row fold per
    (vector, query); the per-query oversample cut and exact rescore
    touch only survivors — the dense batch's scale story with
    {PQ_SUBSPACES}-byte reads in the scoring loop."""
    from ..operators import ann

    vecs = corpus.vectors(spark, sf_dir)
    qs = (
        vecs.filter(F.col("vec_id") < PQ_BATCH_NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    return ann.pq_topk_batch(vecs, qs)


# ---------------------------------------------------------------------------
# §2.11 aggregations at testdata scale: the TPC-H-shaped side tables
# ---------------------------------------------------------------------------
# lineitem (600k rows at sf0.1) is the largest driver table and nothing
# else reads it — these two queries are the aggregation/join showcase at
# that scale. Float discipline: all money math runs in EXACT integer
# cents/basis-points (prices have 2 decimals, discount/tax are integer
# percents), summed as BIGINT — order-independent by construction — and
# divided back to dollars only at output, one rounding of an exact
# integer per cell.

_LI_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_LI_DISC_BP = "CAST(round(l_discount * 100) AS BIGINT)"
_LI_TAX_BP = "CAST(round(l_tax * 100) AS BIGINT)"
_PRICING_CUTOFF = "1998-09-02"


@declare(
    "lineitem_pricing_summary",
    f"""
WITH src AS (
    SELECT l_returnflag, l_linestatus,
           CAST(l_quantity AS BIGINT) AS qty,
           {_LI_CENTS} AS price_c,
           {_LI_DISC_BP} AS disc_bp,
           {_LI_TAX_BP} AS tax_bp
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_PRICING_CUTOFF} 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       sum(qty)::BIGINT AS sum_qty,
       {P.rounded_sql('sum(price_c)::DOUBLE / 100')} AS sum_base_price,
       {P.rounded_sql('sum(price_c * (100 - disc_bp))::DOUBLE / 10000')}
           AS sum_disc_price,
       {P.rounded_sql(
           'sum(price_c * (100 - disc_bp) * (100 + tax_bp))::DOUBLE / 1000000'
       )} AS sum_charge,
       {P.rounded_sql('sum(qty)::DOUBLE / count(*)')} AS avg_qty,
       {P.rounded_sql('sum(price_c)::DOUBLE / 100 / count(*)')} AS avg_price,
       {P.rounded_sql('sum(disc_bp)::DOUBLE / 100 / count(*)')} AS avg_disc,
       count(*)::BIGINT AS count_order
FROM src
GROUP BY l_returnflag, l_linestatus
""",
    survey_ids="§2.11",
)
def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary over the largest testdata table (TPC-H Q1
    shape): one scan with the shipdate filter pushed into it, one
    map-side-combinable aggregation on a 6-group key. All sums are
    exact BIGINT cent/basis-point arithmetic (order-independent; the
    per-row cents conversion is the only double rounding and it is
    deterministic per row); averages divide two exact integers. At
    100 TB this is the canonical partial-agg plan — no other shape."""
    li = corpus._read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(_PRICING_CUTOFF).cast("timestamp")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_bp = F.round(F.col("l_discount") * 100).cast("bigint")
    tax_bp = F.round(F.col("l_tax") * 100).cast("bigint")
    src = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("qty"),
        cents.alias("price_c"),
        disc_bp.alias("disc_bp"),
        tax_bp.alias("tax_bp"),
    )
    g = src.groupBy("l_returnflag", "l_linestatus")
    n = F.count(F.lit(1))
    return g.agg(
        F.sum("qty").cast("bigint").alias("sum_qty"),
        P.rounded(F.sum("price_c").cast("double") / 100).alias("sum_base_price"),
        # the money PRODUCTS sum in DECIMAL(38,0): a per-row charge is
        # ~1e11 basis-point-squared cents, so a group's LONG sum wraps
        # silently past ~9.2e18 (TPC-H SF >~ 160) while DuckDB promotes
        # sum(BIGINT) to exact HUGEINT — decimal keeps Spark exact to
        # 38 digits and the final double cast rounds identically
        P.rounded(
            F.sum(
                (F.col("price_c") * (100 - F.col("disc_bp"))).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / 10000
        ).alias("sum_disc_price"),
        P.rounded(
            F.sum(
                (
                    F.col("price_c")
                    * (100 - F.col("disc_bp"))
                    * (100 + F.col("tax_bp"))
                ).cast("decimal(38,0)")
            ).cast("double")
            / 1000000
        ).alias("sum_charge"),
        P.rounded(F.sum("qty").cast("double") / n).alias("avg_qty"),
        P.rounded(F.sum("price_c").cast("double") / 100 / n).alias("avg_price"),
        P.rounded(F.sum("disc_bp").cast("double") / 100 / n).alias("avg_disc"),
        n.cast("bigint").alias("count_order"),
    )


TOP_CUSTOMERS_N = 20


@declare(
    "top_customer_revenue",
    f"""
WITH rev AS (
    SELECT o.o_custkey,
           sum({_LI_CENTS} * (100 - {_LI_DISC_BP}))::BIGINT AS rev_e4,
           count(DISTINCT o.o_orderkey)::BIGINT AS n_orders
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
)
SELECT o_custkey,
       {P.rounded_sql('rev_e4::DOUBLE / 10000')} AS revenue,
       n_orders
FROM rev
ORDER BY rev_e4 DESC, o_custkey ASC
LIMIT {TOP_CUSTOMERS_N}
""",
    survey_ids="§2.11",
)
def q_top_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TOP_CUSTOMERS_N (=20) customers by discounted revenue: the
    600k-row lineitem joins 150k-row orders on the order key (at this
    shape a shuffle join on the join key; at 100 TB both sides bucket
    by orderkey and the exchange disappears), revenue folds as exact
    BIGINT cents*basis-points per customer, and the head is a
    TakeOrderedAndProject on the exact integer — ties break on the
    custkey, and the dollar rendering happens after the cut."""
    li = corpus._read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        # rev_e4 sums stay BIGINT end-to-end: per-customer groups are
        # small, and at the SF where a group could exceed int64 BOTH
        # engines fail loudly and consistently (Spark ANSI sum throws,
        # DuckDB ::BIGINT errors) — unlike the pricing summary's
        # ~1e11/row charge products, which needed the decimal sum
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_e4_row"),
    )
    orders = corpus._read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum("rev_e4_row").cast("bigint").alias("rev_e4"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        )
    )
    return (
        rev.orderBy(F.desc("rev_e4"), F.asc("o_custkey"))
        .limit(TOP_CUSTOMERS_N)
        .select(
            "o_custkey",
            P.rounded(F.col("rev_e4").cast("double") / 10000).alias("revenue"),
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# §2.7/§2.11 — join-heavy TPC-H shapes: multi-table star join + semi-join
# ---------------------------------------------------------------------------
# The registry's join checklist (SURVEY §2.7) exercised equi-joins and
# left-anti (cleanup) but never a dimension-chain star join or an EXISTS
# semi-join at fact-table scale; these two close that. Same exact-money
# discipline as the pricing summary: cents x basis-points in BIGINT,
# dollars rendered once after aggregation.

_Q5_YEAR_LO = "1996-01-01"
_Q5_YEAR_HI = "1997-01-01"
_Q5_REGION = "ASIA"



def _q5_star_rollup(
    spark: SparkSession, sf_dir: str, local_supplier: bool
) -> DataFrame:
    """Shared Q5 skeleton: the date-filtered orders slice joins the
    lineitem revenue projection on the order key, rolls up to
    c_nationkey BEFORE touching any dimension, then meets the
    broadcast nation/region chain. local_supplier=True adds the
    supplier leg with the c_nationkey = s_nationkey residual (the full
    TPC-H Q5) and drops the order count the simpler variant reports —
    the two declared queries differ only in those flags."""
    li_cols = ["l_orderkey"] + (["l_suppkey"] if local_supplier else [])
    li = corpus._read(spark, sf_dir, "lineitem").select(
        *li_cols,
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_e4_row"),
    )
    orders = (
        corpus._read(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_Q5_YEAR_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_Q5_YEAR_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = corpus._read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = corpus._read(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    region = (
        corpus._read(spark, sf_dir, "region")
        .filter(F.col("r_name") == _Q5_REGION)
        .select("r_regionkey")
    )
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    if local_supplier:
        supp = corpus._read(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey"
        )
        joined = joined.join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    aggs = [F.sum("rev_e4_row").cast("bigint").alias("sum_rev_e4")]
    if not local_supplier:
        aggs.append(
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders")
        )
    rev = joined.groupBy("c_nationkey").agg(*aggs)
    dim = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    out = [
        F.col("n_name"),
        P.rounded(F.col("sum_rev_e4").cast("double") / 10000).alias("revenue"),
    ] + ([] if local_supplier else [F.col("n_orders")])
    return rev.join(
        F.broadcast(dim), rev["c_nationkey"] == dim["n_nationkey"]
    ).select(*out)


@declare(
    "revenue_by_nation",
    f"""
SELECT n.n_name,
       {P.rounded_sql('sum_rev_e4::DOUBLE / 10000')} AS revenue,
       n_orders
FROM (
    SELECT c.c_nationkey,
           sum({_LI_CENTS} * (100 - {_LI_DISC_BP}))::BIGINT AS sum_rev_e4,
           count(DISTINCT o.o_orderkey)::BIGINT AS n_orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '{_Q5_YEAR_LO} 00:00:00'
      AND o.o_orderdate < TIMESTAMP '{_Q5_YEAR_HI} 00:00:00'
    GROUP BY c.c_nationkey
) rev
JOIN nation n ON rev.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{_Q5_REGION}'
""",
    survey_ids="§2.7,§2.11",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue by customer nation inside one region for one
    order year (TPC-H Q5 shape minus the supplier leg): the 6M-row
    lineitem joins the date-filtered orders slice on the order key,
    rolls up to c_nationkey BEFORE touching any dimension — the
    fact-side aggregate shrinks the join input to ~25 rows — then the
    nation/region dimension chain broadcasts onto the rollup. At
    100 TB the only large exchange is the orderkey join (bucketable,
    proven by tests/test_bucketed_join.py); the dimensions never see
    fact rows. Revenue folds as exact BIGINT cents*bp; dollars render
    once per output row. Shares _q5_star_rollup with the
    local-supplier variant."""
    return _q5_star_rollup(spark, sf_dir, local_supplier=False)


_Q4_QTR_LO = "1996-07-01"
_Q4_QTR_HI = "1996-10-01"
_Q4_LATE_DAYS = 30


@declare(
    "order_priority_semijoin",
    f"""
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{_Q4_QTR_LO} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{_Q4_QTR_HI} 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL {_Q4_LATE_DAYS} DAY
  )
GROUP BY o_orderpriority
""",
    survey_ids="§2.7,§2.11",
)
def q_order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority counts for one quarter, restricted to orders with
    at least one late-shipping lineitem (TPC-H Q4 shape; the EXISTS
    predicate is ship-lag because the testdata lineitem carries no
    commit/receipt dates): a LEFT SEMI join from the date-filtered
    orders slice into lineitem on the order key, with the correlated
    ship-lag comparison as a join residual, then one tiny 5-group
    rollup. The semi-join stops probing an order after its first match
    and never duplicates order rows; at 100 TB both sides hash on the
    orderkey (bucketable) and the date filter prunes the probe side at
    the scan."""
    orders = (
        corpus._read(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_Q4_QTR_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_Q4_QTR_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = corpus._read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"]
            > orders["o_orderdate"] + F.expr(f"INTERVAL {_Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


@declare(
    "local_supplier_revenue",
    f"""
SELECT n.n_name,
       {P.rounded_sql('sum_rev_e4::DOUBLE / 10000')} AS revenue
FROM (
    SELECT c.c_nationkey,
           sum({_LI_CENTS} * (100 - {_LI_DISC_BP}))::BIGINT AS sum_rev_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '{_Q5_YEAR_LO} 00:00:00'
      AND o.o_orderdate < TIMESTAMP '{_Q5_YEAR_HI} 00:00:00'
    GROUP BY c.c_nationkey
) rev
JOIN nation n ON rev.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{_Q5_REGION}'
""",
    survey_ids="§2.7,§2.11",
)
def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL TPC-H Q5 join graph (the only query touching the
    supplier table): lineitem joins orders (orderkey), customer
    (custkey), and supplier (suppkey) with the local-supplier residual
    c_nationkey = s_nationkey — revenue counts only when the customer
    and the supplier sit in the same nation. Supplier is tiny at every
    SF ratio (1:10000 of lineitem) so it broadcasts; the residual
    evaluates inside that broadcast join, after which the fact rollup
    meets the broadcast nation/region chain. Same exact BIGINT
    cents*bp money math; shares _q5_star_rollup with the
    supplier-less variant."""
    return _q5_star_rollup(spark, sf_dir, local_supplier=True)


_Q10_QTR_LO = "1997-01-01"
_Q10_QTR_HI = "1997-04-01"
RETURNED_TOP_N = 20


@declare(
    "returned_item_report",
    f"""
SELECT c_custkey, c_name, n_name,
       {P.rounded_sql('rev_e4::DOUBLE / 10000')} AS revenue
FROM (
    SELECT c.c_custkey, c.c_name, c.c_nationkey,
           sum({_LI_CENTS} * (100 - {_LI_DISC_BP}))::BIGINT AS rev_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '{_Q10_QTR_LO} 00:00:00'
      AND o.o_orderdate < TIMESTAMP '{_Q10_QTR_HI} 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_nationkey
    ORDER BY rev_e4 DESC, c_custkey ASC
    LIMIT {RETURNED_TOP_N}
) top
JOIN nation n ON top.c_nationkey = n.n_nationkey
""",
    survey_ids="§2.7,§2.11",
)
def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item customer report (TPC-H Q10 shape): revenue lost to
    returns in one quarter, per customer, top-RETURNED_TOP_N (=20) with
    the customer's nation attached. The returnflag filter pushes into the
    lineitem scan (prunes ~3/4 of the fact table before the join), the
    customer rollup keys on the customer row, the head is a
    TakeOrderedAndProject on the exact integer, and the nation name
    joins AFTER the cut — {RETURNED_TOP_N} rows probe a broadcast, the
    rollup never carries the dimension string."""
    li = corpus._read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_e4_row"),
    )
    orders = (
        corpus._read(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_Q10_QTR_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_Q10_QTR_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = corpus._read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = corpus._read(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    top = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(F.sum("rev_e4_row").cast("bigint").alias("rev_e4"))
        .orderBy(F.desc("rev_e4"), F.asc("c_custkey"))
        .limit(RETURNED_TOP_N)
    )
    return top.join(
        F.broadcast(nation), top["c_nationkey"] == nation["n_nationkey"]
    ).select(
        "c_custkey",
        "c_name",
        "n_name",
        P.rounded(F.col("rev_e4").cast("double") / 10000).alias("revenue"),
    )
