"""Registry entries for corpus-preparation operators.

These extend the training-data curation stack (registry_pipeline) with
the remaining steps a retrieval/training corpus needs between cleaning
and consumption:

  - doc_chunk_windows: overlapping token-window passage splitting (the
    unit the reference embeds is the passage, scripts/indexing.py:326;
    chunking is how documents become passages).
  - boilerplate_ngrams: per-source frequent-shingle detection (CCNet's
    line-dedup idea applied to shingles — the synthetic corpus has no
    line structure, so the repeated unit is the n-gram).
  - temperature_mixture: temperature-flattened domain sampling weights
    (the multilingual-training mixture rule: w_i ∝ share_i^τ), and
    mixture_sample, which EXECUTES those weights as integer hash cuts.
  - epoch_shuffle: deterministic per-epoch training order (position is
    a property of (doc_id, epoch); resumable without replay).
  - chunk_embed_pool: chunk-level term contributions sum-pooled into
    one L2-normalized doc vector in posting form (exact BIGINT core).
  - source_data_card: the per-domain release report — every cell a
    ratio of exact integer counts.
  - retrieval_manifest: the retrieval-side capstone — quality-keep ->
    chunk -> pool -> posting-form hyperplane-LSH bucket in ONE plan.

Every plan is declarative (no Python workers) with a DuckDB oracle;
all floats are rounded through functions/portable so engine and oracle
hash identically, and anything that feeds a comparison is either a
per-row expression over rounded inputs, an order-independent max, or
exact integer arithmetic (see test_partition_count_invariance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import portable as P
from . import corpus
from .constants import (
    BOILER_MIN_DOCS,
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    SHINGLE_N,
)
from .registry_core import declare

# ---------------------------------------------------------------------------
# passage chunking: overlapping token windows
# ---------------------------------------------------------------------------
# Window starts step by CHUNK_STRIDE; a non-initial window is emitted
# only if it contributes tokens beyond the previous window's coverage
# (n - s > CHUNK_TOKENS - CHUNK_STRIDE), so short tails never produce a
# chunk that is a strict sub-window of its predecessor.

def _chunk_sql_from(src: str) -> str:
    """The chunk derivation as SQL over any (doc_id, text) relation."""
    return f"""
WITH toks AS (
    SELECT doc_id, {P.tokens_sql('text')} AS toks FROM {src}
),
starts AS (
    SELECT doc_id, toks, len(toks) AS n,
           unnest(range(0, len(toks), {CHUNK_STRIDE})) AS s
    FROM toks WHERE len(toks) >= 1
)
SELECT doc_id,
       CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_tok,
       CAST(least({CHUNK_TOKENS}, n - s) AS BIGINT) AS chunk_tokens,
       array_to_string(
           list_slice(toks, s + 1, least(s + {CHUNK_TOKENS}, n)), ' ')
           AS chunk_text
FROM starts
WHERE s = 0 OR n - s > {CHUNK_TOKENS - CHUNK_STRIDE}
"""


_CHUNK_SQL = _chunk_sql_from("documents")


def chunk_windows(docs: DataFrame) -> DataFrame:
    """The chunk derivation over any (doc_id, text) DataFrame — the
    engine-side twin of _chunk_sql_from."""
    toks = docs.selectExpr(
        "doc_id", f"{P.tokens_spark_sql('text')} AS toks"
    ).filter(F.size("toks") >= 1)
    st = toks.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        # CASE-total despite the size>=1 filter upstream: explode()
        # lets InferFiltersFromGenerate push a derived predicate
        # containing this expression below the guard, where
        # sequence(0, -1, 30) throws on an empty doc (the trap
        # operators/dedup.py shingle_arrays documents)
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= 1 THEN"
                f" sequence(0, size(toks) - 1, {CHUNK_STRIDE})"
                f" ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("s"),
    )
    return st.filter(
        (F.col("s") == 0)
        | (F.col("n") - F.col("s") > CHUNK_TOKENS - CHUNK_STRIDE)
    ).select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("s"))
        .cast("bigint")
        .alias("chunk_tokens"),
        F.array_join(
            F.expr(f"slice(toks, s + 1, {CHUNK_TOKENS})"), " "
        ).alias("chunk_text"),
    )


@declare("doc_chunk_windows", _CHUNK_SQL, survey_ids="pipeline-chunk,E1")
def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: each doc explodes into
    {CHUNK_TOKENS}-token passages every {CHUNK_STRIDE} tokens — the
    document->passage step ahead of passage embedding (E1) and any
    context-length-bounded training. Tokenize once, explode window
    starts, slice per start: a map-only plan whose output order is
    (doc_id, chunk_id)-keyed data, so chunking 100 TB is exactly one
    read with zero shuffles, and the chunk table inherits the corpus
    partitioning (doc co-location survives into the embed stage)."""
    return chunk_windows(corpus.docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# boilerplate shingles: per-source repeated n-grams
# ---------------------------------------------------------------------------
# Every even doc gets a synthetic per-source footer appended BEFORE
# detection, so the detector has true positives to find and the oracle
# verifies detection fires (the synthetic corpus repeats few n-grams
# naturally); naturally repeated shingles count too, identically in
# both engines.

_BOILER_FOOTER = " standard footer notice from "

_BOILER_SQL = f"""
WITH seeded AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 2 = 0
                THEN text || '{_BOILER_FOOTER}' || source
                ELSE text END AS text
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, source, sh FROM (
        SELECT doc_id, source,
               unnest(list_transform(
                   range(1, len(toks) - {SHINGLE_N - 2}),
                   i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), '_')
               )) AS sh
        FROM (SELECT doc_id, source, {P.tokens_sql('text')} AS toks FROM seeded)
        WHERE len(toks) >= {SHINGLE_N}
    )
),
df AS (
    SELECT source, sh, count(*)::BIGINT AS n_docs
    FROM sh GROUP BY source, sh
),
boiler AS (SELECT source, sh FROM df WHERE n_docs >= {BOILER_MIN_DOCS})
SELECT s.doc_id,
       count(*)::BIGINT AS n_shingles,
       count(b.sh)::BIGINT AS n_boiler,
       {P.rounded_sql('count(b.sh)::DOUBLE / count(*)')} AS boiler_frac
FROM sh s LEFT JOIN boiler b USING (source, sh)
GROUP BY s.doc_id
"""


@declare("boilerplate_ngrams", _BOILER_SQL, survey_ids="pipeline-boilerplate")
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: shingles repeated across >=
    {BOILER_MIN_DOCS} distinct docs of the same source (footers,
    headers, navigation chrome) and each doc's boilerplate fraction —
    the signal behind CCNet-style template stripping. Per-doc-distinct
    shingles explode once; ONE map-side-combinable count keyed on
    (source, shingle) finds the boilerplate set; the membership join is
    keyed the same way so it reuses the exchange. At 100 TB the
    boilerplate set is tiny by construction (high-frequency shingles
    only) — it broadcasts, and the corpus-side shingle table never
    shuffles for the join, leaving the per-doc rollup as the one
    corpus-scale exchange."""
    from ..functions import text as T

    docs = corpus.docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(_BOILER_FOOTER), F.col("source")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # shingles never surface in the output (per-doc counts only) and
    # never feed a pinned hash family, so this is an equality-only
    # pipeline: hashed gram ids (functions.text.hashed_ngram_ids_expr) make
    # the persisted table, the (source, sh) count, and the membership
    # join long-keyed, and the consuming-regex gram build avoids the
    # per-shingle slice+concat_ws allocation (no explode-below-guard
    # trap either: there is no sequence() to push under the filter)
    g = T.hashed_ngram_ids_expr("text", SHINGLE_N)
    sh = (
        seeded.select("doc_id", "source", F.array_distinct(g).alias("shs"))
        .filter(F.size("shs") > 0)
        .select("doc_id", "source", F.explode("shs").alias("sh"))
    )
    from ..functions.cache import tracked_persist

    # persist: the exploded shingle table feeds both the frequency
    # count and the membership join — one tokenize+explode pass instead
    # of two (at scale this table is the materialized intermediate a
    # pipeline would write anyway)
    sh = tracked_persist(sh)
    boiler = (
        sh.groupBy("source", "sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("source", "sh", F.lit(True).alias("is_boiler"))
    )
    joined = sh.join(F.broadcast(boiler), ["source", "sh"], "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.count("is_boiler").cast("bigint").alias("n_boiler"),
        P.rounded(
            F.count("is_boiler").cast("double") / F.count(F.lit(1))
        ).alias("boiler_frac"),
    )


# ---------------------------------------------------------------------------
# temperature-scaled mixture weights
# ---------------------------------------------------------------------------
# τ = 0.5 fixed so the power is sqrt — correctly rounded IEEE in both
# engines, unlike pow(x, τ) whose libm may differ in the last ulp.
# Weights are normalized against the LARGEST domain's weight (max over
# already-rounded values — order-independent), never against a
# floating-point SUM whose accumulation order differs between engines.

_TEMP_SQL = f"""
WITH per_source AS (
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum({P.token_count_sql('text')})::BIGINT AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total_tokens FROM per_source),
shares AS (
    SELECT s.source, s.n_docs, s.n_tokens,
           {P.rounded_sql('s.n_tokens::DOUBLE / t.total_tokens')} AS token_share,
           {P.rounded_sql(
               'sqrt(' + P.rounded_sql('s.n_tokens::DOUBLE / t.total_tokens') + ')'
           )} AS temp_weight
    FROM per_source s CROSS JOIN tot t
),
mx AS (SELECT max(temp_weight) AS max_w FROM shares)
SELECT source, n_docs, n_tokens, token_share, temp_weight,
       {P.rounded_sql('temp_weight / m.max_w')} AS sample_rate
FROM shares CROSS JOIN mx m
"""


@declare("temperature_mixture", _TEMP_SQL, survey_ids="pipeline-mix")
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain mixture: per-source sampling weight
    w_i ∝ token_share_i^0.5, reported relative to the largest domain
    (sample_rate = w_i / max w) — the standard rule for boosting
    low-resource domains without drowning high-resource ones. Token
    totals are exact BIGINT rollups (one map-side-combinable shuffle on
    source); every floating-point step after that is per-row over
    rounded inputs or an order-independent max, so the plan is
    deterministic at any partition count — the property that lets the
    same query run on 20 sources or 20,000."""
    docs = corpus.docs(spark, sf_dir)
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(f"CAST(sum(size({P.tokens_spark_sql('text')})) AS BIGINT) AS n_tokens"),
    )
    tot = per_source.groupBy().agg(F.sum("n_tokens").alias("total_tokens"))
    share = P.rounded(
        F.col("n_tokens").cast("double") / F.col("total_tokens")
    )
    shares = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        P.rounded(F.sqrt(share)).alias("temp_weight"),
    )
    mx = shares.groupBy().agg(F.max("temp_weight").alias("max_w"))
    return shares.crossJoin(F.broadcast(mx)).select(
        "source",
        "n_docs",
        "n_tokens",
        "token_share",
        "temp_weight",
        P.rounded(F.col("temp_weight") / F.col("max_w")).alias("sample_rate"),
    )


# ---------------------------------------------------------------------------
# epoch shuffle: deterministic per-epoch training order
# ---------------------------------------------------------------------------
# Training wants a different document order every epoch, reproducible
# across runs and resumable mid-epoch. Order is a PROPERTY of
# (doc_id, epoch): sort key = md5(doc_id || '_ep' || epoch) — no rand(),
# no global state.

N_EPOCHS = 2

_EPOCH_KEY = P.md5_long_sql(
    "CAST(doc_id AS VARCHAR) || '_ep' || CAST(epoch AS VARCHAR)"
)

_EPOCH_SQL = f"""
WITH assigned AS ({{split_sql}}),
ep AS (SELECT unnest(range(0, {N_EPOCHS})) AS epoch),
keyed AS (
    SELECT a.doc_id, a.split, e.epoch, {_EPOCH_KEY} AS k
    FROM assigned a CROSS JOIN ep e
)
SELECT doc_id, split, CAST(epoch AS BIGINT) AS epoch,
       CAST(row_number() OVER (
           PARTITION BY split, epoch ORDER BY k ASC, doc_id ASC
       ) AS BIGINT) AS pos
FROM keyed
"""


def _epoch_sql() -> str:
    from .registry_pipeline import _SPLIT_SQL

    return _EPOCH_SQL.format(split_sql=_SPLIT_SQL)


@declare("epoch_shuffle", _epoch_sql(), survey_ids="pipeline-order")
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle per training epoch: within each
    split, epoch e's order is ascending md5(doc_id, e) — every epoch a
    fresh permutation, every run the same one, and a resumed run can
    seek to position p without replaying. One window per (split,
    epoch); at 100 TB the same key drives repartitionByRange +
    sortWithinPartitions so the manifest is WRITTEN in epoch order and
    no reader ever needs the rank materialized corpus-wide (the
    per-shard story documented on sequence_pack applies unchanged)."""
    from pyspark.sql import Window

    from .registry_pipeline import TRAIN_CUT, VAL_CUT, _bucket_col

    docs = corpus.docs(spark, sf_dir)
    b = _bucket_col()
    assigned = docs.select(
        "doc_id",
        F.when(b < TRAIN_CUT, "train")
        .when(b < VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
    )
    keyed = assigned.select(
        "doc_id",
        "split",
        F.explode(F.sequence(F.lit(0), F.lit(N_EPOCHS - 1))).alias("epoch"),
    ).withColumn(
        "k",
        P.md5_long(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("_ep"),
                F.col("epoch").cast("string"),
            )
        ),
    )
    w = Window.partitionBy("split", "epoch").orderBy(
        F.asc("k"), F.asc("doc_id")
    )
    return keyed.select(
        "doc_id",
        "split",
        F.col("epoch").cast("bigint").alias("epoch"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# ---------------------------------------------------------------------------
# chunk -> doc embedding pooling
# ---------------------------------------------------------------------------
# The doc-level embedding a retrieval pipeline stores when it embeds at
# passage granularity: sum-pool every chunk's raw signed-hash term
# contributions (overlap tokens count once per covering chunk), then
# L2-normalize once. The pooled sums stay BIGINT until the single
# normalize step, so the only floating-point in the plan is per-row.

_POOL_SQL = f"""
WITH chunks AS ({{chunk_sql}}),
tok AS (
    SELECT doc_id, unnest({P.tokens_sql('chunk_text')}) AS term
    FROM chunks
),
sums AS (
    SELECT doc_id, {{hdim}} AS dim,
           sum(CASE WHEN ({{h}} >> 6) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS s
    FROM tok
    GROUP BY doc_id, {{hdim}}
)
SELECT doc_id, dim,
       CASE WHEN sqrt((sum(s * s) OVER (PARTITION BY doc_id))::DOUBLE) > 0
            THEN round(s / sqrt((sum(s * s) OVER (PARTITION BY doc_id))::DOUBLE),
                       {{rd}})
            ELSE 0.0 END AS comp
FROM sums
"""


def _pool_sql() -> str:
    from ..functions import embedder as E
    from .constants import ROUND_DIGITS

    h = P.md5_long_sql("term")
    return _POOL_SQL.format(
        chunk_sql=_CHUNK_SQL,
        h=h,
        hdim=E.hash_dim_sql(h),
        rd=ROUND_DIGITS,
    )


@declare("chunk_embed_pool", _pool_sql(), survey_ids="pipeline-chunk,E1")
def q_chunk_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding pooling: the chunk table's texts
    re-embed through the deterministic signed-hash projection and
    sum-pool into one L2-normalized doc vector in posting form
    (doc_id, dim, comp) — the store-one-vector-per-doc layout a
    retrieval index keeps when embedding happens per passage. All
    pooling arithmetic is exact BIGINT (signed counts); floats appear
    only in the final per-row normalize, so the plan is deterministic
    at any partition count. Two keyed aggregations, both
    map-side-combinable — same scale shape as embed_documents."""
    from ..functions import embedder as E

    # chunk in TOKEN space (r14, the retrieval_manifest lesson): the
    # oracle's chunk_text is array_to_string over token slices, and
    # re-tokenizing a space-joined [a-z0-9]+ token list returns the
    # slice verbatim — so the term explode reads the slices directly
    # and skips the per-chunk string rebuild + second tokenize pass
    # (the probe's heaviest per-doc row; this query's x100 time was
    # 16.1 s, the worst curation ratio, with that double pass in it).
    docs = corpus.docs(spark, sf_dir)
    toks = docs.selectExpr(
        "doc_id", f"{P.tokens_spark_sql('text')} AS toks"
    ).filter(F.size("toks") >= 1)
    st = toks.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        # CASE-total for the InferFiltersFromGenerate trap chunk_windows
        # documents
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= 1 THEN"
                f" sequence(0, size(toks) - 1, {CHUNK_STRIDE})"
                f" ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("s"),
    ).filter(
        (F.col("s") == 0)
        | (F.col("n") - F.col("s") > CHUNK_TOKENS - CHUNK_STRIDE)
    )
    tok = st.select(
        "doc_id",
        F.explode(F.expr(f"slice(toks, s + 1, {CHUNK_TOKENS})")).alias("term"),
    )
    h = P.md5_long(F.col("term"))
    contrib = tok.select(
        "doc_id",
        E.hash_dim(h).alias("dim"),
        F.when(F.shiftright(h, 6) % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    sums = contrib.groupBy("doc_id", "dim").agg(
        F.sum("sign").cast("bigint").alias("s")
    )
    norms = sums.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s")).cast("double")).alias("nrm")
    )
    return sums.join(norms, "doc_id").select(
        "doc_id",
        "dim",
        F.when(
            F.col("nrm") > 0, P.rounded(F.col("s") / F.col("nrm"))
        )
        .otherwise(F.lit(0.0))
        .alias("comp"),
    )


# ---------------------------------------------------------------------------
# source data card: the per-domain report a corpus release ships with
# ---------------------------------------------------------------------------
# Every metric is a COUNT or a ratio of counts: integer aggregation is
# exact in any order, so the card is deterministic at any partition
# count — no cross-engine float-sum enters any cell. (A mean quality
# would be an unordered double sum; the pass-rate against the funnel
# threshold carries the same signal as an integer.)

_CARD_SQL = """
WITH seeded AS (
    SELECT doc_id, source, lang, n_chars,
           CASE WHEN doc_id % 10 = 0
                THEN text || ' contact user' || doc_id || '@example.com now'
                ELSE text END AS text
    FROM documents
),
canon AS (
    SELECT doc_id, source, lang, text, n_chars,
           min(doc_id) OVER (PARTITION BY source, sha256(text)) AS canonical_id
    FROM seeded
),
per_doc AS (
    SELECT source, lang, n_chars,
           CAST(doc_id <> canonical_id AS INTEGER) AS is_dup,
           CAST({q} >= {minq} AS INTEGER) AS q_pass,
           CAST(len(regexp_extract_all(text, '{email}')) > 0 AS INTEGER)
               AS has_pii
    FROM canon
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT lang)::BIGINT AS n_langs,
       sum(n_chars)::BIGINT AS n_chars,
       sum(is_dup)::BIGINT AS n_dup_docs,
       sum(q_pass)::BIGINT AS n_quality_pass,
       sum(has_pii)::BIGINT AS n_pii_docs,
       {dup_rate} AS dup_rate,
       {q_rate} AS quality_pass_rate
FROM per_doc
GROUP BY source
"""


def _card_sql() -> str:
    from ..functions import text as T
    from .registry_pipeline import _EMAIL_RE, MIN_QUALITY

    return _CARD_SQL.format(
        q=T.quality_score_sql("text"),
        minq=MIN_QUALITY,
        email=_EMAIL_RE,
        dup_rate=P.rounded_sql("sum(is_dup)::DOUBLE / count(*)"),
        q_rate=P.rounded_sql("sum(q_pass)::DOUBLE / count(*)"),
    )


@declare("source_data_card", _card_sql(), survey_ids="pipeline-card,§2.11")
def q_source_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card: per-source doc/char counts, language spread,
    within-source exact-dup rate, quality-funnel pass rate, and PII
    incidence (over the same seeded contact lines text_pii_scrub
    verifies against) — the release-notes table for a training corpus.
    Every per-document feature (content hash, quality verdict, PII
    flag) computes in the SCAN, so the dup-detection window's exchange
    carries ~60-byte feature tuples, never the document text — at
    100 TB the shuffle volume is the feature table, not the corpus.
    Then one map-side-combinable rollup on source; every downstream
    cell derives from exact integer counts. The seeded text (a
    multi-KB concat) binds ONCE behind the explode barrier — inlined
    into each of hash/quality/PII it re-concatenated per feature (the
    Generate-barrier discipline, see functions/text.quality_features_expr)."""
    from ..functions import text as T
    from .registry_pipeline import _EMAIL_RE, MIN_QUALITY

    docs = corpus.docs(spark, sf_dir)
    text = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.col("text"))

    # the email regex only runs on rows containing '@' (an email
    # REQUIRES one, so the gate is value-identical and the oracle needs
    # no twin): measured at the x100 probe corpus the regex was the
    # card's dominant cost — ~19-23 s ungated vs ~7 s gated, because
    # Java regex backtracks at every position of every multi-KB
    # document that can never match
    t = F.col("t")
    has_pii = F.when(
        F.contains(t, F.lit("@")), F.regexp_count(t, F.lit(_EMAIL_RE)) > 0
    ).otherwise(F.lit(False))
    featured = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.explode(F.array(text)).alias("t"),
    ).select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.sha2(t, 256).alias("h"),
        (T.quality_score_expr("t") >= MIN_QUALITY).cast("int").alias("q_pass"),
        has_pii.cast("int").alias("has_pii"),
    )
    from pyspark.sql import Window

    wh = Window.partitionBy("source", "h")
    per_doc = featured.withColumn(
        "canonical_id", F.min("doc_id").over(wh)
    ).select(
        "source",
        "lang",
        "n_chars",
        (F.col("doc_id") != F.col("canonical_id")).cast("int").alias("is_dup"),
        "q_pass",
        "has_pii",
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
        F.sum("q_pass").cast("bigint").alias("n_quality_pass"),
        F.sum("has_pii").cast("bigint").alias("n_pii_docs"),
    )
    return agg.select(
        "*",
        P.rounded(
            F.col("n_dup_docs").cast("double") / F.col("n_docs")
        ).alias("dup_rate"),
        P.rounded(
            F.col("n_quality_pass").cast("double") / F.col("n_docs")
        ).alias("quality_pass_rate"),
    )


# ---------------------------------------------------------------------------
# retrieval manifest: the retrieval-side capstone composition
# ---------------------------------------------------------------------------
# training_manifest composes the TRAINING chain; this composes the
# RETRIEVAL chain: quality-keep -> chunk -> pool into one doc vector
# (posting form, exact BIGINT core) -> hyperplane-LSH bucket computed
# DIRECTLY on the postings (dot with each plane = one keyed sum — the
# embed stack never assembles a dense array). Output: each kept doc's
# index placement (bucket), chunk count, and active dimension count.


def _retrieval_sql() -> str:
    from ..functions import embedder as E
    from ..functions import text as T
    from .constants import LSH_PLANES, ROUND_DIGITS
    from .registry_pipeline import MIN_QUALITY, MIN_STOPWORD, MIN_TOKENS

    h = P.md5_long_sql("term")
    return f"""
WITH kept AS (
    SELECT doc_id, text FROM documents
    WHERE {P.token_count_sql('text')} >= {MIN_TOKENS}
      AND {T.stopword_ratio_sql('text')} >= {MIN_STOPWORD}
      AND {T.quality_score_sql('text')} >= {MIN_QUALITY}
),
chunks AS ({_chunk_sql_from('kept')}),
tok AS (
    SELECT doc_id, unnest({P.tokens_sql('chunk_text')}) AS term
    FROM chunks
),
sums AS (
    SELECT doc_id, {E.hash_dim_sql(h)} AS dim,
           sum(CASE WHEN ({h} >> 6) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS s
    FROM tok
    GROUP BY doc_id, {E.hash_dim_sql(h)}
),
comps AS (
    SELECT doc_id, dim,
           CASE WHEN sqrt((sum(s * s) OVER (PARTITION BY doc_id))::DOUBLE) > 0
                THEN round(
                    s / sqrt((sum(s * s) OVER (PARTITION BY doc_id))::DOUBLE),
                    {ROUND_DIGITS})
                ELSE 0.0 END AS comp,
           s
    FROM sums
),
pw AS (
    SELECT plane, d,
           ('0x' || substr(md5(plane::VARCHAR || '_' || d::VARCHAR), 1, 4))::INT::DOUBLE
               - 32767.5 AS w
    FROM (SELECT unnest(range(0, {LSH_PLANES})) AS plane)
    CROSS JOIN (SELECT unnest(range(1, 65)) AS d)
),
dots AS (
    SELECT c.doc_id, p.plane, round(sum(c.comp * p.w), {ROUND_DIGITS}) AS dot
    FROM comps c JOIN pw p ON p.d = c.dim + 1
    GROUP BY c.doc_id, p.plane
),
buckets AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << plane) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY doc_id
),
nchunks AS (SELECT doc_id, count(*)::BIGINT AS n_chunks FROM chunks GROUP BY doc_id),
ndims AS (
    SELECT doc_id, count(*) FILTER (WHERE s <> 0)::BIGINT AS n_dims
    FROM sums GROUP BY doc_id
)
SELECT b.doc_id, b.bucket, nc.n_chunks, nd.n_dims
FROM buckets b
JOIN nchunks nc USING (doc_id)
JOIN ndims nd USING (doc_id)
"""


@declare("retrieval_manifest", _retrieval_sql(), survey_ids="pipeline-manifest,E1,I1")
def q_retrieval_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval chain as ONE declared plan: quality-keep (funnel
    rules in the scan) -> chunk -> pool chunk term contributions into
    the doc vector (exact BIGINT core) -> hyperplane-LSH bucket
    computed directly on the posting rows — each plane's dot is one
    (doc, plane)-keyed sum against the broadcast 8x64 weight table, so
    the index placement of every doc materializes without ever
    assembling a dense array. Signs are decided on ROUNDED dots (both
    engines group-sum in arbitrary order — same discipline as the
    embedding_neardup bucket). Four keyed aggregations, all on doc_id
    or its subkeys: the chain partitions by document end to end, which
    is what makes it a per-shard no-coordination plan at 100 TB."""
    from pyspark.sql import Window

    from ..functions import embedder as E
    from ..operators import ann
    from .constants import LSH_PLANES
    from .registry_pipeline import quality_kept

    # shared memoized quality-keep stage (r14): one featurize pass per
    # session across the three manifest queries instead of one each
    kept = quality_kept(spark, sf_dir).select("doc_id", "text")
    # chunk in TOKEN space: the oracle's chunk_text is array_to_string
    # over the same token slices, and re-tokenizing a space-joined
    # [a-z0-9]+ token list returns the slice verbatim — so the engine
    # explodes the slices directly and skips the string rebuild + third
    # tokenize pass (the probe's heaviest per-doc row, ~2x at x100).
    # Persisted: the tokenized keep-set feeds both the term explode and
    # the analytic chunk count (one quality+tokenize pass total; at
    # scale this table is the materialized stage a pipeline writes).
    from ..functions.cache import tracked_persist

    kept_toks = tracked_persist(
        kept.selectExpr("doc_id", f"{P.tokens_spark_sql('text')} AS toks").filter(
            F.size("toks") >= 1
        )
    )
    st = kept_toks.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        # CASE-total despite the size>=1 filter upstream: explode()
        # lets InferFiltersFromGenerate push a derived predicate
        # containing this expression below the guard, where
        # sequence(0, -1, 30) throws on an empty doc (the trap
        # operators/dedup.py shingle_arrays documents)
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= 1 THEN"
                f" sequence(0, size(toks) - 1, {CHUNK_STRIDE})"
                f" ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("s"),
    ).filter(
        (F.col("s") == 0)
        | (F.col("n") - F.col("s") > CHUNK_TOKENS - CHUNK_STRIDE)
    )
    tok = st.select(
        "doc_id",
        F.explode(F.expr(f"slice(toks, s + 1, {CHUNK_TOKENS})")).alias("term"),
    )
    h = P.md5_long(F.col("term"))
    contrib = tok.select(
        "doc_id",
        E.hash_dim(h).alias("dim"),
        F.when(F.shiftright(h, 6) % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    sums = contrib.groupBy("doc_id", "dim").agg(
        F.sum("sign").cast("bigint").alias("s")
    )
    wn = Window.partitionBy("doc_id")
    comps = sums.select(
        "doc_id",
        "dim",
        "s",
        F.sqrt(F.sum(F.col("s") * F.col("s")).over(wn).cast("double")).alias(
            "nrm"
        ),
    ).select(
        "doc_id",
        "dim",
        "s",
        F.when(F.col("nrm") > 0, P.rounded(F.col("s") / F.col("nrm")))
        .otherwise(F.lit(0.0))
        .alias("comp"),
    )
    pw = ann.plane_weights(spark, n_planes=LSH_PLANES, dim=64)
    dots = (
        comps.join(F.broadcast(pw), pw["d"] == comps["dim"] + 1)
        .groupBy("doc_id", "plane")
        .agg(P.rounded(F.sum(F.col("comp") * F.col("w"))).alias("dot"))
    )
    buckets = dots.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr("shiftleft(1L, CAST(plane AS INT))"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("bucket")
    )
    # chunk count derived analytically from the token count: 1 initial
    # window + one per full stride that still contributes new tokens
    # (greatest(0, ...) because Spark's DIV truncates while DuckDB's //
    # floors — they differ below zero)
    nchunks = kept_toks.select(
        "doc_id",
        (
            F.lit(1)
            + F.greatest(
                F.lit(0),
                F.expr(
                    f"CAST((size(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)"
                    f" DIV {CHUNK_STRIDE} AS BIGINT)"
                ),
            )
        )
        .cast("bigint")
        .alias("n_chunks"),
    )
    # count non-zero dims WITHOUT a pre-filter: a doc whose every
    # dim-sum cancels to zero must keep its row (n_dims = 0) — the
    # oracle's count(*) FILTER (WHERE s <> 0) does, and a filtered
    # groupBy feeding the inner join below would drop the doc entirely
    ndims = sums.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") != 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dims")
    )
    return buckets.join(nchunks, "doc_id").join(ndims, "doc_id").select(
        "doc_id", "bucket", "n_chunks", "n_dims"
    )


# ---------------------------------------------------------------------------
# mixture sample: EXECUTE the temperature weights as a hash sample
# ---------------------------------------------------------------------------
# temperature_mixture computes the rates; this applies them — doc kept
# iff md5(doc_id, seed) mod 1e6 < round(rate * 1e6). The cut is an
# integer derived from the rounded rate, so the kept set is exact and
# identical in both engines, and re-running with a higher rate keeps a
# SUPERSET (the deterministic_sample composability property, per
# source).

MIX_SAMPLE_SEED = "mix-v1"
_MIX_CUT_SCALE = 1_000_000

_MIX_SAMPLE_SQL = f"""
WITH per_source AS (
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum({P.token_count_sql('text')})::BIGINT AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total_tokens FROM per_source),
shares AS (
    SELECT s.source, s.n_docs,
           {P.rounded_sql(
               'sqrt(' + P.rounded_sql('s.n_tokens::DOUBLE / t.total_tokens') + ')'
           )} AS temp_weight
    FROM per_source s CROSS JOIN tot t
),
mx AS (SELECT max(temp_weight) AS max_w FROM shares),
rates AS (
    SELECT source, n_docs,
           CAST(round({P.rounded_sql('temp_weight / m.max_w')}
                      * {_MIX_CUT_SCALE}) AS BIGINT) AS cut
    FROM shares CROSS JOIN mx m
),
tagged AS (
    SELECT d.doc_id, d.source, r.n_docs, r.cut,
           {P.md5_long_sql("CAST(doc_id AS VARCHAR)", MIX_SAMPLE_SEED)}
               % {_MIX_CUT_SCALE} AS bucket
    FROM documents d JOIN rates r USING (source)
)
SELECT source,
       CAST(max(n_docs) AS BIGINT) AS n_docs,
       sum(CASE WHEN bucket < cut THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
       {P.rounded_sql('max(cut)::DOUBLE / ' + str(_MIX_CUT_SCALE))} AS target_rate,
       {P.rounded_sql(
           'sum(CASE WHEN bucket < cut THEN 1 ELSE 0 END)::DOUBLE / max(n_docs)'
       )} AS achieved_rate
FROM tagged
GROUP BY source
"""


@declare("mixture_sample", _MIX_SAMPLE_SQL, survey_ids="pipeline-mix,pipeline-sample")
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture EXECUTED: each source's τ=0.5 sample rate
    becomes an integer hash cut (round(rate x 1e6)), each doc keeps or
    drops on md5(doc_id) mod 1e6 < cut — a reproducible, composable
    corpus-level sample whose per-source audit (target vs achieved
    rate) is this query's output. The rate table is 20 rows riding a
    broadcast; the corpus side is one scan + one map-side-combinable
    rollup — sampling 100 TB reads everything once and shuffles only
    pre-aggregated source rows."""
    docs = corpus.docs(spark, sf_dir)
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(f"CAST(sum(size({P.tokens_spark_sql('text')})) AS BIGINT) AS n_tokens"),
    )
    tot = per_source.groupBy().agg(F.sum("n_tokens").alias("total_tokens"))
    share = P.rounded(F.col("n_tokens").cast("double") / F.col("total_tokens"))
    shares = per_source.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", P.rounded(F.sqrt(share)).alias("temp_weight")
    )
    mx = shares.groupBy().agg(F.max("temp_weight").alias("max_w"))
    rates = shares.crossJoin(F.broadcast(mx)).select(
        "source",
        "n_docs",
        F.round(
            P.rounded(F.col("temp_weight") / F.col("max_w")) * _MIX_CUT_SCALE
        )
        .cast("bigint")
        .alias("cut"),
    )
    tagged = docs.select("doc_id", "source").join(
        F.broadcast(rates), "source"
    ).select(
        "source",
        "n_docs",
        "cut",
        (
            P.md5_long(F.col("doc_id").cast("string"), MIX_SAMPLE_SEED)
            % _MIX_CUT_SCALE
        ).alias("bucket"),
    )
    return tagged.groupBy("source").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.sum((F.col("bucket") < F.col("cut")).cast("int"))
        .cast("bigint")
        .alias("n_sampled"),
        P.rounded(
            F.max("cut").cast("double") / F.lit(_MIX_CUT_SCALE)
        ).alias("target_rate"),
        P.rounded(
            F.sum((F.col("bucket") < F.col("cut")).cast("int")).cast("double")
            / F.max("n_docs")
        ).alias("achieved_rate"),
    )


# ---------------------------------------------------------------------------
# BPE merge training: learn the tokenizer from the corpus
# ---------------------------------------------------------------------------
# Byte-pair encoding training IS the iterative algorithm: count
# adjacent symbol pairs across the weighted vocab, merge the most
# frequent pair everywhere, repeat. Both engines share one trick that
# keeps every step declarative: the symbol sequence lives as a
# dot-wrapped space-joined string ('.a. .b. .c.'), so "merge pair
# (A, B) greedily left-to-right" is EXACTLY one replace() call —
# replace scans left-to-right over non-overlapping matches, which is
# the greedy BPE merge order, and the dots prevent partial-symbol
# matches. The engine never collects state: each round's top pair is a
# one-row broadcast; the oracle unrolls the same rounds as chained
# CTEs with scalar subqueries.

BPE_MERGES = 5


def _bpe_stage_ctes() -> str:
    stages = [
        f"""
words AS (
    SELECT w, count(*)::BIGINT AS cnt
    FROM (SELECT unnest({P.tokens_sql('text')}) AS w FROM documents)
    GROUP BY w
),
st0 AS (
    SELECT w, cnt,
           array_to_string(list_transform(
               range(1, len(w) + 1), i -> '.' || substr(w, i, 1) || '.'), ' ')
               AS s
    FROM words
)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        stages.append(f"""
p{k} AS (
    SELECT a, b, sum(cnt)::BIGINT AS freq FROM (
        SELECT cnt, syms[i] AS a, syms[i + 1] AS b FROM (
            SELECT cnt, syms, unnest(range(1, len(syms))) AS i
            FROM (SELECT cnt, string_split(s, ' ') AS syms FROM st{k - 1})
        )
    ) GROUP BY a, b
),
t{k} AS (SELECT a, b, freq FROM p{k} ORDER BY freq DESC, a ASC, b ASC LIMIT 1),
st{k} AS (
    SELECT w, cnt,
           replace(s, (SELECT a || ' ' || b FROM t{k}),
                   (SELECT substr(a, 1, len(a) - 1) || substr(b, 2) FROM t{k}))
               AS s
    FROM st{k - 1}
)""")
    return ",".join(stages)


def _bpe_sql() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS rank, a, b, freq FROM t{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"""
WITH {_bpe_stage_ctes()}
SELECT CAST(rank AS BIGINT) AS rank,
       replace(a, '.', '') AS left_sym,
       replace(b, '.', '') AS right_sym,
       replace(a, '.', '') || replace(b, '.', '') AS merged,
       freq
FROM ({union})
"""


# (session, sf_dir) -> (merges, state): training is deterministic, so
# q_bpe_train_merges and q_bpe_encode_stats running in one session share
# one build instead of each re-running every merge round (and each
# tracked_persist-ing ~2*BPE_MERGES+2 intermediates). Weak session keys:
# a stopped session's entries die with it, and release_all() only drops
# the JVM cache blocks — the memoized plans recompute, still correctly.
_BPE_MEMO: "weakref.WeakKeyDictionary" = None  # initialized below


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the merge rounds; returns (merges DF, final state DF). The
    final state maps each distinct word to its fully-merged symbol
    string — the ENCODED vocab under the learned tokenizer."""
    global _BPE_MEMO
    if _BPE_MEMO is None:
        import weakref

        _BPE_MEMO = weakref.WeakKeyDictionary()
    per_session = _BPE_MEMO.setdefault(spark, {})
    if sf_dir in per_session:
        return per_session[sf_dir]
    per_session[sf_dir] = out = _bpe_train_uncached(spark, sf_dir)
    return out


def _bpe_train_uncached(spark: SparkSession, sf_dir: str):
    from ..functions.cache import tracked_persist

    docs = corpus.docs(spark, sf_dir)
    words = (
        docs.selectExpr(f"explode({P.tokens_spark_sql('text')}) AS w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    state = tracked_persist(
        words.select(
            "w",
            "cnt",
            F.expr(
                "array_join(transform(sequence(1, length(w)),"
                " i -> concat('.', substring(w, i, 1), '.')), ' ')"
            ).alias("s"),
        )
    )
    merges = None
    for k in range(1, BPE_MERGES + 1):
        # guard: a fully-merged (or 1-char) word has ONE symbol, and
        # Spark's sequence(1, 0) counts DOWN instead of being empty;
        # the CASE keeps the expression total even when explode()'s
        # inferred non-empty predicate is pushed below the filter
        # (operators/dedup.shingle_arrays documents the trap)
        pairs = state.filter(F.expr("size(split(s, ' ')) >= 2")).select(
            "cnt",
            F.explode(
                F.expr(
                    "CASE WHEN size(split(s, ' ')) >= 2 THEN"
                    " transform(sequence(1, size(split(s, ' ')) - 1),"
                    " i -> struct(element_at(split(s, ' '), i) AS a,"
                    "             element_at(split(s, ' '), i + 1) AS b))"
                    " ELSE array() END"
                )
            ).alias("p"),
        )
        top = tracked_persist(
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").cast("bigint").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select(F.lit(k).cast("bigint").alias("rank"), "a", "b", "freq")
        )
        merges = top if merges is None else merges.unionByName(top)
        # the state update must survive an EMPTY top (a corpus whose
        # words are all single symbols has no adjacent pairs): a bare
        # crossJoin with an empty 1-row table annihilates the whole
        # vocabulary, where the oracle's scalar-subquery replace keeps
        # every row — union a no-op pair ('\\x00' cannot occur in the
        # '.x.'-encoded symbols) and keep the real top when present
        noop = spark.range(1).selectExpr(
            "1 AS __prio", "'\\u0000' AS a", "'\\u0000' AS b"
        )
        pick = (
            top.selectExpr("0 AS __prio", "a", "b")
            .unionByName(noop)
            .orderBy(F.asc("__prio"))
            .limit(1)
            .select("a", "b")
        )
        state = tracked_persist(
            state.crossJoin(F.broadcast(pick))
            .select(
                "w",
                "cnt",
                F.expr(
                    "replace(s, concat(a, ' ', b),"
                    " concat(substring(a, 1, length(a) - 1), substring(b, 2)))"
                ).alias("s"),
            )
        )
    return merges, state


@declare("bpe_train_merges", _bpe_sql(), survey_ids="pipeline-vocab,text-tokens")
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on the corpus: the first {BPE_MERGES}
    merge rules, each the globally most frequent adjacent symbol pair
    (ties broken lexically) over the count-weighted vocabulary, merged
    greedily everywhere before the next round. Scale shape: training
    operates on the DISTINCT-WORD table with counts — one corpus pass
    builds it, and every round after that touches only the vocab
    (millions of rows at 100 TB, not billions): a pair count keyed on
    the pair, a one-row top-1 broadcast, and a map-only replace. No
    driver-side state; the whole computation is {BPE_MERGES} chained
    declarative rounds in both engines."""
    merges, _ = _bpe_train(spark, sf_dir)
    return merges.select(
        "rank",
        F.expr("replace(a, '.', '')").alias("left_sym"),
        F.expr("replace(b, '.', '')").alias("right_sym"),
        F.expr("concat(replace(a, '.', ''), replace(b, '.', ''))").alias(
            "merged"
        ),
        "freq",
    )


def _bpe_encode_sql() -> str:
    return f"""
WITH {_bpe_stage_ctes()},
tokd AS (
    SELECT doc_id, unnest({P.tokens_sql('text')}) AS w FROM documents
),
enc AS (
    SELECT t.doc_id, len(t.w)::BIGINT AS n_chars_w,
           len(string_split(f.s, ' '))::BIGINT AS n_syms_w
    FROM tokd t JOIN st{BPE_MERGES} f ON f.w = t.w
)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       sum(n_chars_w)::BIGINT AS n_chars,
       sum(n_syms_w)::BIGINT AS n_symbols,
       {P.rounded_sql('sum(n_chars_w)::DOUBLE / sum(n_syms_w)')} AS compression
FROM enc
GROUP BY doc_id
"""


@declare("bpe_encode_stats", _bpe_encode_sql(), survey_ids="pipeline-vocab,text-tokens")
def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the learned tokenizer: the training rounds' final
    state maps every distinct word to its merged symbol sequence, so
    encoding the corpus is one broadcast-able join from the exploded
    token stream to that vocab table — per doc: token, character, and
    post-merge symbol counts plus the chars-per-symbol compression
    ratio the merges bought. The corpus-side cost is the same one
    tokenize+explode pass any counting query pays; all sums are exact
    BIGINT."""
    _, state = _bpe_train(spark, sf_dir)
    docs = corpus.docs(spark, sf_dir)
    tokd = docs.selectExpr("doc_id", f"explode({P.tokens_spark_sql('text')}) AS w")
    enc = tokd.join(F.broadcast(state.select("w", "s")), "w").select(
        "doc_id",
        F.length("w").cast("bigint").alias("n_chars_w"),
        F.expr("CAST(size(split(s, ' ')) AS BIGINT)").alias("n_syms_w"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("n_chars_w").cast("bigint").alias("n_chars"),
        F.sum("n_syms_w").cast("bigint").alias("n_symbols"),
        P.rounded(
            F.sum("n_chars_w").cast("double") / F.sum("n_syms_w")
        ).alias("compression"),
    )
