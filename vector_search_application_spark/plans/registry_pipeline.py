"""Registry entries for training-data curation operators beyond the
reference's surface: deterministic dataset splitting, stratified
sampling, sequence packing, PII scrubbing, and vocabulary statistics.

These are the steps between a deduplicated corpus and a training run.
Every one is a declarative plan (no Python workers) with a DuckDB
oracle; determinism comes from the portable md5 hash
(functions/portable.md5_long), never from rand().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import portable as P
from . import corpus
from .registry_core import declare

# hash-space split: 100 buckets, 80/10/10 — changing ratios moves docs
# between ADJACENT splits only (bucket membership is stable), which is
# what makes hash splits re-runnable as the corpus grows
SPLIT_BUCKETS = 100
TRAIN_CUT = 80
VAL_CUT = 90
SPLIT_SEED = "split-v1"

_BUCKET = f"{P.md5_long_sql('CAST(doc_id AS VARCHAR)', SPLIT_SEED)} % {SPLIT_BUCKETS}"

_SPLIT_SQL = f"""
SELECT doc_id,
       CAST({_BUCKET} AS BIGINT) AS bucket,
       CASE WHEN {_BUCKET} < {TRAIN_CUT} THEN 'train'
            WHEN {_BUCKET} < {VAL_CUT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def _bucket_col() -> F.Column:
    return P.md5_long(
        F.col("doc_id").cast("string"), SPLIT_SEED
    ) % SPLIT_BUCKETS


@declare("dataset_split", _SPLIT_SQL, survey_ids="pipeline-split")
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket — the
    split is a PROPERTY of the document id, not of a run: re-ingesting,
    repartitioning, or growing the corpus never moves an existing doc
    across splits (no rand(), no global sort). Map-only plan; at 100 TB
    this column is computed in the scan and usually written as a
    partition column so each split trains from its own directories."""
    b = _bucket_col()
    return corpus.docs(spark, sf_dir).select(
        "doc_id",
        b.cast("bigint").alias("bucket"),
        F.when(b < TRAIN_CUT, "train")
        .when(b < VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
    )


_SPLIT_BALANCE_SQL = f"""
WITH assigned AS ({_SPLIT_SQL})
SELECT d.lang, a.split, count(*)::BIGINT AS n_docs
FROM documents d JOIN assigned a USING (doc_id)
GROUP BY d.lang, a.split
"""


@declare(
    "dataset_split_balance", _SPLIT_BALANCE_SQL, survey_ids="pipeline-split"
)
def q_dataset_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit of the hash split: doc counts per
    (lang, split) — the check a pipeline runs before trusting a split.
    One map-side-combinable aggregation over the map-only assignment;
    no join is needed engine-side because the split derives in-row."""
    docs = corpus.docs(spark, sf_dir)
    b = _bucket_col()
    assigned = docs.select(
        "lang",
        F.when(b < TRAIN_CUT, "train")
        .when(b < VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


SAMPLE_PCT = 20
SAMPLE_SEED = "sample-v1"

_SAMPLE_BUCKET = f"{P.md5_long_sql('CAST(doc_id AS VARCHAR)', SAMPLE_SEED)} % 100"

_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_SAMPLE_BUCKET} < {SAMPLE_PCT}
"""


@declare("deterministic_sample", _SAMPLE_SQL, survey_ids="pipeline-sample")
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~{SAMPLE_PCT}% corpus sample by hash threshold —
    reproducible across runs and machines (unlike df.sample, whose
    output depends on partitioning), and composable: a 10% sample is a
    strict subset of the 20% sample under the same seed. The predicate
    is a pure row expression, so it evaluates in the scan — sampling
    100 TB reads everything once but shuffles nothing."""
    docs = corpus.docs(spark, sf_dir)
    bucket = P.md5_long(F.col("doc_id").cast("string"), SAMPLE_SEED) % 100
    return docs.filter(bucket < SAMPLE_PCT).select("doc_id", "lang", "n_chars")


PACK_BUDGET = 2048  # tokens per packed sequence
PACK_SHARDS = 16    # independent packing streams (one window partition each)
PACK_SEED = "pack-shard-v1"

_PACK_SHARD = f"{P.md5_long_sql('CAST(doc_id AS VARCHAR)', PACK_SEED)} % {PACK_SHARDS}"

_PACK_SQL = f"""
WITH toks AS (
    SELECT doc_id,
           CAST({_PACK_SHARD} AS BIGINT) AS pack_shard,
           {P.token_count_sql('text')}::BIGINT AS n_tokens
    FROM documents
),
runs AS (
    SELECT doc_id, pack_shard, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY pack_shard
               ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS cum_before
    FROM toks
)
SELECT doc_id, n_tokens, pack_shard,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM runs
"""


@declare("sequence_pack", _PACK_SQL, survey_ids="pipeline-pack")
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing for LLM training: within each of
    {PACK_SHARDS} deterministic hash shards, docs in stable id order
    are laid end-to-end into {PACK_BUDGET}-token sequences; each doc
    gets (pack_shard, pack_id, pack_offset) from an exclusive running
    token sum, with (pack_shard, pack_id) the globally unique sequence
    key. Packing never needs cross-shard order — only a stable order
    within each shard — so the running-sum window partitions by shard:
    {PACK_SHARDS}-way reducer parallelism here, and at 100 TB you raise
    PACK_SHARDS to the cluster width and the per-reducer input stays
    bounded (corpus/PACK_SHARDS rows of two longs). The earlier global
    form (ORDER BY with no partition) funneled the whole corpus through
    one reducer — the exact plan Spark's WindowExec warns about."""
    docs = corpus.docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        (P.md5_long(F.col("doc_id").cast("string"), PACK_SEED) % PACK_SHARDS)
        .cast("bigint")
        .alias("pack_shard"),
        F.expr(f"CAST(size({P.tokens_spark_sql('text')}) AS BIGINT) AS n_tokens"),
    )
    w = (
        Window.partitionBy("pack_shard")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = toks.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return runs.select(
        "doc_id",
        "n_tokens",
        "pack_shard",
        (F.col("cum_before") / PACK_BUDGET).cast("bigint").alias("pack_id"),
        (F.col("cum_before") % PACK_BUDGET).cast("bigint").alias("pack_offset"),
    )


# every 10th doc gets a synthetic contact line appended BEFORE scrubbing,
# so the detector has true positives to find and the oracle verifies the
# redaction actually fired (the synthetic corpus contains no real PII)
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

_PII_SQL = f"""
WITH seeded AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0
                THEN text || ' contact user' || doc_id || '@example.com now'
                ELSE text END AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER)
           AS n_emails,
       regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed
FROM seeded
"""


@declare("text_pii_scrub", _PII_SQL, survey_ids="pipeline-pii")
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing as a map-only projection: count and redact email
    addresses in one pass (the pattern set extends to phones/IPs/SSNs as
    more regexp_replace stages — still one projection, still zero
    shuffles at any corpus size). The regex sticks to syntax shared by
    Java regex and RE2 so engine and oracle agree character-for-
    character."""
    docs = corpus.docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # both regexes gate on a contains('@') prefilter — an email requires
    # one, so the gate is value-identical (the oracle stays ungated) and
    # rows that can never match skip the backtracking scan entirely
    # (measured on source_data_card's shared email regex: ~3x at x100)
    at = F.contains(F.col("text"), F.lit("@"))
    return seeded.select(
        "doc_id",
        F.when(at, F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)))
        .otherwise(F.lit(0))
        .cast("integer")
        .alias("n_emails"),
        F.when(
            at, F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>")
        )
        .otherwise(F.col("text"))
        .alias("scrubbed"),
    )


VOCAB_TOP_N = 50

_VOCAB_SQL = f"""
WITH per_doc AS (
    SELECT doc_id, unnest(list_distinct({P.tokens_sql('text')})) AS term
    FROM documents
),
df AS (
    SELECT term, count(*)::BIGINT AS doc_freq FROM per_doc GROUP BY term
)
SELECT term, doc_freq FROM df
ORDER BY doc_freq DESC, term ASC
LIMIT {VOCAB_TOP_N}
"""


@declare("vocab_topn", _VOCAB_SQL, survey_ids="pipeline-vocab")
def q_vocab_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-{VOCAB_TOP_N} terms by document
    frequency — the statistic behind stopword lists, BPE merge seeds,
    and quality filters. Distinct-tokens explode, then ONE
    map-side-combinable count per term, then TakeOrderedAndProject:
    the only shuffle is keyed on the term, and partial aggregation
    collapses each partition's repeats before it."""
    docs = corpus.docs(spark, sf_dir)
    per_doc = docs.selectExpr(
        f"explode(array_distinct({P.tokens_spark_sql('text')})) AS term"
    )
    dfreq = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_freq")
    )
    return dfreq.orderBy(F.desc("doc_freq"), F.asc("term")).limit(VOCAB_TOP_N)


# ---------------------------------------------------------------------------
# benchmark decontamination: n-gram collisions between train and eval
# ---------------------------------------------------------------------------

DECON_N = 5        # n-gram size (13 in prod pipelines; 5 fits fixture docs)
DECON_MIN_OVERLAP = 3  # shared shingles before an eval doc counts as hit
# shingles appearing in more docs than this are boilerplate, not
# contamination evidence — dropping them bounds the collision join's
# fan-out at cap^2 rows per shingle (without it, one hot shingle in t
# train and e test docs makes t*e pairs — the term that explodes at
# 1000x corpus scale). Far above the fixture's max df (3 at sf0.01),
# so gate-SF results are unchanged.
DECON_DF_CAP = 100

_DECON_SQL = f"""
WITH assigned AS ({_SPLIT_SQL}),
toks AS (
    SELECT d.doc_id, a.split, {P.tokens_sql('d.text')} AS toks
    FROM documents d JOIN assigned a USING (doc_id)
),
shing_all AS (
    SELECT DISTINCT doc_id, split, sh FROM (
        SELECT doc_id, split,
               unnest(list_transform(
                   range(1, len(toks) - {DECON_N - 2}),
                   i -> array_to_string(list_slice(toks, i, i + {DECON_N - 1}), '_')
               )) AS sh
        FROM toks WHERE len(toks) >= {DECON_N}
    )
),
shing AS (
    SELECT s.* FROM shing_all s
    JOIN (SELECT sh FROM shing_all GROUP BY sh
          HAVING count(*) <= {DECON_DF_CAP}) r USING (sh)
),
hits AS (
    SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
           count(*)::BIGINT AS n_shared
    FROM shing e JOIN shing t USING (sh)
    WHERE e.split = 'test' AND t.split = 'train'
    GROUP BY e.doc_id, t.doc_id
)
SELECT eval_id,
       count(*)::BIGINT AS n_train_docs,
       CAST(max(n_shared) AS BIGINT) AS max_shared,
       CAST(sum(n_shared) AS BIGINT) AS total_shared
FROM hits
WHERE n_shared >= {DECON_MIN_OVERLAP}
GROUP BY eval_id
"""


@declare(
    "benchmark_decontaminate", _DECON_SQL, survey_ids="pipeline-decontaminate"
)
def q_benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which eval(test-split) docs share
    >= {DECON_MIN_OVERLAP} distinct {DECON_N}-gram shingles with any
    train-split doc — the check a training pipeline runs before
    trusting held-out numbers. The collision join is BLOCKED on the
    shingle (an equi-join, never eval x train pairs) and boilerplate
    shingles (df > {DECON_DF_CAP}) are dropped first, bounding per-
    shingle join fan-out at cap^2; both aggregations are map-side-
    combinable. At 100 TB the eval side is tiny, so the join broadcasts
    it and the train corpus never shuffles."""
    from ..operators.dedup import hashed_shingles

    docs = corpus.docs(spark, sf_dir)
    b = _bucket_col()
    assigned = docs.select(
        "doc_id",
        "text",
        F.when(b < TRAIN_CUT, "train")
        .when(b < VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
    )
    from ..functions.cache import tracked_persist

    # persist: the shingle lineage feeds the df count AND both join
    # sides — see training_manifest_full's identical note
    sh = tracked_persist(
        hashed_shingles(assigned, "doc_id", "text", n=DECON_N).join(
            assigned.select(F.col("doc_id").alias("id"), "split"), "id"
        )
    )
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= DECON_DF_CAP)
        .select("sh")
    )
    sh = sh.join(rare, "sh")
    ev = sh.filter(F.col("split") == "test").select(
        F.col("id").alias("eval_id"), "sh"
    )
    tr = sh.filter(F.col("split") == "train").select(
        F.col("id").alias("train_id"), "sh"
    )
    hits = (
        ev.join(tr, "sh")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        hits.filter(F.col("n_shared") >= DECON_MIN_OVERLAP)
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.max("n_shared").cast("bigint").alias("max_shared"),
            F.sum("n_shared").cast("bigint").alias("total_shared"),
        )
    )


# ---------------------------------------------------------------------------
# quality-filter funnel: ordered drop rules with per-stage attrition
# ---------------------------------------------------------------------------

MIN_TOKENS = 10
MIN_STOPWORD = 0.02   # below this the lang-ID heuristic says non-English
MIN_QUALITY = 0.5

_VERDICT_CASE_SQL = f"""
CASE WHEN {P.token_count_sql('text')} < {MIN_TOKENS} THEN 'drop_too_short'
     WHEN {{sw}} < {MIN_STOPWORD} THEN 'drop_non_english'
     WHEN {{q}} < {MIN_QUALITY} THEN 'drop_low_quality'
     ELSE 'keep' END
"""


def _funnel_sql() -> str:
    from ..functions import text as T

    case = _VERDICT_CASE_SQL.format(
        sw=T.stopword_ratio_sql("text"), q=T.quality_score_sql("text")
    )
    return f"""
SELECT verdict, count(*)::BIGINT AS n_docs
FROM (SELECT {case} AS verdict FROM documents)
GROUP BY verdict
"""


@declare(
    "quality_filter_funnel", _funnel_sql(), survey_ids="pipeline-funnel"
)
def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel: ordered drop rules (too short -> non-English
    -> low quality -> keep), first failing rule wins, reported as
    per-stage attrition counts — the dashboard number every corpus
    pipeline watches. The features come from the single-pass
    quality_features_expr struct (the tokenizer runs once per row, not
    once per rule); then one map-side-combinable count. Nothing about
    this plan changes at 100 TB."""
    from ..functions import text as T

    docs = corpus.docs(spark, sf_dir)
    feat = docs.select(
        F.explode(T.quality_features_expr("text")).alias("qf")
    )
    verdict = (
        F.when(F.col("qf.n_tokens") < MIN_TOKENS, "drop_too_short")
        .when(F.col("qf.stopword_ratio") < MIN_STOPWORD, "drop_non_english")
        .when(F.col("qf.quality") < MIN_QUALITY, "drop_low_quality")
        .otherwise("keep")
    )
    return (
        feat.select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# domain mixture weights: per-source sampling weights to a target share
# ---------------------------------------------------------------------------

_MIX_SQL = f"""
WITH per_source AS (
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum({P.token_count_sql('text')})::BIGINT AS n_tokens
    FROM documents
    GROUP BY source
),
tot AS (
    SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources
    FROM per_source
)
SELECT s.source, s.n_docs, s.n_tokens,
       {P.rounded_sql('s.n_tokens::DOUBLE / t.total_tokens')} AS token_share,
       {P.rounded_sql('(t.total_tokens::DOUBLE / t.n_sources) / s.n_tokens')}
           AS uniform_weight
FROM per_source s CROSS JOIN tot t
"""


@declare("domain_mix_weights", _MIX_SQL, survey_ids="pipeline-mix")
def q_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture accounting: per-source token shares and the
    sampling weight that would equalize them (weight > 1 -> upsample,
    < 1 -> downsample) — the numbers behind training-mixture tuning.
    One map-side-combinable rollup keyed on source; the totals side is
    a one-row aggregate broadcast back over the (tiny) per-source
    table, so corpus rows shuffle once and only pre-aggregated rows
    ever cross the broadcast join."""
    docs = corpus.docs(spark, sf_dir)
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(f"CAST(sum(size({P.tokens_spark_sql('text')})) AS BIGINT) AS n_tokens"),
    )
    tot = per_source.groupBy().agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        P.rounded(
            F.col("n_tokens").cast("double") / F.col("total_tokens")
        ).alias("token_share"),
        P.rounded(
            (F.col("total_tokens").cast("double") / F.col("n_sources"))
            / F.col("n_tokens")
        ).alias("uniform_weight"),
    )


# ---------------------------------------------------------------------------
# per-source length quantiles: exact rank-pick percentiles
# ---------------------------------------------------------------------------

_QUANTILES_SQL = """
WITH ranked AS (
    SELECT source, n_chars, doc_id,
           row_number() OVER (
               PARTITION BY source ORDER BY n_chars ASC, doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY source) AS n
    FROM documents
)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(max(CASE WHEN rn = (n * 10 + 99) // 100 THEN n_chars END)
            AS BIGINT) AS p10_chars,
       CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END)
            AS BIGINT) AS p50_chars,
       CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END)
            AS BIGINT) AS p90_chars
FROM ranked
GROUP BY source
""".strip()


@declare(
    "source_length_quantiles", _QUANTILES_SQL, survey_ids="pipeline-stats,§2.11"
)
def q_source_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p10/p50/p90 document lengths by exact rank-pick
    (rank = ceil(p*n/100) via integer arithmetic, ties on doc_id) —
    the length-distribution audit behind per-domain truncation and
    filter thresholds. Percentile BUILT-INS interpolate differently
    across engines; rank-pick is the same integer in both. One shuffle
    on source; both windows and the final rollup share it."""
    docs = corpus.docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    wn = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: int):
        return F.max(
            F.when(
                F.col("rn") == F.expr(f"CAST((n * {p} + 99) DIV 100 AS BIGINT)"),
                F.col("n_chars"),
            )
        ).cast("bigint")

    return ranked.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        pick(10).alias("p10_chars"),
        pick(50).alias("p50_chars"),
        pick(90).alias("p90_chars"),
    )


# ---------------------------------------------------------------------------
# the capstone composition: corpus -> training manifest in ONE plan
# ---------------------------------------------------------------------------


def _manifest_sql() -> str:
    from ..functions import text as T

    return f"""
WITH feat AS (
    SELECT doc_id, text,
           {P.token_count_sql('text')}::BIGINT AS n_tokens,
           {T.stopword_ratio_sql('text')} AS sw,
           {T.quality_score_sql('text')} AS q
    FROM documents
),
kept AS (
    SELECT doc_id, text, n_tokens FROM feat
    WHERE n_tokens >= {MIN_TOKENS} AND sw >= {MIN_STOPWORD}
          AND q >= {MIN_QUALITY}
),
canon AS (
    SELECT doc_id, n_tokens,
           min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id
    FROM kept
),
uniq AS (SELECT doc_id, n_tokens FROM canon WHERE doc_id = canonical_id),
assigned AS (
    SELECT doc_id, n_tokens,
           CASE WHEN {_BUCKET} < {TRAIN_CUT} THEN 'train'
                WHEN {_BUCKET} < {VAL_CUT} THEN 'val'
                ELSE 'test' END AS split
    FROM uniq
),
runs AS (
    SELECT doc_id, split, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY split ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS cum_before
    FROM assigned
)
SELECT doc_id, split, n_tokens,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM runs
"""


def quality_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text, n_tokens): the quality-keep stage — the funnel
    rules applied over one featurize pass — shared by training_manifest,
    training_manifest_full and retrieval_manifest. Memoized + persisted
    per docs plan (r14, guide §2.6 shared curation subtrees): the three
    manifest queries each re-ran the tokenize+featurize scan per
    execution; in a real pipeline this IS the materialized stage every
    downstream consumer reads. release_all() clears (driver gate still
    computes it per query)."""
    from ..functions import text as T
    from ..functions.cache import plan_memo, tracked_persist

    docs = corpus.docs(spark, sf_dir)

    def build() -> DataFrame:
        feat = docs.select(
            "doc_id",
            "text",
            F.explode(T.quality_features_expr("text")).alias("qf"),
        )
        return tracked_persist(
            feat.filter(
                (F.col("qf.n_tokens") >= MIN_TOKENS)
                & (F.col("qf.stopword_ratio") >= MIN_STOPWORD)
                & (F.col("qf.quality") >= MIN_QUALITY)
            ).select(
                "doc_id",
                "text",
                F.col("qf.n_tokens").cast("bigint").alias("n_tokens"),
            )
        )

    return plan_memo(
        docs,
        ("quality_kept", MIN_TOKENS, MIN_STOPWORD, MIN_QUALITY),
        build,
    )


@declare("training_manifest", _manifest_sql(), survey_ids="pipeline-manifest")
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declared plan: quality-filter
    (funnel keep rules) -> exact-dedup canonical -> hash split ->
    per-split sequence packing. This is the composition test the
    individual stages cannot give: filters and projections collapse
    into the scan, and the full chain costs exactly TWO shuffles — one
    keyed on the content hash (dedup window), one on the split (pack
    window). A real pipeline writes this manifest partitioned by
    (split, pack_id DIV shard_size); the per-split pack window is the
    per-shard plan documented on sequence_pack."""
    from pyspark.sql import Window

    kept = quality_kept(spark, sf_dir)
    wh = Window.partitionBy(F.sha2(F.col("text"), 256))
    uniq = (
        kept.withColumn("canonical_id", F.min("doc_id").over(wh))
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "n_tokens")
    )
    b = _bucket_col()
    assigned = uniq.select(
        "doc_id",
        "n_tokens",
        F.when(b < TRAIN_CUT, "train")
        .when(b < VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
    )
    wp = (
        Window.partitionBy("split")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = assigned.withColumn(
        "cum_before", F.sum("n_tokens").over(wp) - F.col("n_tokens")
    )
    return runs.select(
        "doc_id",
        "split",
        "n_tokens",
        (F.col("cum_before") / PACK_BUDGET).cast("bigint").alias("pack_id"),
        (F.col("cum_before") % PACK_BUDGET).cast("bigint").alias("pack_offset"),
    )


# ---------------------------------------------------------------------------
# the capstone, completed: curation INCLUDING decontamination, one plan
# ---------------------------------------------------------------------------
# training_manifest (above) chains quality -> dedup -> split -> pack;
# production pipelines run one more stage before packing: drop TRAIN
# docs that collide with the held-out test split (the removal side of
# benchmark_decontaminate's report). Same shingle blocking, composed
# into the same single declared plan.


def _manifest_full_sql() -> str:
    from ..functions import text as T

    return f"""
WITH feat AS (
    SELECT doc_id, text,
           {P.token_count_sql('text')}::BIGINT AS n_tokens,
           {T.stopword_ratio_sql('text')} AS sw,
           {T.quality_score_sql('text')} AS q
    FROM documents
),
kept AS (
    SELECT doc_id, text, n_tokens FROM feat
    WHERE n_tokens >= {MIN_TOKENS} AND sw >= {MIN_STOPWORD}
          AND q >= {MIN_QUALITY}
),
canon AS (
    SELECT doc_id, text, n_tokens,
           min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id
    FROM kept
),
uniq AS (
    SELECT doc_id, text, n_tokens FROM canon WHERE doc_id = canonical_id
),
assigned AS (
    SELECT doc_id, text, n_tokens,
           CASE WHEN {_BUCKET} < {TRAIN_CUT} THEN 'train'
                WHEN {_BUCKET} < {VAL_CUT} THEN 'val'
                ELSE 'test' END AS split
    FROM uniq
),
mshing_all AS (
    SELECT DISTINCT doc_id, split, sh FROM (
        SELECT doc_id, split,
               unnest(list_transform(
                   range(1, len(toks) - {DECON_N - 2}),
                   i -> array_to_string(list_slice(toks, i, i + {DECON_N - 1}), '_')
               )) AS sh
        FROM (SELECT doc_id, split, {P.tokens_sql('text')} AS toks FROM assigned)
        WHERE len(toks) >= {DECON_N}
    )
),
mshing AS (
    SELECT s.* FROM mshing_all s
    JOIN (SELECT sh FROM mshing_all GROUP BY sh
          HAVING count(*) <= {DECON_DF_CAP}) r USING (sh)
),
mhits AS (
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           count(*)::BIGINT AS n_shared
    FROM mshing t JOIN mshing e USING (sh)
    WHERE t.split = 'train' AND e.split = 'test'
    GROUP BY t.doc_id, e.doc_id
),
contaminated AS (
    SELECT DISTINCT train_id AS doc_id FROM mhits
    WHERE n_shared >= {DECON_MIN_OVERLAP}
),
clean AS (
    SELECT a.doc_id, a.split, a.n_tokens
    FROM assigned a LEFT JOIN contaminated c USING (doc_id)
    WHERE c.doc_id IS NULL
),
mruns AS (
    SELECT doc_id, split, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY split ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS cum_before
    FROM clean
)
SELECT doc_id, split, n_tokens,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM mruns
"""


@declare(
    "training_manifest_full",
    _manifest_full_sql(),
    survey_ids="pipeline-manifest,pipeline-decontaminate",
)
def q_training_manifest_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete curation chain in ONE plan: quality-keep ->
    exact-dedup canonical -> hash split -> DROP train docs sharing >=
    {DECON_MIN_OVERLAP} distinct {DECON_N}-gram shingles with any
    test-split doc (the removal half of benchmark_decontaminate) ->
    per-split sequence packing. The decontamination join is blocked on
    the shingle like the report query, and the test side is tiny at
    scale, so the added stage costs one broadcast-able equi-join over
    the shingle table plus the anti-join back — the chain stays keyed
    on doc_id/split end to end."""
    from pyspark.sql import Window

    from ..operators.dedup import hashed_shingles

    kept = quality_kept(spark, sf_dir)
    wh = Window.partitionBy(F.sha2(F.col("text"), 256))
    uniq = (
        kept.withColumn("canonical_id", F.min("doc_id").over(wh))
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "text", "n_tokens")
    )
    from ..functions.cache import tracked_persist

    b = _bucket_col()
    # persist: the quality+dedup+split lineage feeds the shingle sides,
    # the contamination anti-join, and the pack input — without it the
    # sha-window dedup runs four times (measured 7.0s -> ~2s at sf0.1)
    assigned = tracked_persist(
        uniq.select(
            "doc_id",
            "text",
            "n_tokens",
            F.when(b < TRAIN_CUT, "train")
            .when(b < VAL_CUT, "val")
            .otherwise("test")
            .alias("split"),
        )
    )
    # persist: the shingle construction (tokenize + per-row ngram
    # transform) is the expensive lineage here, and it feeds the df
    # count, the train side, and the test side — without the persist
    # the cap's semi-join re-runs it per consumer (measured 2x at the
    # 100x probe)
    sh = tracked_persist(
        hashed_shingles(assigned, "doc_id", "text", n=DECON_N).join(
            assigned.select(F.col("doc_id").alias("id"), "split"), "id"
        )
    )
    # boilerplate-shingle cap: bounds the train x test collision join's
    # per-shingle fan-out at cap^2 (see benchmark_decontaminate)
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= DECON_DF_CAP)
        .select("sh")
    )
    sh = sh.join(rare, "sh")
    tr = sh.filter(F.col("split") == "train").select(
        F.col("id").alias("train_id"), "sh"
    )
    ev = sh.filter(F.col("split") == "test").select(
        F.col("id").alias("eval_id"), "sh"
    )
    contaminated = (
        tr.join(ev, "sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_OVERLAP)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    clean = assigned.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "split", "n_tokens"
    )
    wp = (
        Window.partitionBy("split")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = clean.withColumn(
        "cum_before", F.sum("n_tokens").over(wp) - F.col("n_tokens")
    )
    return runs.select(
        "doc_id",
        "split",
        "n_tokens",
        (F.col("cum_before") / PACK_BUDGET).cast("bigint").alias("pack_id"),
        (F.col("cum_before") % PACK_BUDGET).cast("bigint").alias("pack_offset"),
    )
