"""BM25 sparse scoring in pure Spark SQL aggregations (SURVEY.md §2.3
E2/E4, §2.6 V2).

The reference delegates sparse scoring to Qdrant's in-memory sparse
index fed by the fastembed "Qdrant/bm25" model (reference
scripts/indexing.py:350-356, 865-899). Here the whole thing is
declarative and deterministic:

  postings(id, term, tf, doc_len)   <- tokenize + groupBy (one shuffle,
                                       partitioned by (id, term))
  stats(n_docs, avgdl)              <- corpus aggregate (two scalars,
                                       collected once per index)
  df(term, df)                      <- posting aggregate by term
  score = sum over matched query terms of
            idf(term) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  idf   = ln(1 + (N - df + 0.5)/(df + 0.5))

with k1=1.2, b=0.75 (Qdrant/bm25 defaults). Query terms are the
distinct tokens of the query string (query-side weight = idf, document
side = tf saturation — the same factorization the reference's sparse
dot-product computes).

Scale shape: the postings table is the scale unit — partition/bucket it
by term so a query's term-probe touches only matching partitions; the
query terms are tokenized on the driver and enter the plan as literals
(``term IN (...)``), so scoring is a filter + partial agg over
~len(query) posting slices, never a corpus shuffle.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P
from ..functions.cache import carry_forward, plan_memo, tracked_persist
from ..plans.constants import BM25_B, BM25_K1, K
from ..sources import layout as _layout_meta


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist: bool = True,
) -> DataFrame:
    """(id, term, tf, doc_len) posting list from a text corpus.

    Persisted by default: this IS the index build (reference I3 sparse
    index, scripts/indexing.py:349-356). One scoring plan references the
    postings three times (corpus stats, doc frequency, term probe);
    without persistence the tokenize+aggregate pipeline runs 3x.
    Spark's CacheManager dedupes by canonicalized plan, so repeated
    build calls over the same corpus share one materialization.
    """
    # doc_len = size(tokens) rides along from the scan, so the build is
    # ONE shuffle (groupBy id,term) — no second agg + join-back.
    # NULL ids are excluded EXPLICITLY: a doc without an id cannot be
    # indexed (the reference requires _id at upload — T5 validation);
    # without the filter Spark's NULL-safe groupBy would keep such rows
    # while any SQL equi-join on id drops them — a silent cross-engine
    # divergence the adversarial NULL-brand part exposed.
    def build() -> DataFrame:
        toks = (
            docs.filter(F.col(id_col).isNotNull())
            .selectExpr(
                f"`{id_col}` AS id",
                f"{P.tokens_spark_sql(f'`{text_col}`')} AS toks",
            )
            .selectExpr(
                "id", "size(toks) AS doc_len", "explode(toks) AS term"
            )
        )
        return toks.groupBy("id", "term").agg(
            F.count(F.lit(1)).alias("tf"), F.first("doc_len").alias("doc_len")
        )

    if not persist:
        return build()
    # plan_memo (r14): repeated builds over the same corpus used to
    # append a duplicate _LIVE entry per call and re-pay the ~60 ms
    # Column-chain construction; CacheManager plan-dedupe made the
    # duplicates harmless but not free.
    return plan_memo(
        docs,
        ("bm25_postings", id_col, text_col),
        lambda: tracked_persist(build()),
    )


def corpus_stats(postings: DataFrame) -> DataFrame:
    """One-row (n_docs, avgdl) DataFrame: the stats row
    write_bm25_indexed stores beside a layout, whose two values the
    layout's scorers take as literals (``_read_bm25_index``). The
    in-memory index derives the same two values from exact totals
    (``_aggregates``).

    DELIBERATE: stats derive from the postings, so documents that
    tokenize to ZERO terms (empty/None/all-separator text) are outside
    N and avgdl. Such docs can never match any query; their only
    effect would be to nudge idf/avgdl marginally. The DuckDB oracle
    (sqlfrag.postings_ctes) defines the stats identically, so the two
    engines agree by construction — this line documents the choice so
    it reads as a decision, not an accident."""
    return (
        postings.select("id", "doc_len")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
        )
    )


def doc_frequency(postings: DataFrame) -> DataFrame:
    """(term, df) — postings are unique per (id, term) so count(*) = df."""
    return postings.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))


def query_terms(spark, query_text: str) -> DataFrame:
    """Distinct tokens of the query string as a one-column (term)
    LocalRelation, tokenized on the driver by P.tokens_py (pinned to
    P.tokens_spark_sql): building or collecting it runs no Spark job."""
    terms = dict.fromkeys(P.tokens_py(query_text))
    return P.local_values(spark, "term STRING", [f"'{t}'" for t in terms])


def _bm25_weight(k1: float, b: float):
    """The per-(doc, term) BM25 weight idf * tf_part as a Column —
    ONE definition shared by the single-query and batch scorers (the
    oracle side is centralized the same way in sqlfrag.bm25_scored_cte;
    a drift between two Spark copies would silently break single-vs-
    batch score equality).

    Built as ONE parsed expression string (r14, the expr-string
    pattern): the Column form cost ~50 ms of py4j chatter per plan
    build. Same trees — double literals spelled <repr>D, the same
    operator associativity — pinned sameSemantics-equal to the Column
    form by tests/test_expr_parity.py::test_bm25_weight_expr_parity."""
    idf = "ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
    tf_part = (
        f"CAST(tf AS DOUBLE) * {k1 + 1.0!r}D"
        f" / (CAST(tf AS DOUBLE)"
        f" + {k1!r}D * ({1.0 - b!r}D"
        f" + {b!r}D * CAST(doc_len AS DOUBLE) / avgdl))"
    )
    return F.expr(f"({idf}) * ({tf_part})")


_AGGREGATES = ("bm25_index_aggregates",)


def _aggregates(n_docs: int, total_len: int, dictionary: DataFrame):
    """``_index_aggregates``' value: ((n_docs, avgdl), dictionary,
    Σ doc_len). avgdl is Σ/n on the driver: both are exact integers
    below 2**53, so the quotient is correctly rounded, the same double
    Spark's avg(doc_len) gives (it sums the ints in a double, then
    divides; pinned against corpus_stats by tests/test_delta_index.py).
    No document, no avgdl, as avg over no rows."""
    return (n_docs, total_len / n_docs if n_docs else None), dictionary, total_len


def _index_aggregates(postings: DataFrame):
    """((n_docs, avgdl), dictionary, Σ doc_len) for a FULL postings
    index — index metadata (the reference's sparse index stores
    exactly idf and avgdl beside the postings), derived ONCE per
    postings plan through cache.plan_memo, so warm serving stops
    re-running a distinct+agg over the whole postings table per query
    (r13: 0.62 s/query at sf0.1 for the stats pass alone):

    - the corpus stats are two scalars from one ``first()`` per index
      version, bound into each scoring plan as literals; the exact
      Σ doc_len beside them lets ``upsert_postings`` carry them forward;
    - the (term, df) dictionary is tracked_persist'ed and probed per
      query with the query terms, instead of aggregating the
      term-probed posting slice, which re-scanned every posting row of
      the query's terms (for a common term, its whole posting list)
      just to count it.

    The dictionary agg is one extra map-side-combinable shuffle at
    build time (output = |vocabulary| rows), amortized across every
    query the way the postings build itself is. Values are identical
    to the slice-derived form — df of a term over its probed slice IS
    df of the term — so oracle hashes cannot move (verified by the
    bm25 rows in tests/test_registry_oracle.py)."""

    def build():
        n_docs, total_len = (
            postings.select("id", "doc_len")
            .distinct()
            .agg(F.count(F.lit(1)), F.sum("doc_len"))
            .first()
        )
        return _aggregates(
            n_docs, total_len or 0, tracked_persist(doc_frequency(postings))
        )

    return plan_memo(postings, _AGGREGATES, build)


def upsert_postings(
    postings: DataFrame,
    docs: DataFrame,
    ids: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The next version of a full postings index after an upsert, by
    delta: the rows of the ``ids`` give way to the postings of ``docs``
    (the upserted documents, whose ids are exactly ``ids``), and the
    index aggregates are carried forward instead of rebuilt. Exact,
    because every posting row depends on its own document only: the
    result equals build_postings over the upserted corpus row for row
    (tests/test_delta_index.py).

    - The table is cache.carry_forward's checkpoint, at the old
      version's partition count.
    - n_docs and Σ doc_len move by the ids' old and new documents
      (doc_len = Σ tf over a document's rows); avgdl is their quotient.
    - The dictionary changes only for the terms whose df moves; a term
      whose df reaches 0 leaves it.

    One collect brings the changes to the driver: a row per moved term
    and per touched document version, so bounded by the upsert's
    vocabulary and size. The result is seeded into
    ``_index_aggregates``' memo: the first read of the new version runs
    no ``first()`` and builds no dictionary."""
    (n_docs, _), dictionary, total_len = _index_aggregates(postings)
    touched = P.in_sql("id", [str(i) for i in ids])
    new = carry_forward(
        postings,
        f"NOT ({touched})",
        build_postings(docs, id_col=id_col, text_col=text_col, persist=False),
    )
    changes = (
        postings.filter(touched)
        .withColumn("sign", F.lit(-1))
        .unionByName(new.filter(touched).withColumn("sign", F.lit(1)))
    )
    # one shuffle, two groupings: a row per term (its df change d) and
    # a row per (id, sign) document version (its doc_len as Σ tf);
    # terms are never NULL, so a NULL term marks a document row
    moved = (
        changes.groupingSets([["term"], ["id", "sign"]], "term", "id", "sign")
        .agg(F.sum("sign").alias("d"), F.sum("tf").alias("len"))
        .filter("term IS NULL OR d != 0")
        .collect()
    )
    df_moves = {r["term"]: r["d"] for r in moved if r["term"] is not None}
    for r in moved:
        if r["term"] is None:
            n_docs += r["sign"]
            total_len += r["sign"] * r["len"]
    changed = P.in_sql("term", [f"'{t}'" for t in df_moves])
    moves = P.local_values(
        docs.sparkSession,
        "term STRING, df BIGINT",
        [f"'{t}', {d}L" for t, d in df_moves.items()],
    )
    new_dictionary = carry_forward(
        dictionary,
        f"NOT ({changed})",
        dictionary.filter(changed)
        .unionByName(moves)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .filter("df > 0"),
    )
    plan_memo(
        new, _AGGREGATES, lambda: _aggregates(n_docs, total_len, new_dictionary)
    )
    return new


def _weights(probed: DataFrame, dfreq: DataFrame, stats, k1, b, *keys):
    """(*keys, w): the BM25 weight of each term-probed posting row, the
    (n_docs, avgdl) ``stats`` bound as literals."""
    n_docs, avgdl = stats
    return (
        probed.join(F.broadcast(dfreq), "term")
        .withColumns({
            "n_docs": F.lit(n_docs).cast("bigint"),
            "avgdl": F.lit(avgdl).cast("double"),
        })
        .select(*keys, _bm25_weight(k1, b).alias("w"))
    )


def bm25_score_terms(
    postings: DataFrame,
    qterms: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    stats: tuple | None = None,
) -> DataFrame:
    """Score every document containing at least one query term.

    Returns (id, score) with score rounded for engine/oracle parity.
    The query terms are collected (query_terms' LocalRelation collects
    with no job) and probe the postings and the dictionary as
    ``term IN (...)`` literals. ``stats`` — (n_docs, avgdl) —
    overrides the derived corpus aggregate: REQUIRED when ``postings``
    is a pruned slice of a persisted index (the bucket probe keeps only
    the query terms' buckets, so stats derived from the slice would be
    the slice's, not the corpus's).
    """
    in_query = F.col("term").isin([r["term"] for r in qterms.collect()])
    probed = postings.filter(in_query)
    if stats is None:
        stats, dictionary, _ = _index_aggregates(postings)
        dfreq = dictionary.filter(in_query)
    else:
        # pruned persisted-layout slice: df aggregates over the
        # term-probed slice (already bucket-pruned; a slice-derived
        # dictionary would be query-keyed, not index-shaped)
        dfreq = doc_frequency(probed)
    return (
        _weights(probed, dfreq, stats, k1, b, "id")
        .groupBy("id")
        .agg(P.rounded(F.sum("w")).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    query_text: str,
    k: int = K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """V2 end-to-end: corpus -> postings -> scored -> top-k."""
    spark = docs.sparkSession
    postings = build_postings(docs, id_col=id_col, text_col=text_col)
    scored = bm25_score_terms(postings, query_terms(spark, query_text))
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def query_terms_batch(
    queries: DataFrame, qid_col: str = "query_id", text_col: str = "qtext"
) -> DataFrame:
    """(query_id, term): distinct tokens per query — the batch twin of
    query_terms, built from a queries DataFrame so the whole batch
    stays one JVM plan."""
    return queries.selectExpr(
        f"`{qid_col}` AS query_id",
        f"explode(array_distinct({P.tokens_spark_sql(f'`{text_col}`')})) AS term",
    )


def bm25_score_terms_batch(
    postings: DataFrame,
    qterms: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    stats: tuple | None = None,
) -> DataFrame:
    """(query_id, id, score) for a BATCH of queries in one plan.

    Scale shape mirrors the single-query scorer: the distinct term set
    of ALL queries broadcasts to probe the postings once (|batch terms|
    posting slices move, the corpus does not); per-term df aggregates
    over the probed slice only; the (query_id, term) pairs then fan the
    probed rows out per query via a second broadcast join, so a posting
    row is scored once per query containing its term — the one shuffle
    is the final (query_id, id) aggregation.

    Deliberately a plain groupBy, NOT the shared
    repartition(query_id) exchange the batch fusions use
    (operators/fusion.py): here the pre-exchange relation is the raw
    matched posting slice (large at corpus scale), and the two-exchange
    plan keeps both map-side reductions — partial aggregation on the
    fine-grained (query_id, id) keys, then WindowGroupLimit(Partial)
    pruning each partition to top-k per query before the window's
    exchange moves anything. Measured at the x100 probe: the single
    coarse exchange was ~25% SLOWER (81 s vs 64 s warm-cache) — the
    exchange-sharing trick only pays when the shuffled relation is
    already a bounded per-query list.

    ``stats`` overrides the derived corpus aggregate — required for
    pruned persisted-index slices, as in bm25_score_terms."""
    terms_only = qterms.select("term").distinct()
    probed = postings.join(F.broadcast(terms_only), "term")
    if stats is None:
        stats, dictionary, _ = _index_aggregates(postings)
        dfreq = dictionary.join(F.broadcast(terms_only), "term")
    else:
        dfreq = doc_frequency(probed)
    # weight BEFORE the per-query fan-out (r13): the BM25 weight is a
    # function of (term, id) alone — idf from the term's df, tf
    # saturation from the posting row — never of the query, so it is
    # computed ONCE per probed posting row and the (query_id, term)
    # fan-out join copies it. The previous shape evaluated the
    # ln+divide chain per MATCHED row: |batch| x posting fan-out
    # evaluations (~15M at the 500-query bench row) for ~116k distinct
    # values. Same w multiset per (query_id, id) group, same
    # arbitrary-order sum, so scores are bit-identical.
    weighted = _weights(probed, dfreq, stats, k1, b, "term", "id")
    return (
        weighted.join(F.broadcast(qterms), "term")
        .select("query_id", "id", "w")
        .groupBy("query_id", "id")
        .agg(P.rounded(F.sum("w")).alias("score"))
    )


# ---------------------------------------------------------------------------
# BM25 index as physical layout: term-bucketed postings + pruned lookup
# ---------------------------------------------------------------------------
# The module docstring's scale shape made real (the reference's sparse
# index, scripts/indexing.py:349-356, as table layout — the same
# discipline as write_ivf_indexed for the dense side): until r13 the
# only warm BM25 was the in-process CacheManager materialization, which
# dies with the process and still lists every postings file per query.
# Persisted, the postings partition by a hash bucket of the term, so a
# query's probe prunes to |query terms| bucket DIRECTORIES before any
# file I/O, and the corpus-global (n_docs, avgdl) stats row persists
# beside the layout — it cannot be derived from a pruned slice.

BM25_BUILD_META = "_BM25_BUILD.json"
BM25_N_TERM_BUCKETS = 64
TERM_BUCKET_COL = "__tbucket"


# corpus_stats' row as write_bm25_indexed stamps it
_STATS_SCHEMA = "n_docs BIGINT, avgdl DOUBLE, build_id STRING"


def bm25_stats_path(path: str) -> str:
    """Where write_bm25_indexed persists the corpus-stats row."""
    return path.rstrip("/") + "_stats"


def _term_bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def write_bm25_indexed(
    docs: DataFrame,
    path: str,
    n_buckets: int = BM25_N_TERM_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """BM25 index BUILD as physical layout: postings partitioned by
    term-hash bucket (clustered before the write — one task -> one file
    per bucket, the write_ivf_indexed lesson), the corpus-stats row
    beside it, both stamped with one build id. Write order = torn-build
    discipline (the LONG postings write first, then the meta, then the
    stamped stats last): an interruption anywhere leaves a pair the
    lookup refuses instead of scoring with stats that don't match the
    stored postings (a wrong avgdl silently shifts every score).

    n_buckets bounds the per-query directory listing; at 100 TB raise
    it so a bucket's posting slice fits an executor read (the value is
    persisted in the meta, so lookups never guess)."""
    spark = docs.sparkSession
    postings = build_postings(docs, id_col=id_col, text_col=text_col,
                              persist=False)
    # partition count = bucket count (r14, the write_ivf_indexed
    # sizing): one write task per bucket directory instead of
    # spark.sql.shuffle.partitions tasks juggling several dynamic-
    # partition writers each
    staged = postings.withColumn(
        TERM_BUCKET_COL, _term_bucket(F.col("term"), n_buckets)
    ).repartition(n_buckets, F.col(TERM_BUCKET_COL))
    staged.write.mode("overwrite").partitionBy(TERM_BUCKET_COL).parquet(path)
    build_id = uuid.uuid4().hex
    _layout_meta.write_json_meta(
        spark, path, BM25_BUILD_META,
        {"build_id": build_id, "n_buckets": n_buckets,
         "schema": postings._jdf.schema().toDDL()},
    )
    # stats derive from the WRITTEN layout (a 2-column scan), so they
    # describe exactly the postings a lookup will probe
    stats = corpus_stats(spark.read.parquet(path))
    stats.withColumn("build_id", F.lit(build_id)).write.mode(
        "overwrite"
    ).parquet(bm25_stats_path(path))


def _read_bm25_index(spark, path: str):
    """((n_docs, avgdl), n_buckets, postings DDL schema or None) for a
    persisted BM25 layout, from one ``first()`` of the stats row,
    refusing a torn build — both directions, same contract as the IVF
    layouts' _read_indexed_cents: a stamped-stats/meta mismatch AND an
    unstamped stats row beside a stamped layout each mean a rebuild
    died between the writes; only a fully pre-stamp pair passes
    unverified (then n_buckets falls back to the default).

    The row is read under its known schema, which spares the read a
    schema-inference job; an unstamped row shows a NULL build_id."""
    row = (
        spark.read.schema(_STATS_SCHEMA)
        .parquet(bm25_stats_path(path))
        .first()
    )
    meta = _layout_meta.read_json_meta(spark, path, BM25_BUILD_META)
    stats_bid = row["build_id"]
    if stats_bid is not None:
        if meta is None or meta.get("build_id") != stats_bid:
            raise ValueError(
                f"BM25 index at {path} is torn: stats build_id "
                f"{stats_bid!r} does not match the layout's "
                f"{None if meta is None else meta.get('build_id')!r} "
                f"— rebuild it"
            )
    elif meta is not None:
        raise ValueError(
            f"BM25 index at {path} is torn: the layout carries build_id "
            f"{meta.get('build_id')!r} but the stats row beside it is "
            f"unstamped — a rebuild died between the writes; rebuild it"
        )
    meta = meta or {}
    n_buckets = int(meta.get("n_buckets", BM25_N_TERM_BUCKETS))
    return (row["n_docs"], row["avgdl"]), n_buckets, meta.get("schema")


def _term_buckets(terms: DataFrame, n_buckets: int) -> DataFrame:
    """(b): the layout bucket id of each (term) row."""
    return terms.select(_term_bucket(F.col("term"), n_buckets).alias("b"))


def _probed_postings(spark, path: str, bucket_ids: DataFrame, schema):
    """The pruned slice of a persisted layout: the (b) rows of
    ``bucket_ids`` (a bounded driver set of <= |terms| ints, the
    probe_cells_tbl pattern) name the only bucket directories read, so
    no job lists all n_buckets of them. A probed bucket no term was
    written to has no directory; if none has one, the slice is empty.
    The stored DDL ``schema`` spares schema inference its footer job
    (None, for a layout written without one, infers)."""
    buckets = sorted({r["b"] for r in bucket_ids.collect()})
    dirs = {
        int(d.rpartition("=")[2]): d
        for d in _layout_meta.glob_paths(
            spark, f"{path.rstrip('/')}/{TERM_BUCKET_COL}=*"
        )
    }
    probed = [dirs[b] for b in buckets if b in dirs]
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    sliced = reader.parquet(*(probed or [min(dirs.values())]))
    if not probed:  # same schema, no rows
        sliced = sliced.limit(0)
    # the ids stay a PartitionFilter too, as on a read of the root
    return sliced.filter(F.col(TERM_BUCKET_COL).isin(buckets)).drop(TERM_BUCKET_COL)


def bm25_indexed_topk(
    spark, path: str, query_text: str, k: int = K
) -> DataFrame:
    """BM25 search over the persisted layout — the warm serving shape:
    probe the query terms' bucket directories only, score the slice
    against the persisted corpus stats, top-k. Equals bm25_topk
    row-for-row (the layout is semantically invisible: the probed
    slice contains every posting row any query term matches, df
    aggregates over that slice exactly as the in-memory scorer's
    term-probe does, and stats are the persisted corpus-global row's
    values)."""
    stats, n_buckets, schema = _read_bm25_index(spark, path)
    qterms = query_terms(spark, query_text)
    # a projection of the local term relation: collected with no job
    postings = _probed_postings(spark, path, _term_buckets(qterms, n_buckets), schema)
    scored = bm25_score_terms(postings, qterms, stats=stats)
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def bm25_indexed_topk_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = K,
    qid_col: str = "query_id",
    text_col: str = "qtext",
) -> DataFrame:
    """Batched BM25 over the persisted layout: the BATCH's distinct
    term set prunes to the union of term buckets (still a bounded
    driver list), the slice is probed once for all queries, and
    scoring + per-query top-k mirror bm25_score_terms_batch with the
    persisted stats row's values. Equals bm25_topk_batch row-for-row."""
    from .topk import topk_per_group

    stats, n_buckets, schema = _read_bm25_index(spark, path)
    qterms = query_terms_batch(queries, qid_col=qid_col, text_col=text_col)
    # the batch's term set is distributed: deduplicated on the
    # executors, so at most n_buckets ids reach the driver
    postings = _probed_postings(
        spark, path, _term_buckets(qterms, n_buckets).distinct(), schema
    )
    scored = bm25_score_terms_batch(postings, qterms, stats=stats)
    return topk_per_group(scored, "query_id", k, id_col="id")
