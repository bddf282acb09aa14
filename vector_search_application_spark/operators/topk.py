"""Dense vector top-k operators (SURVEY.md §2.6 V1, §2.5 Q2/Q3, §2.8 K1-K4).

Reference behavior re-expressed Spark-first:
  - V1 dense ANN top-k (reference app/services/search_service.py:138-205,
    Qdrant HNSW): here an exact brute-force cosine ranked by
    ``TakeOrderedAndProject`` — a single narrow scan stage, no shuffle.
    The approximate scale path (LSH / IVF) lives in ``operators/ann.py``;
    correctness is always defined against this exact operator.
  - batch-of-queries: broadcast the query set against the corpus and
    rank per query with one window — the 100 TB shape: corpus stays
    partitioned, queries (small side) broadcast, no corpus shuffle.
  - Q3 score threshold (>= 0.4) and Q2 equality post-filter with k
    inflation (fetch k*3, filter, re-truncate) preserve the reference's
    result-count semantics.

Determinism: every score is rounded before ranking and ties break by id
ascending (SURVEY.md §7 tie-breaking risk note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable as P
from ..functions.cache import plan_memo, tracked_persist
from ..plans.constants import EMB_DIM, K, POSTFILTER_INFLATION, ROUND_DIGITS


def flat_with_norm(
    df: DataFrame,
    vec_col: str,
    prefix: str,
    keep: list[str],
    dim: int = EMB_DIM,
) -> DataFrame:
    """Project a vector column into ``dim`` scalar double columns plus a
    precomputed L2 norm, MATERIALIZED via tracked_persist.

    Why flatten: cosine scoring after a BroadcastNestedLoopJoin wants
    plain field reads — per-pair element_at-on-array costs ~7x per
    access (null/bounds checks + cast per PAIR instead of per row),
    and computing norms per PAIR costs 2 extra dots. Arithmetic is
    bit-identical (same element_at casts, same left-associated double
    accumulation), so oracle hashes don't move.

    Why persist: 65 separately-aliased non-trivial projections below a
    join send constraint propagation (super-linear in aliases under a
    join) into multi-minute/multi-GB canonicalization — the previous
    formulation needed spark.sql.constraintPropagation.enabled=false
    set session-wide from the corpus reader. InMemoryRelation is a
    LEAF node: caching the flattened table hides the aliases from
    constraint inference entirely, the optimizer flag stays at
    default, and the join reads pre-cast columns. This is also the
    100 TB shape — the flattened scoring table is what you'd
    precompute and store next to the corpus (one write, reused by
    every query batch), not re-derive under every join.

    Built with selectExpr strings, not Column objects: the wide
    projection is ~200 expression nodes, and constructing them one
    py4j call at a time put ~2s of driver round-trips on every
    plan build; one parsed SQL string is a single round-trip.

    Memoized per (input plan, projection params): three registry plans
    score over the same corpus, and a fresh persist per call would
    cache three identical multi-column corpus copies until the session
    boundary. sameSemantics() is the exact plan-identity test; the
    memo forgets its entries whenever release() or release_all() drops
    the blocks (functions/cache), so a stale hit can never hand back a
    silently-uncached plan.
    """
    params = (vec_col, prefix, dim, tuple(keep))

    def build() -> DataFrame:
        elem = f"cast(element_at({vec_col}, {{i}}) as double)"
        norm = (
            "sqrt("
            + " + ".join(
                f"{elem.format(i=i)} * {elem.format(i=i)}"
                for i in range(1, dim + 1)
            )
            + f") AS {prefix}norm"
        )
        return tracked_persist(
            df.selectExpr(
                *keep,
                norm,
                *[f"{elem.format(i=i)} AS {prefix}{i}" for i in range(1, dim + 1)],
            )
        )

    return plan_memo(df, ("flat",) + params, build)


def _flat_cosine_sql(pa: str, pb: str, dim: int) -> str:
    chain = " + ".join(f"{pa}{i} * {pb}{i}" for i in range(1, dim + 1))
    return P.cosine_case_spark_sql(chain, f"{pa}norm", f"{pb}norm")


def score_pairs(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qvec",
    query_keep: list[str] | None = None,
    extra_cols: list[str] | None = None,
    dim: int = EMB_DIM,
    corpus_partitions: int | None = None,
) -> DataFrame:
    """Cosine-score every (corpus row, query row) pair.

    The query side (small) is broadcast; the corpus never shuffles, so
    the plan is scan -> flatten-project -> BroadcastNestedLoopJoin ->
    score-project regardless of corpus size — the 100 TB shape. Output:
    id_col, *extra_cols, *query_keep, score.

    corpus_partitions: at 100 TB the scan is already thousands of
    splits — leave None (no shuffle). On a SMALL corpus in one parquet
    file the scan is a single partition and pair scoring serializes on
    one core; set this to the cluster parallelism to fan out first
    (tiny round-robin shuffle, then embarrassingly parallel compute).
    """
    if corpus_partitions:
        vectors = vectors.repartition(corpus_partitions)
    lhs = flat_with_norm(
        vectors, vec_col, "__a", [id_col] + list(extra_cols or []), dim
    )
    rhs = flat_with_norm(queries, query_vec_col, "__b", list(query_keep or []), dim)
    keep = [id_col] + list(extra_cols or []) + list(query_keep or [])
    score = (
        f"round(cast(({_flat_cosine_sql('__a', '__b', dim)}) as double), "
        f"{ROUND_DIGITS}) AS score"
    )
    return lhs.crossJoin(F.broadcast(rhs)).selectExpr(*keep, score)


def score_against_query(
    vectors: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qvec",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Cross-score a corpus against a single-row query DataFrame.

    The one-row query side is broadcast (BroadcastNestedLoopJoin over a
    single row — effectively a map-side constant), so the corpus never
    shuffles: the plan is scan -> project -> TakeOrderedAndProject.

    Uses the compact higher-order-function cosine: for a single query
    the pair count equals the corpus row count, and the flattened
    codegen plan's fixed cost (wide projects, Janino compile) exceeds
    its per-pair savings. score_pairs is the many-query scale path.

    Built as ONE parsed expression string (r14): the Column-form cosine
    costs ~80 ms of py4j lambda-HOF construction per plan build, paid
    by every dense branch (hybrid/fusion chains build it per
    execution). cosine_spark_sql builds the same zip_with/aggregate
    trees the Column form did, so values and plans are identical
    (tests/test_expr_parity.py pins sameSemantics with a test-local
    copy of the Column form).
    """
    cols = [f"`{id_col}`"] + [f"`{c}`" for c in (extra_cols or [])]
    score = (
        f"round(CAST(({P.cosine_spark_sql(f'`{vec_col}`', f'`{query_vec_col}`')})"
        f" AS DOUBLE), {ROUND_DIGITS}) AS score"
    )
    return vectors.crossJoin(F.broadcast(query)).selectExpr(*cols, score)


def topk(scored: DataFrame, k: int = K, id_col: str = "vec_id") -> DataFrame:
    """Global top-k: ORDER BY score DESC, id ASC LIMIT k.

    Catalyst compiles this to TakeOrderedAndProject — per-partition
    heap + driver merge, no full sort, no shuffle. That plan survives a
    100x scale-up: each of N partitions returns k rows.
    """
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def topk_per_group(
    scored: DataFrame,
    group_col: str,
    k: int = K,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-group top-k via one window (rank_col dropped from output)."""
    w = Window.partitionBy(group_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def topk_per_group_salted(
    scored: DataFrame,
    group_col: str,
    k: int = K,
    id_col: str = "vec_id",
    n_salts: int = 32,
) -> DataFrame:
    """Per-group top-k in two phases: local top-k within (group, salt),
    then global top-k per group.

    The single-window plan shuffles EVERY scored row to one reducer per
    group — per-group parallelism is 1 and that reducer's input is the
    whole corpus, which is exactly the partition that falls over at
    100 TB (or on one hot group). Salting on a hash of the id splits
    phase one across n_salts reducers per group; phase two then ranks
    only n_salts*k survivors per group. Results are identical to
    topk_per_group, ties included: the ordering (score desc, id asc) is
    total, and every true top-k row survives its salt bucket's local
    top-k (asserted by tests/test_fusion_unit.py).
    """
    w1 = Window.partitionBy(group_col, "__salt").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    local = (
        scored.withColumn("__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    return topk_per_group(local, group_col, k, id_col)


def threshold(scored: DataFrame, min_score: float) -> DataFrame:
    """Q3: drop hits below the dense score threshold."""
    return scored.filter(F.col("score") >= F.lit(min_score))


def postfilter_topk(
    scored: DataFrame,
    predicate: Column,
    k: int = K,
    id_col: str = "vec_id",
    inflation: int = POSTFILTER_INFLATION,
) -> DataFrame:
    """Q2: fetch k*inflation best, then equality-filter, then re-truncate.

    Mirrors the reference's fetch-3x-then-filter shape (can return fewer
    than k rows after filtering — that row-count semantic is load-bearing,
    reference app/services/search_service.py:443-465).
    """
    inflated = topk(scored, k * inflation, id_col=id_col)
    return inflated.filter(predicate).orderBy(F.desc("score"), F.asc(id_col)).limit(k)


MAX_PAGE_DEPTH = 100_000


def paginate(
    df: DataFrame,
    order_col: str,
    limit: int,
    offset: int = 0,
    max_page_depth: int = MAX_PAGE_DEPTH,
) -> DataFrame:
    """Q4 scroll pagination: ORDER BY id LIMIT/OFFSET, reference parity
    (get_documents(limit, offset)).

    Two scale safeties over the naive global-window form:
    - the page head (offset+limit rows) is pre-truncated with a global
      sort+limit, which compiles to TakeOrderedAndProject — a
      DISTRIBUTED top-N; only those rows reach the single-reducer
      row_number window, so the window cost is bounded by the page
      depth, not the table size;
    - page depths beyond ``max_page_depth`` are refused outright: deep
      OFFSET is an anti-pattern at any scale — use ``keyset_page``
      (WHERE order_col > last_seen LIMIT n), whose cost is
      depth-independent.

    CONTRACT: ``order_col`` must be a TOTAL order (unique per row, like
    doc_id — what every in-repo caller passes). With ties, each page is
    an independent query that resolves the tied boundary arbitrarily,
    so consecutive pages can overlap or skip tied rows; same contract
    as mutations.with_versions documents for its ordering column.
    """
    depth = offset + limit
    if depth > max_page_depth:
        raise ValueError(
            f"OFFSET page depth {depth} exceeds {max_page_depth}; deep "
            "pagination ranks and discards every earlier row — use "
            "keyset_page(df, order_col, after, limit) instead"
        )
    head = df.orderBy(F.asc(order_col)).limit(depth)
    w = Window.orderBy(F.asc(order_col))
    return (
        head.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > offset)
        .drop("__rn")
    )


def keyset_page(
    df: DataFrame, order_col: str, after, limit: int
) -> DataFrame:
    """Q4 pagination, the scale path: WHERE order_col > after ORDER BY
    order_col LIMIT n. Unlike OFFSET (which ranks and discards every
    earlier row — a window over the full table), the cursor predicate
    pushes into the scan and the limit compiles to
    TakeOrderedAndProject, so page N costs the same as page 1 at any
    table size.

    Same TOTAL-order contract as paginate: with duplicate order_col
    values the strict > cursor skips rows tied with ``after`` — the
    cursor column must be unique per row (doc_id)."""
    return (
        df.filter(F.col(order_col) > F.lit(after))
        .orderBy(F.asc(order_col))
        .limit(limit)
    )


# (a rounded_score alias of P.rounded lived here with zero callers —
# deleted: a second public name for the rounding primitive is exactly
# how a third spelling drifts from ROUND_DIGITS)
