"""Approximate nearest-neighbor scale paths (SURVEY.md §2.4 I1, §4 ANN
row; BASELINE.json "MLlib for batch index build").

Correctness is always defined by the exact brute-force operator
(topk.py); these are the plans that survive 100 TB:

  hyperplane LSH   deterministic md5-derived random hyperplanes ->
                   sign-bit bucket -> equi-join on bucket. Candidate
                   generation is a key join (no all-pairs), verification
                   is exact cosine on candidates only. Fully portable to
                   the DuckDB oracle (declared queries use this).
  IVF              the centroid set (small by construction — that is
                   what makes it an index) rides a BroadcastExchange
                   as a one-row array<struct> table; each corpus row
                   computes its nearest cell with an aggregate() argmax
                   over the broadcast column, the probe filter is an
                   IN-literal, top-k is TakeOrderedAndProject. At
                   production centroid counts (thousands x 384 dims)
                   a literal expression would be a multi-megabyte
                   codegen plan; the broadcast row is just data. At
                   scale the corpus is PARTITIONED BY cell, so the
                   probe filter becomes partition pruning.
  MLlib LSH        BucketedRandomProjectionLSH as the "index build"
                   (fit = index construction, transform = bucketed
                   table); seeded -> reproducible, recall measured in
                   tests against the exact oracle (never golden-matched).
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P
from ..functions.cache import plan_memo, tracked_persist
from ..sources import layout as _layout_meta
from ..plans.constants import (
    K,
    LSH_BAND_PLANES,
    LSH_BANDS,
    LSH_BUCKET_CAP,
    LSH_PLANES,
    NEARDUP_HAMMING_CAP,
    TRAINED_CENTROID_CAP,
    ivf_n_centroids,
    ivf_n_probe,
)


def suggested_band_planes(n_rows: int, target_occupancy: int = 4) -> int:
    """Band width (sign bits per LSH band) that holds expected bucket
    occupancy ~constant as the corpus grows: ceil(log2(N / target)),
    floored at 8.

    The controlled-dup scale probe (SCALING_DEDUP.md) measured the
    failure mode of a FIXED band width: candidates grow N^2/2^width,
    so a 256-bucket table that is overhead-bound at 20k vectors is
    quadratic wall-clock at 200k (2.0s -> 384.5s). At 100 TB this is
    the one config value that must track corpus size; recall lost to
    wider bands is bought back with more bands (B tables of r bits:
    recall 1-(1-p^r)^B, candidates ~N^2*B/2^r)."""
    n = max(1, n_rows)
    return max(8, math.ceil(math.log2(max(1.0, n / target_occupancy))))


def plane_weights(spark, n_planes: int = LSH_PLANES, dim: int = 64) -> DataFrame:
    """(plane, d, w): deterministic pseudo-random hyperplane weights,
    w = hexval16(md5(plane||'_'||d)) - 32767.5, d is 1-based."""
    planes = spark.range(n_planes).select(F.col("id").alias("plane"))
    dims = spark.range(1, dim + 1).select(F.col("id").alias("d"))
    return planes.crossJoin(dims).select(
        "plane",
        "d",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", F.col("plane"), F.col("d"))), 1, 4
                ),
                16,
                10,
            ).cast("double")
            - F.lit(32767.5)
        ).alias("w"),
    )


def _py_plane_weights(
    n_planes: int, dim: int, plane_offset: int = 0
) -> list[list[float]]:
    """The same md5-derived weights plane_weights() computes engine-side
    (hexval16(md5(plane||'_'||d)) - 32767.5) — byte-identical, so they
    can ride as plan literals. ``plane_offset`` selects a later slice of
    the same family (band b of a banded scheme uses planes
    b*r .. b*r+r-1)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:4], 16) - 32767.5
            for d in range(1, dim + 1)
        ]
        for p in range(plane_offset, plane_offset + n_planes)
    ]


def _bucket_sql(
    vec_col: str,
    n_planes: int = LSH_PLANES,
    dim: int = 64,
    plane_offset: int = 0,
) -> str:
    """Sign-bit bucket of a vector as one per-row expression over
    literal plane weights.

    Guarded on the vector length: zip_with null-pads a length mismatch,
    which would turn every dot NULL and silently collapse ALL vectors
    into bucket 0 — raise instead."""
    terms = []
    for p, w in enumerate(_py_plane_weights(n_planes, dim, plane_offset)):
        dot = P.dot_spark_sql(vec_col, _lit_vec(w))
        # sign decided on the ROUNDED dot: the oracle accumulates in
        # arbitrary order (GROUP BY sum), so an unrounded near-zero dot
        # could flip sign across engines on FP reassociation noise
        terms.append(
            f"CASE WHEN round(CAST({dot} AS DOUBLE), 6) > 0.0D"
            f" THEN {1 << p}L ELSE 0L END"
        )
    bucket = f"CAST({' + '.join(terms)} AS BIGINT)"
    return (
        f"CASE WHEN size({vec_col}) = {dim} THEN {bucket}"
        f" ELSE CAST(raise_error(concat('hyperplane bucket expects dim {dim}, got ',"
        f" cast(size({vec_col}) as string))) AS BIGINT) END"
    )


def _banded_signature(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_bands: int,
    band_planes: int,
    dim: int,
) -> DataFrame:
    """(id, __bk0..__bkB-1): every band's sign-bit bucket, computed by
    EXPLODE-AND-AGGREGATE in WSCG-SIZED PASSES — the fastest shape
    this engine executes for a B*r x dim random projection. Every
    alternative was measured at the x100 controlled-dup probe
    (220k rows, 320 planes, dim 64):

    - array HOFs (aggregate(zip_with(..)) shared pass): interpreted,
      two boxed 320-wide double arrays allocated per vector DIMENSION
      -> 216s, GC-bound at any parallelism.
    - inline flat multiply-add chains: under whole-stage codegen the
      stage fuses into ONE processNext() and ~20k ops overflow
      Janino's 64KB method limit -> interpreted fallback, 146s (and
      the compile attempt OOMs an 8g driver at 4+ bands per class);
      routed around whole-stage codegen (>100 output fields) the
      projection compiles per-expression but still executes at
      ~75ns/term -> 335s.
    - ONE explode-and-aggregate pass with all 320 sum() buffers:
      correct and compact, but a 320-field buffer disables
      whole-stage codegen for the aggregate (spark.sql.codegen.
      maxFields = 100) and pays ~300ns of mutable-projection
      invocation per (exploded row x plane) -> 42s.
    - explode-and-aggregate in passes of <= 96 sums: the buffer stays
      under maxFields, the aggregate stays INSIDE whole-stage codegen,
      and a pass runs in ~5s -> ~4 passes + id-joins ~= 20s, the best
      measured. This is that shape.

    The exploded (id, d, x) table is persisted once and shared by all
    passes; when the caller pre-partitions vectors by id, explode
    preserves the partitioning, so every groupBy(id) is
    map-side-complete and the final id-joins are exchange-free.

    Sign parity with the DuckDB twin: the twin sums x*w per (id,
    plane) in arbitrary order; both engines round to 6 decimals
    before the > 0 sign test, so a sign can only diverge if |dot| <
    5e-7 while weights are O(3e4) — the same reassociation tolerance
    the twin has always relied on. Weight family (md5) and bit
    packing are byte-identical to every previous shape, so buckets —
    and therefore oracle hashes — do not move.

    Weights arrive as DATA, not literals (r10 late fix): a one-row
    broadcast relation computes the full [n_planes][dim] weight table
    with the SAME md5 formula _py_plane_weights uses (conv(md5(p||
    '_'||d)[1:4]) - 32767.5 — integer-valued, so the double is exact
    and products are bit-identical to the literal form). The previous
    shape inlined ~20k CAST'd literals across every pass plan, which
    (a) spiked Janino compilation and (b) leaked ~200+ MB per
    signature consumer into session-lifetime plan/codegen retention —
    measured: TWO signature queries in one default-1g vanilla session
    (the round driver's gate shape) OOM'd the JVM mid-window, while
    each ran fine solo. With the broadcast table the generated
    aggregate code is literal-free and plan strings stay compact."""
    n_planes_total = n_bands * band_planes
    pw_expr = (
        f"transform(sequence(0, {n_planes_total - 1}), p ->"
        f" transform(sequence(1, {dim}), d ->"
        f" cast(conv(substring(md5(concat(cast(p as string), '_',"
        f" cast(d as string))), 1, 4), 16, 10) as double) - 32767.5D))"
    )
    wrow = vectors.sparkSession.range(1).select(F.expr(pw_expr).alias("__pw"))
    guarded = (
        f"CASE WHEN size({vec_col}) = {dim} THEN {vec_col}"
        f" ELSE CAST(raise_error(concat('hyperplane buckets expect dim {dim},"
        f" got ', cast(size({vec_col}) as string))) AS ARRAY<DOUBLE>) END"
    )
    ex = tracked_persist(
        vectors.selectExpr(
            f"{id_col} AS id", f"posexplode({guarded}) AS (__d, __x)"
        )
    )
    bands_per_pass = max(1, 96 // band_planes)
    parts = []
    # one-row broadcast side streams through BNLJ, so the left side's
    # id partitioning (and the map-side-complete groupBy) is preserved
    based = ex.crossJoin(F.broadcast(wrow))
    for b0 in range(0, n_bands, bands_per_pass):
        bset = range(b0, min(b0 + bands_per_pass, n_bands))
        dot_aggs = [
            F.expr(
                f"sum(cast(__x as double) * __pw[{p}][__d])"
            ).alias(f"__dot{p}")
            for b in bset
            for p in range(b * band_planes, (b + 1) * band_planes)
        ]
        dots = based.groupBy("id").agg(*dot_aggs)
        bucket_cols = []
        for b in bset:
            terms = " + ".join(
                f"CASE WHEN round(__dot{b * band_planes + i}, 6) > 0.0D"
                f" THEN {1 << i}L ELSE 0L END"
                for i in range(band_planes)
            )
            bucket_cols.append(f"CAST({terms} AS BIGINT) AS __bk{b}")
        parts.append(dots.selectExpr("id", *bucket_cols))
    sig = parts[0]
    for part in parts[1:]:
        sig = sig.join(part, "id")
    return tracked_persist(sig)


def hyperplane_buckets(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = LSH_PLANES,
    dim: int = 64,
) -> DataFrame:
    """(id, bucket): sign-bit bucket of each vector.

    Computed per-row against literal plane weights — a pure map: the
    previous posexplode + weights join + two groupBys shuffled
    |corpus| x dim rows to build what each row can compute alone (same
    lesson as the SimHash rewrite, operators/dedup.py)."""
    return vectors.selectExpr(
        f"{id_col} AS id", f"{_bucket_sql(vec_col, n_planes, dim)} AS bucket"
    )


def lsh_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int | None = None,
    band_planes: int | None = None,
    corpus_partitions: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) for pairs sharing >=1 LSH band bucket and
    above the cosine threshold — embedding near-duplicate detection.

    BANDED hyperplane LSH (LSH_BANDS tables of LSH_BAND_PLANES sign
    bits, reusing one md5 plane family): the earlier single 8-plane
    table had a fixed 256-bucket denominator, so candidate pairs grew
    N^2/256 — the controlled-dup probe measured 2.0s -> 384.5s from
    x10 to x100 at linear verified-pair counts (SCALING_DEDUP.md).
    16-bit bands cut candidates to ~N^2*B/65536 and RAISE recall at
    the 0.95 threshold (any one of B bands may match). The banded
    signature table is what you'd write out at scale, partitioned by
    (band, bucket); band width is the log2(N) knob that holds bucket
    occupancy constant as the corpus grows.

    corpus_partitions: same knob as topk.score_pairs, but partitioned
    BY ID — a small corpus in one parquet split would compute the
    whole signature on one core, and id-partitioning makes every
    signature pass's groupBy(id) map-side-complete
    (_banded_signature). At 100 TB the scan is already thousands of
    splits; leave None (the signature passes then shuffle by id
    once, which is the write-once index build you would run anyway)."""
    n_bands = LSH_BANDS if n_bands is None else n_bands
    band_planes = LSH_BAND_PLANES if band_planes is None else band_planes
    if corpus_partitions:
        # BY ID: explode preserves this partitioning, so every
        # signature pass's groupBy(id) is map-side-complete and the
        # pass-joins are exchange-free (_banded_signature)
        vectors = vectors.repartition(corpus_partitions, F.col(id_col))
    # all B band buckets as flat columns (_banded_signature — the HOF
    # and single-class-codegen alternatives both fail, see there),
    # persisted as the SKINNY signature table: id + B bucket longs,
    # no vector payload. The bucket columns double as the hamming
    # prefilter's bits below.
    sig_flat = _banded_signature(
        vectors, id_col, vec_col, n_bands, band_planes, dim
    )
    # the band self-join rows carry (id, ALL B buckets, band, bucket):
    # +8B*B per row over the skinny (id, band, bucket) shape, in
    # exchange for the hamming prefilter running INSIDE the join stage
    # — no candidate-set shuffle, no signature re-join. The previous
    # shapes either dragged the 64-double vector through the join
    # (2 x B x N vector rows of shuffle) or distinct'ed the raw
    # candidate set (14.8M-row exchange at the x100 probe) and joined
    # the signature back per side (two more 14.8M-row SMJs).
    bks = [f"__bk{b}" for b in range(n_bands)]
    banded = sig_flat.selectExpr(
        "id",
        *bks,
        "posexplode(array(" + ", ".join(bks) + ")) AS (band, bucket)",
    )
    # occupancy guard (constants.LSH_BUCKET_CAP): identical-embedding
    # mega-cliques collide in EVERY band, so no band count dilutes them
    # — >cap buckets emit a linear star to their min-id representative
    # instead of C(c,2) pairs (cap_buckets: a-side capped, b-side
    # full); identical rows are exact-dedup's job (pipeline order:
    # dedup_exact_then_near), near-identical mega-groups still collapse
    from .dedup import cap_buckets

    a_rows = cap_buckets(banded, ["band", "bucket"], LSH_BUCKET_CAP)
    a = a_rows.selectExpr(
        "id AS id_a", *[f"__bk{b} AS __sa{b}" for b in range(n_bands)],
        "band", "bucket",
    )
    b_side = banded.selectExpr(
        "id AS id_b", *[f"__bk{b} AS __sb{b}" for b in range(n_bands)],
        "band", "bucket",
    )
    # HAMMING PREFILTER (constants.NEARDUP_HAMMING_CAP), applied in
    # the join stage itself: the candidate stream is dominated by
    # background-cosine noise (~15M band-collision rows for 20k true
    # pairs at the x100 probe). Hamming distance over the B*r sign
    # bits estimates the angle: true >=0.95 pairs sit at
    # mean+4.5sigma <= the cap while background pairs are >10 sigma
    # above it — B bit_count(xor) terms of whole-stage codegen kill
    # them as the join emits, so the distinct and the exact-cosine
    # verify below run on ~the true pairs only. The DuckDB twin
    # applies the identical cut on identical bits, so the
    # (astronomically rare) true pair beyond the cap is dropped by
    # BOTH engines and hashes cannot move.
    hamming = " + ".join(
        f"bit_count(__sa{b} ^ __sb{b})" for b in range(n_bands)
    )
    cand = (
        a.join(b_side, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(f"{hamming} <= {NEARDUP_HAMMING_CAP}"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify on the survivors (~true pairs only): the vector
    # join is linear in the OUTPUT, not the candidate set. Persist the
    # narrow vector table ONCE — both verify sides read the cache
    # instead of re-deriving the (possibly synthesized) input twice.
    vtab = tracked_persist(
        vectors.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    )
    va = vtab.select(F.col("__vid").alias("id_a"), F.col("__v").alias("va"))
    vb = vtab.select(F.col("__vid").alias("id_b"), F.col("__v").alias("vb"))
    scored = cand.join(va, "id_a").join(vb, "id_b").select(
        "id_a", "id_b",
        P.rounded(F.expr(P.cosine_spark_sql("va", "vb"))).alias("cosine"),
    )
    # candidates are already unique pairs; the threshold is the last cut
    return scored.filter(F.col("cosine") >= threshold)


def lsh_incremental_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int | None = None,
    band_planes: int | None = None,
    corpus_partitions: int | None = None,
) -> DataFrame:
    """Incremental (ingest-time) embedding near-dup: (batch_id,
    corpus_id, cosine) for every ARRIVING vector whose cosine against
    an already-indexed corpus vector is >= threshold — the embedding
    twin of dedup.minhash_incremental_pairs, and the same contract: no
    corpus-corpus candidate is ever generated.

    Scale shape: the corpus banded signature table is the persistent
    index (at 100 TB written once, partitioned by (band, bucket));
    the batch computes its own signatures — linear in the batch — and
    BROADCASTS into the index join, so the corpus never shuffles at
    ingest. The occupancy guard caps flooded corpus buckets at their
    min-id representative, the hamming prefilter over the B*r sign
    bits runs inside the join stage (same cut as lsh_neardup_pairs,
    so the noise candidates die before the distinct), and the exact
    cosine verify joins vectors only for the surviving ~true pairs."""
    n_bands = LSH_BANDS if n_bands is None else n_bands
    band_planes = LSH_BAND_PLANES if band_planes is None else band_planes
    if corpus_partitions:
        corpus = corpus.repartition(corpus_partitions, F.col(id_col))
    c_sig = _banded_signature(corpus, id_col, vec_col, n_bands, band_planes, dim)
    b_sig = _banded_signature(batch, id_col, vec_col, n_bands, band_planes, dim)
    bks = [f"__bk{b}" for b in range(n_bands)]
    explode = "posexplode(array(" + ", ".join(bks) + ")) AS (band, bucket)"
    from .dedup import cap_buckets

    c_banded = cap_buckets(
        c_sig.selectExpr("id", *bks, explode), ["band", "bucket"], LSH_BUCKET_CAP
    ).selectExpr(
        "id AS corpus_id",
        *[f"__bk{b} AS __sc{b}" for b in range(n_bands)],
        "band", "bucket",
    )
    b_banded = b_sig.selectExpr("id", *bks, explode).selectExpr(
        "id AS batch_id",
        *[f"__bk{b} AS __sb{b}" for b in range(n_bands)],
        "band", "bucket",
    )
    hamming = " + ".join(
        f"bit_count(__sb{b} ^ __sc{b})" for b in range(n_bands)
    )
    cand = (
        F.broadcast(b_banded)
        .join(c_banded, ["band", "bucket"])
        .filter(F.expr(f"{hamming} <= {NEARDUP_HAMMING_CAP}"))
        .select("batch_id", "corpus_id")
        .distinct()
    )
    bv = batch.select(F.col(id_col).alias("batch_id"), F.col(vec_col).alias("va"))
    cv = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("vb"))
    scored = (
        cand.join(F.broadcast(bv), "batch_id")
        .join(cv, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            P.rounded(F.expr(P.cosine_spark_sql("va", "vb"))).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


def _lit_vec(arr) -> str:
    """Array-of-doubles literal; string->double cast is exact for the
    Python float repr, so the constant folds to the identical IEEE bits."""
    return "array(" + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in arr) + ")"


def _py_norm(arr) -> float:
    """L2 norm with the same IEEE left-assoc accumulation the engines
    use — safe to ride in plan literals."""
    n = 0.0
    for x in arr:
        n = n + float(x) * float(x)
    return math.sqrt(n)


def _cos_lit_sql(vec_col: str, arr, digits: int = 6) -> str:
    """round(cosine(vec_col, <literal vector>), digits). The literal
    side's norm is precomputed in Python — same IEEE left-assoc
    accumulation as the in-plan norm."""
    cos = P.cosine_spark_sql(
        vec_col, _lit_vec(arr), nb=f"CAST('{_py_norm(arr)!r}' AS DOUBLE)"
    )
    return f"round(CAST({cos} AS DOUBLE), {digits})"


def _centroid_table_from(
    centroids: DataFrame, id_col: str = "centroid_id", vec_col: str = "cvec"
) -> DataFrame:
    """Fold a (centroid_id, cvec) table into ONE row holding
    cents: array<struct<cid, cvec, cnorm>> in ascending-cid order.

    This row is the IVF index metadata; broadcast-crossJoined to the
    corpus it reaches every task as data (one BroadcastExchange)
    instead of being inlined into the codegen'd plan as literals.
    cnorm is precomputed once per centroid with the same left-assoc
    IEEE accumulation the scoring expressions use."""
    c = centroids.select(
        F.struct(
            F.col(id_col).cast("bigint").alias("cid"),
            F.col(vec_col).alias("cvec"),
            F.expr(P.norm_spark_sql(vec_col)).alias("cnorm"),
        ).alias("c")
    )
    # collect_list order is partition-arbitrary; sort_array restores the
    # ascending-cid iteration order the argmax tie-break contract needs
    # (struct comparison leads with cid)
    return c.groupBy().agg(F.sort_array(F.collect_list("c")).alias("cents"))


def ivf_schedule(
    vectors: DataFrame,
    n_centroids: int | None = None,
    n_probe: int | None = None,
) -> tuple[int, int]:
    """Resolve (n_centroids, n_probe) for an IVF build over ``vectors``:
    explicit values pass through; None means the corpus-scaled schedule
    (C = max(8, ceil(sqrt(n))), P = max(2, ceil(log2(C))) — one
    metadata-only count() job, a single long on the driver). A frozen
    (C, P) is a frozen pruning ratio — P/C of the corpus scanned per
    query at EVERY scale — which is why None is the default everywhere:
    the index should narrow as the corpus grows, exactly as the oracle
    twins compute via scalar subqueries (constants.IVF_CENTS_BOUND_SQL /
    IVF_PROBES_BOUND_SQL)."""
    if n_centroids is None:
        # the count is schedule metadata derived from the corpus plan —
        # memoized so a warm session doesn't re-run the count job per
        # execution (the gate still counts once per query: release_all
        # clears the memo with the caches)
        n = plan_memo(vectors, ("ann", "n_vectors"), vectors.count)
        n_centroids = ivf_n_centroids(n)
    if n_probe is None:
        n_probe = ivf_n_probe(n_centroids)
    return n_centroids, n_probe


def centroid_table(
    vectors: DataFrame,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deterministic centroid set (first n_centroids corpus
    vectors; None = corpus-scaled schedule) as a one-row broadcastable
    table — memoized + persisted per (corpus plan, schedule): it is THE
    index metadata (write_ivf_indexed stores exactly this row beside
    the layout), so a warm session builds it once instead of re-running
    the head-filter aggregate on every execution."""
    n_centroids, _ = ivf_schedule(vectors, n_centroids, 0)
    return plan_memo(
        vectors,
        ("ann", "cents", n_centroids, id_col, vec_col),
        lambda: tracked_persist(
            _centroid_table_from(
                vectors.filter(F.col(id_col) < n_centroids), id_col, vec_col
            )
        ),
    )


def _cell_over_cents_sql(
    vec_col: str, cents_col: str = "cents", digits: int = 6
) -> str:
    """Per-row nearest-centroid argmax over the broadcast cents column.

    Three nested bindings keep every quantity single-evaluation (HOF
    lambdas get no codegen CSE): the row's own norm binds once in an
    outer transform; a transform over the cents array scores each
    centroid ONCE (centroid norms ride in the struct); the final
    aggregate() folds an argmax over the scored array, iterating in
    ascending centroid-id order with strict > so ties keep the lowest
    id (the order the ranking-window formulation produced)."""
    cos = (
        f"round(CAST({P.cosine_spark_sql(vec_col, 'c.cvec', 'nv', 'c.cnorm')}"
        f" AS DOUBLE), {digits})"
    )
    scored = f"transform({cents_col}, c -> named_struct('cid', c.cid, 's', {cos}))"
    argmax = (
        f"aggregate({scored},"
        " named_struct('cell', CAST(-1 AS BIGINT), 'best', CAST(-2.0 AS DOUBLE)),"
        " (acc, e) -> CASE WHEN e.s > acc.best"
        " THEN named_struct('cell', e.cid, 'best', e.s)"
        " ELSE acc END,"
        " acc -> acc.cell)"
    )
    return f"transform(array({P.norm_spark_sql(vec_col)}), nv -> {argmax})[0]"


def _py_cosine(a, b) -> float:
    """Driver-side cosine with the engines' IEEE left-assoc
    accumulation + HALF_UP rounding — the MMR rerank's bounded driver
    greedy (operators/rerank.py) must tie-break identically to the
    in-plan expressions."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot = dot + float(x) * float(y)
        na = na + float(x) * float(x)
        nb = nb + float(y) * float(y)
    denom = math.sqrt(na) * math.sqrt(nb)
    return P.round_half_up(dot / denom if denom > 0.0 else 0.0)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cell): nearest-centroid assignment (max rounded cosine,
    centroid id breaking ties), computed per-row against the BROADCAST
    centroid set — the corpus side never shuffles. At scale this column
    is what the stored table is partitioned by (the IVF index build).
    keep_vec=True carries the vector through as ``v`` for consumers
    that score within cells (semantic dedup)."""
    return ivf_assign_tbl(
        vectors, _centroid_table_from(centroids), id_col, vec_col, keep_vec
    )


def ivf_assign_tbl(
    vectors: DataFrame,
    cent_tbl: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """ivf_assign against a prebuilt one-row cents table (e.g.
    centroid_table_lit over kmeans_centroids output) — the entry point
    for trained-centroid consumers that hold index metadata instead of
    a (centroid_id, cvec) relation.

    r13: (a) the row vector is pre-cast to array<double> in its own
    projection below the argmax, so the per-(row, centroid) lambda
    casts are SimplifyCasts'd away — the float->double cast is exact,
    every product is bit-identical, measured -20% on the assignment
    stage; (b) the (id, v, cell) assignment — the table
    write_ivf_indexed persists as the index — is memoized + persisted
    per (corpus plan, cents plan), so a warm session assigns once and
    every consumer (batch probe join, IVF-PQ cell filter, the layout
    write) reads the cached index instead of re-running the argmax."""
    assigned = plan_memo(
        (vectors, cent_tbl),
        ("ann", "assign", id_col, vec_col),
        lambda: tracked_persist(
            vectors.withColumn("__vd", F.col(vec_col).cast("array<double>"))
            .crossJoin(F.broadcast(cent_tbl))
            .selectExpr(
                f"{id_col} AS id",
                f"{vec_col} AS v",
                f"{_cell_over_cents_sql('__vd')} AS cell",
            )
        ),
    )
    return assigned if keep_vec else assigned.select("id", "cell")


def probe_cells_tbl(
    cent_tbl: DataFrame, qvec: list[float], n_probe: int
) -> list[int]:
    """The query's probe list: top-n_probe cells ranked IN-PLAN (the
    SAME _probe_over_cents_sql expression the batch path uses) over
    the broadcastable one-row cents table. Only the n_probe WINNING
    cell ids — a handful of ints, P = max(2, ceil(log2(C))) — cross to
    the driver, never the centroid vectors themselves (pre-r11 the
    cold path collected sqrt(n) full vectors, ~300 MB of driver heap
    per query at 1e10; r10 VERDICT "What's wrong" #2). The ids MUST
    become literals: a literal IN filter pushes below the scoring
    projection (score computed only for probed rows) and, on the
    partitioned layout, prunes cell directories before file I/O —
    an array_contains against a joined one-row probe table can do
    neither (measured ×1.14 at ×10 for the lost pushdown alone)."""
    row = cent_tbl.selectExpr(
        f"{_probe_over_cents_sql(_lit_vec(qvec), n_probe)} AS pc"
    ).first()
    return [int(c) for c in row["pc"]]


def _probe_from_cent_tbl(
    cent_tbl: DataFrame, n_centroids: int | None, n_probe: int | None
) -> int:
    """Schedule guard for pre-built-index callers (r11 ADVICE): when a
    cent_tbl is passed, the table OWNS the centroid set — an explicit
    n_centroids alongside it signals the caller thinks it controls a
    build that never happens (a prebuilt-table/requested-schedule
    mismatch), and an explicit n_probe above the table's cell count
    would silently probe every cell. Both raise instead of masking."""
    if n_centroids is not None:
        raise ValueError(
            "n_centroids cannot be combined with cent_tbl — the prebuilt "
            "table owns the centroid set; n_probe schedules from its "
            "own cell count"
        )
    n_cells = int(cent_tbl.selectExpr("size(cents) AS c").first()["c"])
    if n_probe is None:
        return ivf_n_probe(n_cells)
    if n_probe > n_cells:
        raise ValueError(
            f"n_probe={n_probe} exceeds the cent_tbl's {n_cells} cells"
        )
    return n_probe


def _ivf_search_tbl(
    searched: DataFrame,
    cent_tbl: DataFrame,
    qvec: list[float],
    n_probe: int,
    k: int,
    id_col: str,
    vec_col: str,
    payload_filtered: bool = False,
) -> DataFrame:
    """The shared IVF probe plan: rank probe cells in-plan over the
    one-row cents table (probe_cells_tbl — only P ints reach the
    driver), broadcast the same cents row for the per-row cell argmax,
    literal probe-cell IN filter (pushed below the projection, so the
    literal-query cosine is computed only for probed rows) ->
    TakeOrderedAndProject. One body for the seeded and trained paths
    so the probe/score/tie-break contract cannot drift between them;
    no centroid-sized driver transfer anywhere."""
    probe_cells = probe_cells_tbl(cent_tbl, qvec, n_probe)
    if payload_filtered:
        # fused one-pass shape: the payload predicate prunes the scan,
        # so the argmax runs only over surviving rows — a memoized
        # full-corpus assignment would throw that pruning away. The
        # row vector pre-casts to array<double> once per row so the
        # per-(row, centroid) lambda casts SimplifyCasts away
        # (bit-identical, r13 measured -20% on the argmax stage).
        cell = _cell_over_cents_sql("__vd")
        score = _cos_lit_sql("__vd", qvec)
        return (
            searched.withColumn("__vd", F.col(vec_col).cast("array<double>"))
            .crossJoin(F.broadcast(cent_tbl))
            .selectExpr(f"{id_col} AS id", f"{cell} AS cell", f"{score} AS score")
            .filter(F.col("cell").isin(probe_cells))
            .select("id", "score")
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(k)
        )
    # unfiltered: probe the memoized (id, v, cell) assignment — the
    # same in-memory index build the batch and IVF-PQ paths share, so
    # a warm session pays the argmax once across the whole family
    assigned = ivf_assign_tbl(searched, cent_tbl, id_col, vec_col, keep_vec=True)
    return (
        assigned.filter(F.col("cell").isin(probe_cells))
        .selectExpr("id", f"{_cos_lit_sql('v', qvec)} AS score")
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = K,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_filter=None,
    cent_tbl: DataFrame | None = None,
) -> DataFrame:
    """IVF search: probe the n_probe cells nearest the query, exact
    cosine top-k within them. Deterministic (centroids = the first
    n_centroids corpus vectors), hence oracle-checkable. None counts
    mean the corpus-scaled schedule (ivf_schedule) — sized from the
    UNFILTERED corpus, because the index is built once and payload
    predicates arrive per query.

    Plan shape: scan -> broadcast-crossJoin the one-row centroid table
    -> per-row cell argmax -> probe-membership filter -> literal-query
    cosine -> TakeOrderedAndProject. No corpus shuffle, no persist, no
    driver-side centroid collect: probe-cell ranking is an in-plan
    expression over the broadcast cents row (_ivf_search_tbl). The
    only values crossing to the driver are the query vector (O(dim))
    and the corpus count behind the schedule.

    cent_tbl (optional) is a PRE-BUILT one-row centroid-metadata table
    (centroid_table / centroid_table_lit output, or the table
    write_ivf_indexed persists): pass it to skip the index-build
    subtree entirely — the warm-index serving shape; n_probe then
    schedules from the table's own cell count.

    payload_filter (optional Column) is filtered-ANN: the predicate
    applies to the searched rows BEFORE scoring — Catalyst pushes it
    into the scan alongside the cell prune, so a selective payload
    predicate shrinks the scored set instead of post-filtering the
    top-k (the oversample-and-hope shape). Centroids still come from
    the UNFILTERED corpus: the index is built once, filters arrive per
    query."""
    if cent_tbl is None:
        n_centroids, n_probe = ivf_schedule(vectors, n_centroids, n_probe)
        # memoized + persisted per corpus plan since r13 (the earlier
        # unpersisted two-evaluation shape re-ran the head aggregate
        # per execution; with the memo a warm session builds it once)
        cent_tbl = centroid_table(vectors, n_centroids, id_col, vec_col)
    else:
        n_probe = _probe_from_cent_tbl(cent_tbl, n_centroids, n_probe)
    qvec = [float(x) for x in query.first()["qvec"]]
    searched = (
        vectors if payload_filter is None else vectors.filter(payload_filter)
    )
    return _ivf_search_tbl(
        searched,
        cent_tbl,
        qvec,
        n_probe,
        k,
        id_col,
        vec_col,
        payload_filtered=payload_filter is not None,
    )


def _probe_over_cents_sql(
    vec_col: str, n_probe: int, cents_col: str = "cents", digits: int = 6
) -> str:
    """Per-row top-n_probe centroid ids by (rounded cosine desc, cid
    asc) over the broadcast cents column — the query-side probe list as
    a pure map expression. Sorting array<struct(neg_score, cid)> uses
    struct field order, so one array_sort delivers the exact
    (score desc, id asc) ranking."""
    cos = (
        f"round(CAST({P.cosine_spark_sql(vec_col, 'c.cvec', 'nv', 'c.cnorm')}"
        f" AS DOUBLE), {digits})"
    )
    scored = (
        f"transform({cents_col}, c -> named_struct('ns', -{cos}, 'cid', c.cid))"
    )
    ranked = f"slice(transform(array_sort({scored}), s -> s.cid), 1, {n_probe})"
    return f"transform(array({P.norm_spark_sql(vec_col)}), nv -> {ranked})[0]"


def ivf_topk_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = K,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batched IVF search: every query probes its n_probe nearest
    cells; candidates = corpus rows whose cell matches a probed cell.

    Scale shape: the corpus side is MAP-ONLY (per-row cell argmax —
    at scale the stored table is partitioned by cell, making the probe
    join a partition-pruned scan); the query side computes its probe
    list per-row and explodes to (query_id, cell); the candidate join
    broadcasts the exploded query side, so the corpus never shuffles —
    only candidate rows (|probed cells| / |cells| of the corpus per
    query) reach the per-query top-k window. Contrast with the
    brute-force batch (score_pairs): ALL corpus rows are scored per
    query; here scoring cost scales with the probe fraction.
    """
    from .topk import topk_per_group

    n_centroids, n_probe = ivf_schedule(vectors, n_centroids, n_probe)
    cent_tbl = centroid_table(vectors, n_centroids, id_col, vec_col)
    # the memoized (id, v, cell) assignment index, shared with the
    # single-query path, IVF-PQ and the layout write (r13)
    corpus_cells = ivf_assign_tbl(vectors, cent_tbl, id_col, vec_col, keep_vec=True)
    probe = queries.crossJoin(F.broadcast(cent_tbl)).selectExpr(
        f"{query_id_col} AS query_id",
        f"{qvec_col} AS qvec",
        f"explode({_probe_over_cents_sql(qvec_col, n_probe)}) AS cell",
    )
    cand = corpus_cells.join(F.broadcast(probe), "cell")
    scored = cand.select(
        "query_id",
        F.col("id"),
        P.rounded(F.expr(P.cosine_spark_sql("v", "qvec"))).alias("score"),
    )
    return topk_per_group(scored, "query_id", k, id_col="id")


def write_ivf_indexed(
    vectors: DataFrame,
    path: str,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """IVF index BUILD as physical layout: persist the corpus
    partitioned by its nearest-centroid cell (assignment against the
    broadcast centroid table). At 100 TB this is the serving shape —
    each cell is a directory, so probing touches 1/n_cells of the
    files before any I/O (PartitionFilters), exactly how the
    reference's HNSW keeps its candidate set small
    (scripts/indexing.py:302-381), re-expressed as table layout.

    The centroid-metadata table (one cents row) persists NEXT TO the
    layout (ivf_cents_path) — it IS the index metadata a query needs to
    rank probe cells, so lookups read it back instead of re-deriving
    centroids from the corpus (or collecting them driver-side)."""
    cent_tbl = centroid_table(vectors, n_centroids, id_col, vec_col)
    assigned = ivf_assign_tbl(vectors, cent_tbl, id_col, vec_col, keep_vec=True)
    # repartition by cell before the partitioned write: without it
    # every input task writes a file into every cell directory it
    # touches — tasks x C files, a small-files explosion at C =
    # sqrt(n) (1e5 cells at 1e10 vectors). Clustered on the partition
    # column, each cell is written by exactly one task; the shuffle is
    # a one-time index-build cost that the lookup's directory prune
    # repays on every query. Partition count = C (r14): sized to the
    # cell count instead of spark.sql.shuffle.partitions, each write
    # task handles ~one cell's dynamic-partition writer instead of
    # juggling several — measured 0.86 -> 0.44 s on the write stage at
    # sf0.1, and at scale C tasks for C directories is the natural
    # width (derived from the corpus via the schedule, not a tuned
    # constant).
    n_cells, _ = ivf_schedule(vectors, n_centroids, 0)
    assigned.repartition(n_cells, F.col("cell")).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    # build-id stamp (r11 ADVICE): a rebuild interrupted between the
    # two writes would otherwise leave a cents table beside a layout
    # it did not produce — lookups would rank probe cells with
    # centroids that don't match the stored cell assignments, wrong
    # results with no error. Both artifacts carry the same build id
    # (layout: a meta file written after the data; cents: a column),
    # the LONG write lands first, and ivf_indexed_topk refuses a
    # mismatch — torn builds fail loudly instead of serving wrong
    # neighbors.
    _write_stamped_cents(vectors.sparkSession, path, cent_tbl)


def _write_stamped_cents(spark, path: str, cent_tbl: DataFrame) -> None:
    """The build-id stamp of a written layout: the meta (the build id,
    and the stamped cents table's DDL schema, so a lookup reads the
    table without a schema-inference job), then the stamped cents
    table last."""
    build_id = uuid.uuid4().hex
    stamped = cent_tbl.withColumn("build_id", F.lit(build_id))
    _layout_meta.write_json_meta(
        spark, path, IVF_BUILD_META,
        {"build_id": build_id, "schema": stamped._jdf.schema().toDDL()},
    )
    stamped.write.mode("overwrite").parquet(ivf_cents_path(path))


IVF_BUILD_META = "_IVF_BUILD.json"


def ivf_cents_path(path: str) -> str:
    """Where write_ivf_indexed persists the index's centroid metadata."""
    return path.rstrip("/") + "_cents"


def ivf_codebook_path(path: str) -> str:
    """Where write_ivfpq_indexed persists the index's PQ codebook."""
    return path.rstrip("/") + "_codebook"


def _read_indexed_cents(spark, path: str) -> DataFrame:
    """Read the centroid-metadata table write_ivf(pq)_indexed persisted
    beside the layout, refusing a torn build (r11 ADVICE): the cents
    table and the layout each carry the build id that produced them; a
    rebuild interrupted between the writes leaves them mismatched, and
    ranking probe cells with centroids that don't match the stored
    cell assignments is wrong-results-without-error territory.

    The unstamped-cents direction is torn too (r12 ADVICE): a layout
    whose _IVF_BUILD.json meta EXISTS was written by stamping code, so
    its cents table must carry build_id — finding one without it means
    a rebuild died between the layout+meta write and the cents write,
    leaving the NEW layout beside PRE-STAMP-ERA centroids. Only when
    BOTH artifacts predate the stamp (no meta, no column) is the pair
    known-consistent-by-age and allowed through unverified.

    A meta that stores the cents table's schema spares the read its
    schema-inference job; an unstamped table read under it shows a
    NULL build_id."""
    meta = _layout_meta.read_json_meta(spark, path, IVF_BUILD_META)
    reader = spark.read
    if meta is not None and "schema" in meta:
        reader = reader.schema(meta["schema"])
    cent_tbl = reader.parquet(ivf_cents_path(path))
    cents_bid = None
    if "build_id" in cent_tbl.columns:
        cents_bid = cent_tbl.select("build_id").first()["build_id"]
    if cents_bid is not None:
        if meta is None or meta.get("build_id") != cents_bid:
            raise ValueError(
                f"IVF index at {path} is torn: cents build_id "
                f"{cents_bid!r} does not match the layout's "
                f"{None if meta is None else meta.get('build_id')!r} "
                f"— rebuild it"
            )
    elif meta is not None:
        raise ValueError(
            f"IVF index at {path} is torn: the layout carries build_id "
            f"{meta.get('build_id')!r} but the cents table beside it "
            f"is unstamped (pre-stamp era) — a rebuild died between "
            f"the layout write and the cents write; rebuild it"
        )
    return cent_tbl.drop("build_id")


def ivf_indexed_topk(
    spark,
    path: str,
    query: DataFrame,
    cents: list[tuple[int, list]] | None = None,
    k: int = K,
    n_probe: int | None = None,
) -> DataFrame:
    """IVF search over the partitioned layout: probe cells are ranked
    by the same in-plan expression every other IVF path uses
    (_probe_over_cents_sql over the index's persisted centroid-metadata
    table — cents=None, the default, reads it from ivf_cents_path;
    a driver-held cents list is accepted for trained-index callers).
    Only the n_probe WINNING cell ids (a handful of ints, P =
    max(2, ceil(log2(C)))) reach the driver, because the cell predicate
    must be a literal IN list to prune partition directories before
    file I/O. Scoring + top-k touch only the probed cells' rows.
    n_probe=None schedules from the index's own cell count — no corpus
    count needed at query time."""
    if cents is not None:
        cent_tbl = centroid_table_lit(spark, cents)
    else:
        cent_tbl = _read_indexed_cents(spark, path)
    if n_probe is None:
        n = len(cents) if cents is not None else (
            cent_tbl.selectExpr("size(cents) AS c").first()["c"]
        )
        n_probe = ivf_n_probe(n)
    qvec = [float(x) for x in query.first()["qvec"]]
    probe_cells = probe_cells_tbl(cent_tbl, qvec, n_probe)
    score = _cos_lit_sql("v", qvec)
    return (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .selectExpr("id", f"{score} AS score")
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def ivf_indexed_topk_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = K,
    n_probe: int | None = None,
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batched IVF search over the persisted layout — the serving
    shape for QUERY BATCHES: each query's probe list ranks in-plan
    over the stored centroid-metadata table (torn-build verified) and
    explodes to (query_id, cell); the layout scan is pruned to the
    UNION of all probed cells as a literal IN PartitionFilter (the
    union is |queries| x n_probe ints — bounded driver metadata, the
    same budget as the single-query path times the batch size); the
    candidate join broadcasts the exploded query side so the corpus
    side never shuffles; one window ranks per query. Equals
    ivf_topk_batch row-for-row (the layout is semantically
    invisible) while scanning only probed cell directories."""
    from .topk import topk_per_group

    cent_tbl = _read_indexed_cents(spark, path)
    n_probe = _probe_from_cent_tbl(cent_tbl, None, n_probe)
    probe = queries.crossJoin(F.broadcast(cent_tbl)).selectExpr(
        f"{query_id_col} AS query_id",
        f"{qvec_col} AS qvec",
        f"explode({_probe_over_cents_sql(qvec_col, n_probe)}) AS cell",
    )
    probed_cells = [
        int(r["cell"]) for r in probe.select("cell").distinct().collect()
    ]
    cand = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probed_cells))
        .join(F.broadcast(probe), "cell")
    )
    scored = cand.select(
        "query_id",
        F.col("id"),
        P.rounded(F.expr(P.cosine_spark_sql("v", "qvec"))).alias("score"),
    )
    return topk_per_group(scored, "query_id", k, id_col="id")


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int | None = None,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[tuple[int, list[float]]]:
    """TRAINED IVF centroids: MLlib KMeans (k-means||) over the corpus —
    the real index-build step the first-N-vectors centroid set stands in
    for in oracle-checked queries (trained centroids are float-iteration
    artifacts, so the queries over them are rows-only + recall-tested,
    never golden-matched; SURVEY.md §7 hard-parts rule).

    Fit is distributed JVM MLlib (Lloyd iterations as DataFrame jobs
    under the hood); the returned centers are index METADATA — small by
    construction, and BOUNDED by TRAINED_CENTROID_CAP: clusterCenters()
    is inherently a driver-side transfer in MLlib, so the sqrt(n)
    schedule is capped where the metadata would stop being metadata
    (16384 x 384 doubles ~ 50 MB; uncapped, 1e10 vectors would put
    ~300 MB of centers on the driver per build). Past the cap the
    probe fraction P/C freezes — the accepted trade for a driver-held
    trained index; beyond it, persist the centers as a table and use
    the cent_tbl paths. Reference parity: this is the collection-build
    step (scripts/indexing.py:302-381) where HNSW construction becomes
    centroid training."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n_centroids, _ = ivf_schedule(vectors, n_centroids, 0)
    n_centroids = min(n_centroids, TRAINED_CENTROID_CAP)
    vec = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(
        k=n_centroids, seed=seed, maxIter=max_iter, initMode="k-means||"
    ).fit(vec)
    return [
        (cid, [float(x) for x in center])
        for cid, center in enumerate(model.clusterCenters())
    ]


def centroid_table_lit(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """The one-row cents: array<struct<cid, cvec, cnorm>> table from
    driver-held centroid metadata (e.g. kmeans_centroids output).

    The literal expression evaluates ONCE over a one-row relation and
    then rides a BroadcastExchange as data — unlike a per-row literal
    scoring expression, the codegen cost is O(1), not O(corpus). At
    production centroid counts the metadata would be persisted as a
    parquet table and read back (then _centroid_table_from applies);
    literals are the no-I/O path for index-build pipelines."""
    structs = ", ".join(
        f"named_struct('cid', CAST({int(cid)} AS BIGINT),"
        f" 'cvec', {_lit_vec(v)},"
        f" 'cnorm', CAST('{_py_norm(v)!r}' AS DOUBLE))"
        for cid, v in cents
    )
    return spark.range(1).selectExpr(f"array({structs}) AS cents")


def ivf_topk_trained(
    vectors: DataFrame,
    query: DataFrame,
    cents: list[tuple[int, list[float]]],
    k: int = K,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search against a TRAINED centroid set: same plan body as
    ivf_topk (_ivf_search_tbl — broadcast cents, in-plan probe ranking,
    per-row cell argmax, probe filter, literal-query cosine), but the
    cells come from index metadata (a driver-held list, bounded by
    kmeans_centroids' TRAINED_CENTROID_CAP) instead of the first-N
    corpus vectors. n_probe=None schedules from len(cents)."""
    if n_probe is None:
        n_probe = ivf_n_probe(len(cents))
    qvec = [float(x) for x in query.first()["qvec"]]
    cent_tbl = centroid_table_lit(vectors.sparkSession, cents)
    return _ivf_search_tbl(vectors, cent_tbl, qvec, n_probe, k, id_col, vec_col)


def mllib_lsh_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
):
    """I1 analogue: fit a BucketedRandomProjectionLSH model (the batch
    'index build'). Returns (model, vectorized_df). Seeded for
    reproducibility; recall is measured against the exact operator in
    tests — approximations are never golden-matched (SURVEY.md §7)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vec = vectors.select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(vec)
    return model, vec


# ---------------------------------------------------------------------------
# Product quantization (PQ): deterministic codebooks + ADC scan
# ---------------------------------------------------------------------------
# Codebooks are the subvectors of the first PQ_CODEWORDS corpus vectors
# (same fixed-seed convention as centroid_table); a trained build swaps
# in MLlib KMeans per subspace, the scan below unchanged.

from ..plans.constants import (  # noqa: E402
    PQ_CODEWORDS,
    PQ_OVERSAMPLE,
    PQ_SUBDIM,
    PQ_SUBSPACES,
)


def pq_codebook(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(s, j, cw): codeword j of subspace s = subvector s of one of the
    first PQ_CODEWORDS corpus vectors. j is the DENSE rank of the
    source vector's id, not the id itself — the ADC lookup table is
    indexed by position, so codeword ids must stay contiguous even
    when the corpus ids are sparse (the adversarial fixture). Tiny by
    construction (PQ_SUBSPACES x PQ_CODEWORDS rows) — always
    broadcast; the rank window runs over at most PQ_CODEWORDS rows.
    Memoized + persisted per corpus plan (r13): it is the PQ index's
    codebook — built once per session, not once per execution."""
    from pyspark.sql import Window

    def build():
        w = Window.orderBy(F.asc(id_col))
        subs = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))).alias("s")
        return tracked_persist(
            vectors.filter(F.col(id_col) < PQ_CODEWORDS)
            .select(F.col(id_col).alias(id_col), F.col(vec_col).alias("embedding"))
            .withColumn("j", F.row_number().over(w).cast("bigint") - 1)
            .select("j", "embedding", subs)
            .select(
                "j",
                "s",
                F.expr(
                    f"slice(embedding, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
                ).alias("cw"),
            )
        )

    return plan_memo(vectors, ("ann", "pq_codebook", id_col, vec_col), build)


def pq_codes(
    vectors: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes): the PQ index build. Each vector's subspace s
    codes as the L2-argmin codeword (rounded distance, codeword id
    breaking ties); codes collect into an s-ordered array — the
    PQ_SUBSPACES-byte stored representation. One broadcast join + two
    keyed aggregations on the id; the corpus never shuffles on
    anything wider than its own id. Memoized + persisted per
    (corpus, codebook) plan pair (r13): the codes table IS the PQ
    index (write_ivfpq_indexed stores exactly this column), so a warm
    session builds it once instead of re-running both aggregations on
    every execution."""

    def build():
        subs = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))).alias("s")
        xs = vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"), subs
        ).select(
            "vec_id",
            "s",
            F.expr(f"slice(embedding, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("xv"),
        )
        dist = P.rounded(
            F.expr(
                f"{P.dot_spark_sql('xv', 'xv')}"
                f" - {P.dot_spark_sql('xv', 'cw')} * 2"
                f" + {P.dot_spark_sql('cw', 'cw')}"
            )
        )
        dists = xs.join(F.broadcast(codebook), "s").select(
            "vec_id", "s", "j", dist.alias("dist")
        )
        codes_tall = (
            dists.groupBy("vec_id", "s")
            .agg(F.min(F.struct("dist", "j")).alias("m"))
            .select("vec_id", "s", F.col("m.j").alias("code"))
        )
        return tracked_persist(
            codes_tall.groupBy("vec_id").agg(
                F.expr(
                    "transform(sort_array(collect_list(struct(s, code))), e -> e.code)"
                ).alias("codes")
            )
        )

    return plan_memo(
        (vectors, codebook), ("ann", "pq_codes", id_col, vec_col), build
    )


def pq_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = K,
    oversample: int = PQ_OVERSAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ANN scan: asymmetric distance (ADC) ranks candidates from the
    codes alone — a per-query lookup table dot(q_sub, codeword) folds
    over each row's code array in-row — then exact cosine rescores the
    k*oversample survivors. The LUT is one broadcast row; the ADC scan
    reads PQ_SUBSPACES bytes per vector, which is the 100 TB win."""
    codebook = pq_codebook(vectors, id_col, vec_col)
    codes = pq_codes(vectors, codebook, id_col, vec_col)
    luts = _pq_luts(codebook, query)
    cand = _pq_adc_candidates(codes, luts, k * oversample)
    return _exact_rescore(cand, vectors, query, k, id_col, vec_col)


def _pq_luts(codebook: DataFrame, query: DataFrame) -> DataFrame:
    """One row: luts array<array<double>> (s-major, j-minor) of
    dot(query subvector s, codeword j) — the per-query ADC lookup
    table, built from PQ_SUBSPACES x PQ_CODEWORDS tiny rows and meant
    to be broadcast."""
    qsub = f"slice(qvec, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    lut_tall = codebook.crossJoin(F.broadcast(query)).select(
        "s", "j", P.rounded(F.expr(P.dot_spark_sql(qsub, "cw"))).alias("w")
    )
    return (
        lut_tall.groupBy("s")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(j, w))), e -> e.w)"
            ).alias("ws")
        )
        .groupBy()
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(s, ws))), e -> e.ws)"
            ).alias("luts")
        )
    )


def _pq_luts_batch(
    codebook: DataFrame,
    queries: DataFrame,
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Per-query ADC lookup tables for a QUERY BATCH: one
    (query_id, luts) row per query, same s-major/j-minor shape as
    _pq_luts, built from PQ_SUBSPACES x PQ_CODEWORDS x |queries| tiny
    rows and meant to be broadcast."""
    qsub = f"slice({qvec_col}, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    lut_tall = codebook.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col).alias("query_id"),
        "s",
        "j",
        P.rounded(F.expr(P.dot_spark_sql(qsub, "cw"))).alias("w"),
    )
    return (
        lut_tall.groupBy("query_id", "s")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(j, w))), e -> e.w)"
            ).alias("ws")
        )
        .groupBy("query_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(s, ws))), e -> e.ws)"
            ).alias("luts")
        )
    )


# the ADC score: each code's entry of the row's lookup table, folded
# left-assoc in subspace order
_ADC_SCORE_SQL = (
    "aggregate(zip_with(codes, luts, (c, l) -> element_at(l, cast(c AS INT) + 1)),"
    " 0.0D, (acc, x) -> acc + x)"
)


def _pq_adc_candidates(codes: DataFrame, luts: DataFrame, n: int) -> DataFrame:
    """Top-n (vec_id) by ADC score: fold the broadcast LUT over each
    row's code array — one in-row left-assoc fold, no vector math."""
    adc = codes.crossJoin(F.broadcast(luts)).select(
        "vec_id",
        P.rounded(F.expr(_ADC_SCORE_SQL)).alias("adc_score"),
    )
    return (
        adc.orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(n)
        .select("vec_id")
    )


def _exact_rescore(
    cand: DataFrame,
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    rescored = (
        cand.join(
            vectors.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
            ),
            "vec_id",
        )
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            P.rounded(F.expr(P.cosine_spark_sql("embedding", "qvec"))).alias("score"),
        )
    )
    return rescored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def ivfpq_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = K,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    oversample: int = PQ_OVERSAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_tbl: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the billion-scale composition — coarse cells prune the
    corpus to the probed fraction, PQ codes ADC-rank what's left, exact
    cosine rescores the oversampled survivors. Both structures are the
    deterministic fixed-seed builds, so the full three-stage funnel is
    oracle-checkable. As in ivf_topk, probe-cell ranking is an in-plan
    expression over the broadcast cents row — no driver-side centroid
    collect — and cent_tbl accepts a pre-built centroid-metadata table
    (the warm-index shape; n_probe then schedules from its cell count).

    The stored index is (vec_id, cell, codes): at 100 TB it's written
    partitioned by cell (write_ivf_indexed's layout + PQ_SUBSPACES
    bytes per vector), making the probe filter partition pruning and
    the ADC scan a read of codes only — full vectors load just for the
    k*oversample rescore rows."""
    if cent_tbl is None:
        n_centroids, n_probe = ivf_schedule(vectors, n_centroids, n_probe)
        # memoized + persisted per corpus plan, as in ivf_topk (r13)
        cent_tbl = centroid_table(vectors, n_centroids, id_col, vec_col)
    else:
        n_probe = _probe_from_cent_tbl(cent_tbl, n_centroids, n_probe)
    qvec = [float(x) for x in query.first()["qvec"]]
    probe_cells = probe_cells_tbl(cent_tbl, qvec, n_probe)
    cells = ivf_assign_tbl(vectors, cent_tbl, id_col, vec_col).withColumnRenamed(
        "id", "vec_id"
    )
    codebook = pq_codebook(vectors, id_col, vec_col)
    index = pq_codes(vectors, codebook, id_col, vec_col).join(cells, "vec_id")
    probed = index.filter(F.col("cell").isin(probe_cells)).select(
        "vec_id", "codes"
    )
    luts = _pq_luts(codebook, query)
    cand = _pq_adc_candidates(probed, luts, k * oversample)
    return _exact_rescore(cand, vectors, query, k, id_col, vec_col)


def write_ivfpq_indexed(
    vectors: DataFrame,
    path: str,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """IVF-PQ index BUILD as physical layout — the billion-scale
    serving shape the ivfpq_topk docstring promises: each row's
    (id, v, codes) persisted partitioned by its nearest-centroid cell,
    with the PQ codebook and the centroid-metadata table beside it.
    A lookup then (a) prunes cell DIRECTORIES via the literal probe
    predicate before any file I/O and (b) reads ONLY the codes column
    for the ADC scan — parquet column pruning keeps the full vectors
    on disk until the k*oversample rescore rows fetch them. Reference
    parity: this is the HNSW collection build
    (scripts/indexing.py:302-381) re-expressed as table layout +
    quantized payload.

    Write order = torn-build discipline (r11 ADVICE, same as
    write_ivf_indexed): the LONG layout write first, then the
    codebook, then the build-id meta, then the stamped cents table
    last — an interruption anywhere leaves a pair ivfpq_indexed_topk
    refuses instead of serving mismatched assignments."""
    cent_tbl = centroid_table(vectors, n_centroids, id_col, vec_col)
    codebook = pq_codebook(vectors, id_col, vec_col)
    # codes persist as array<tinyint>: codeword ids are < PQ_CODEWORDS
    # (= 16), and the serving claim is a PQ_SUBSPACES-BYTE stored
    # representation — bigint codes would spend 8 bytes per byte of
    # information in the at-rest index. The ADC fold's
    # cast(c AS INT) is unchanged; values are identical.
    codes = pq_codes(vectors, codebook, id_col, vec_col).withColumn(
        "codes", F.col("codes").cast("array<tinyint>")
    )
    # reuse the memoized/persisted (id, v, cell) assignment instead of
    # re-running the full-corpus argmax inline (r14, ADVICE): the
    # values are identical — ivf_assign_tbl computes the same
    # _cell_over_cents_sql argmax, with the __vd pre-cast applied
    # everywhere else — and write_ivf_indexed already builds this way
    assigned = (
        ivf_assign_tbl(vectors, cent_tbl, id_col, vec_col, keep_vec=True)
        .withColumnRenamed("id", "vec_id")
        .join(codes, "vec_id")
        .selectExpr("vec_id AS id", "v", "codes", "cell")
    )
    # clustered write: one task -> one file per cell, C write tasks
    # for C directories (write_ivf_indexed documents the sizing)
    n_cells, _ = ivf_schedule(vectors, n_centroids, 0)
    assigned.repartition(n_cells, F.col("cell")).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    codebook.write.mode("overwrite").parquet(ivf_codebook_path(path))
    _write_stamped_cents(vectors.sparkSession, path, cent_tbl)


def ivfpq_indexed_topk(
    spark,
    path: str,
    query: DataFrame,
    k: int = K,
    n_probe: int | None = None,
    oversample: int = PQ_OVERSAMPLE,
) -> DataFrame:
    """IVF-PQ search over the persisted layout: probe cells rank
    in-plan over the stored centroid-metadata table (torn-build
    verified), the literal cell IN predicate prunes partition
    directories before file I/O, the ADC scan folds the broadcast LUT
    over the probed cells' CODES column only (column pruning leaves
    the full vectors unread), and exact cosine rescores the
    k*oversample survivors from the same layout's vector column.
    n_probe=None schedules from the index's own cell count."""
    cent_tbl = _read_indexed_cents(spark, path)
    n_probe = _probe_from_cent_tbl(cent_tbl, None, n_probe)
    qvec = [float(x) for x in query.first()["qvec"]]
    probe_cells = probe_cells_tbl(cent_tbl, qvec, n_probe)
    table = spark.read.parquet(path)
    probed = table.filter(F.col("cell").isin(probe_cells))
    codebook = spark.read.parquet(ivf_codebook_path(path))
    luts = _pq_luts(codebook, query)
    cand = _pq_adc_candidates(
        probed.select(F.col("id").alias("vec_id"), "codes"),
        luts,
        k * oversample,
    )
    return _exact_rescore(
        cand, probed.select("id", "v"), query, k, id_col="id", vec_col="v"
    )


def ivfpq_indexed_topk_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = K,
    n_probe: int | None = None,
    oversample: int = PQ_OVERSAMPLE,
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batched IVF-PQ search over the persisted layout — the batch
    twin of ivfpq_indexed_topk, mirroring ivf_indexed_topk_batch's
    shape over the PQ payload: each query's probe list ranks in-plan
    over the stored centroid-metadata table (torn-build verified) and
    explodes to (query_id, cell); the layout scan prunes to the UNION
    of all probed cells as a literal IN PartitionFilter (|queries| x
    n_probe ints of driver metadata, nothing centroid-sized); the ADC
    scan joins the pruned CODES column against the broadcast
    (query_id, cell) pairs — each code row is scored only for the
    queries that probed its cell — folding one broadcast LUT row per
    query; per-query oversampled cut, then exact cosine rescore from
    the same layout's vector column. The corpus side never shuffles
    (probe pairs, LUTs, candidates, and queries all broadcast); the
    two layout scans are column-pruned to codes and to vectors
    respectively. Equals the in-memory composition row-for-row; the
    layout is semantically invisible."""
    from .topk import topk_per_group

    cent_tbl = _read_indexed_cents(spark, path)
    n_probe = _probe_from_cent_tbl(cent_tbl, None, n_probe)
    probe = queries.crossJoin(F.broadcast(cent_tbl)).selectExpr(
        f"{query_id_col} AS query_id",
        f"explode({_probe_over_cents_sql(qvec_col, n_probe)}) AS cell",
    )
    probed_cells = [
        int(r["cell"]) for r in probe.select("cell").distinct().collect()
    ]
    table = spark.read.parquet(path)
    probed = table.filter(F.col("cell").isin(probed_cells))
    codebook = spark.read.parquet(ivf_codebook_path(path))
    luts_q = _pq_luts_batch(codebook, queries, query_id_col, qvec_col)
    adc = (
        probed.select(F.col("id").alias("vec_id"), "codes", "cell")
        .join(F.broadcast(probe), "cell")
        .join(F.broadcast(luts_q), "query_id")
        .select(
            "query_id",
            "vec_id",
            P.rounded(F.expr(_ADC_SCORE_SQL)).alias("score"),
        )
    )
    cand = topk_per_group(adc, "query_id", k * oversample).select(
        "query_id", "vec_id"
    )
    rescored = (
        probed.select(F.col("id").alias("vec_id"), "v")
        .join(F.broadcast(cand), "vec_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(qvec_col).alias("qvec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            P.rounded(F.expr(P.cosine_spark_sql("v", "qvec"))).alias("score"),
        )
    )
    return topk_per_group(rescored, "query_id", k)


def pq_topk_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = K,
    oversample: int = PQ_OVERSAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batched PQ scan: one shared code table, one LUT row per query
    (built from the broadcast query batch), ADC scored corpus x queries
    with the same in-row fold, per-query oversampled cut, exact rescore
    of the surviving (query, candidate) pairs only. The corpus-side
    pattern matches the dense batch (broadcast queries, map-side
    scoring, per-query window) but each scored row folds over
    PQ_SUBSPACES bytes instead of the full vector."""
    from .topk import topk_per_group

    codebook = pq_codebook(vectors, id_col, vec_col)
    codes = pq_codes(vectors, codebook, id_col, vec_col)
    luts_q = _pq_luts_batch(codebook, queries, query_id_col, qvec_col)
    adc = codes.crossJoin(F.broadcast(luts_q)).select(
        "query_id",
        "vec_id",
        P.rounded(F.expr(_ADC_SCORE_SQL)).alias("score"),
    )
    cand = topk_per_group(adc, "query_id", k * oversample).select(
        "query_id", "vec_id"
    )
    rescored = (
        vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        .join(F.broadcast(cand), "vec_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(qvec_col).alias("qvec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            P.rounded(F.expr(P.cosine_spark_sql("embedding", "qvec"))).alias("score"),
        )
    )
    return topk_per_group(rescored, "query_id", k)


def pq_kmeans_codebook(
    spark,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """TRAINED PQ codebook: MLlib KMeans per subspace (the real Faiss
    build — each 8-dim subvector space gets its own PQ_CODEWORDS
    centers), returned in the same (s, j, cw) shape pq_codes consumes,
    so the trained build swaps in under the identical ADC scan.
    Trained centers are float-iteration artifacts: queries over them
    are rows-only + recall-tested, never golden-matched (same policy
    as kmeans_centroids)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    rows = []
    for s in range(PQ_SUBSPACES):
        sub = vectors.select(
            array_to_vector(
                F.expr(
                    f"CAST(slice({vec_col}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
                    " AS array<double>)"
                )
            ).alias("features")
        )
        model = KMeans(
            k=PQ_CODEWORDS, seed=seed + s, maxIter=max_iter,
            initMode="k-means||",
        ).fit(sub)
        for j, center in enumerate(model.clusterCenters()):
            rows.append((s, j, [float(x) for x in center]))
    return spark.createDataFrame(rows, "s int, j bigint, cw array<double>")


def pq_kmeans_topk(
    spark,
    vectors: DataFrame,
    query: DataFrame,
    k: int = K,
    oversample: int = PQ_OVERSAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search over the TRAINED codebook — identical scan plan to
    pq_topk (codes via broadcast-argmin, per-query LUT fold, exact
    rescore); only the codebook provenance differs."""
    codebook = pq_kmeans_codebook(spark, vectors, id_col, vec_col)
    codes = pq_codes(vectors, codebook, id_col, vec_col)
    luts = _pq_luts(codebook, query)
    cand = _pq_adc_candidates(codes, luts, k * oversample)
    return _exact_rescore(cand, vectors, query, k, id_col, vec_col)
