"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard.

These extend the reference's surface (it has none of them) with the
operations a 100 TB corpus pipeline needs; they are first-class
declared queries with DuckDB oracles (registry_dedup).

Scale shapes:
  exact      one shuffle on content_hash; map-side combine.
  minhash    tokens -> shingles -> (doc, perm) min-agg -> band-key
             join. The candidate join is on (band, band_key) — a
             high-selectivity key — so the shuffle moves signature
             rows (docs x bands), never documents. Verification
             (true Jaccard) runs only on candidate pairs.
  simhash    64-bit signatures, 4 bands of 16 bits; hamming<=3 pairs are GUARANTEED to
             share at least one unchanged band (pigeonhole), so the
             band equi-join is exact, not approximate, for that radius.
  jaccard    shingle-inverted-index join with rare-shingle blocking.

Portability: the hash everywhere is md5 (identical hex in Spark and
DuckDB); MinHash uses min-over-md5-strings as the permutation (the
lexicographic min of a uniform hash is a valid minwise sketch).
DuckDB's lambda index is 1-based, Spark's 0-based — all index math
normalizes to 1-based.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable as P
from ..functions.cache import tracked_persist
from ..plans.constants import (
    EXACT_SUBSTR_WINDOW,
    LSH_BUCKET_CAP,
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_PERMS,
    MINHASH_PRIME,
    RARE_SHINGLE_DF_CAP,
    SHINGLE_N,
    SIMHASH_BITS,
)


def cap_buckets(
    rows: DataFrame, keys: list[str], max_bucket: int, id_col: str = "id"
) -> DataFrame:
    """The A-SIDE of an occupancy-guarded bucket self-join. Buckets
    (groups of ``keys``) holding <= ``max_bucket`` rows pass whole, so
    the downstream ``a.join(b, keys).filter(id_a < id_b)`` emits all
    C(c,2) pairs; buckets OVER the cap keep only their min-``id_col``
    row — joined against the FULL b side they emit a linear STAR
    (representative, member) of c-1 candidates instead of C(c,2)
    quadratic ones, and instead of NOTHING (the pre-r10 behavior).

    Why a star beats dropping the bucket whole: identical-text
    mega-cliques are exact_dedup's job (pipeline order
    dedup_exact_then_near), but a >cap bucket of NEAR-identical,
    non-byte-identical docs — templated boilerplate with one varying
    field, a real 100 TB shape — is invisible to exact dedup, so
    dropping it silently was a recall hole no boundary measurement
    could see. Star candidates still pass the exact downstream verify
    (jaccard / hamming / cosine), so precision is untouched, and the
    whole group still collapses through connected components via its
    deterministic min-id representative. The oracle twins model the
    identical split (bsz/bmin window, a-side filter, full b side).

    One window over the bucket keys (the count and min share one
    frame); the window's hash partitioning is exactly the self-join's
    ClusteredDistribution, so the a side reuses this exchange. Use
    capped_bucket_stats for the observability aggregate."""
    w = Window.partitionBy(*keys)
    return (
        rows.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .withColumn("__bmin", F.min(id_col).over(w))
        .filter(
            (F.col("__bsz") <= max_bucket)
            | (F.col(id_col) == F.col("__bmin"))
        )
        .drop("__bsz", "__bmin")
    )


def capped_bucket_stats(
    rows: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """One-row observability aggregate for the occupancy guard
    (n_buckets_capped, max_bucket_size, n_rows_in_capped): how many
    band buckets exceeded the cap, the worst occupancy seen, and how
    many signature rows sit in capped buckets — the no-silent-caps
    diagnostic a 100 TB run logs next to its pair counts (if natural
    occupancy ever approaches the cap, recall loss becomes measurable
    here instead of invisible). Declared as the hash-oracled
    dedup_cap_stats query and printed by the dedup scale probe."""
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("bsz"))
    over = F.col("bsz") > max_bucket
    return sizes.agg(
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias(
            "n_buckets_capped"
        ),
        F.max("bsz").cast("bigint").alias("max_bucket_size"),
        F.sum(F.when(over, F.col("bsz")).otherwise(0)).cast("bigint").alias(
            "n_rows_in_capped"
        ),
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, canonical_id, is_duplicate): canonical = min id per
    sha256(text) group. One shuffle, keyed by the 32-byte binary
    digest (unhex of sha2's 64-char hex string: the same equality
    classes at half the key bytes per shuffled row); the digest is
    internal — the output columns are unchanged."""
    hashed = docs.select(
        F.col(id_col).alias("id"),
        F.unhex(F.sha2(F.col(text_col), 256)).alias("h"),
    )
    w = Window.partitionBy("h")
    return hashed.select(
        "id",
        F.min("id").over(w).alias("canonical_id"),
        (F.col("id") != F.min("id").over(w)).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """(id, shs): the distinct n-token shingle SET of each doc as an
    array column. Dedup happens per-row (array_distinct in the scan) —
    no corpus-wide distinct shuffle. Docs shorter than n tokens are
    dropped (same as the oracle)."""
    toks = docs.selectExpr(
        f"`{id_col}` AS id", f"{P.tokens_spark_sql(f'`{text_col}`')} AS toks"
    ).filter(F.size("toks") >= n)
    # the transform must be TOTAL despite the filter above: when this
    # feeds explode(), InferFiltersFromGenerate derives a non-empty
    # predicate CONTAINING this expression and pushes it into the scan
    # ahead of the size guard — on a doc shorter than n tokens the
    # unguarded sequence(1, size-n+1) DESCENDS through 0 and slice
    # throws START=0 (Spark's sequence(1, 0) is [1, 0], not empty)
    grams = (
        f"CASE WHEN size(toks) >= {n} THEN"
        f" transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> concat_ws('_', slice(toks, i, {n})))"
        f" ELSE array() END"
    )
    return toks.selectExpr("id", f"array_distinct({grams}) AS shs")


def md5_shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """(id, shs): each doc's distinct shingle set as ``array<bigint>``
    of 32-bit md5 folds — conv(substr(md5(shingle), 1, 8), 16, 10),
    which is EXACTLY the feature value minhash_signatures hashes every
    shingle string to anyway. Materializing that fold at extraction
    (instead of a string array the signature stage re-hashes) makes
    every downstream payload 8 bytes per shingle: the persisted set
    table shrinks ~4x, the signature stage loses its per-row md5 pass
    (2.7s vs 4.6s at x100), and the verification joins move longs —
    minhash end-to-end measured 45.9s -> 20.6-24.8s at the x100 probe
    (with jaccard_verify_arrays; identical output value hash).

    Distinctness is on the FOLD (both engines): two distinct shingle
    strings colliding in 32 bits count once — the oracle twin computes
    DISTINCT id, h the same way, so the engines agree bit-exactly even
    on collisions (within-doc collision odds ~5e-6; cross-doc
    intersections inherit the same fold on both sides). simhash keeps
    the string shingles — its 64-bit family needs md5 hex digits 1-16.
    """
    toks = docs.selectExpr(
        f"`{id_col}` AS id", f"{P.tokens_spark_sql(f'`{text_col}`')} AS toks"
    ).filter(F.size("toks") >= n)
    # CASE-total for the same InferFiltersFromGenerate reason as
    # shingle_arrays
    grams = (
        f"CASE WHEN size(toks) >= {n} THEN"
        f" transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> cast(conv(substring(md5(concat_ws('_', slice(toks, i, {n}))),"
        f" 1, 8), 16, 10) as bigint))"
        f" ELSE array() END"
    )
    return toks.selectExpr("id", f"array_distinct({grams}) AS shs")


def hashed_shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """(id, shs): each doc's distinct n-token shingle set as an
    ``array<bigint>`` of xxhash64 gram ids (functions.text.
    hashed_ngram_ids_expr). Same rows as shingle_arrays — docs shorter
    than n tokens drop — but every downstream sort/join/group-by runs
    on longs. Use ONLY where shingles are compared, never displayed or
    fed to the md5 signature families (see hashed_ngram_ids_expr)."""
    from ..functions import text as T

    g = T.hashed_ngram_ids_expr(f"`{text_col}`", n)
    return docs.select(
        F.col(id_col).alias("id"), F.array_distinct(g).alias("shs")
    ).filter(F.size("shs") > 0)


def hashed_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """(id, sh bigint): ``hashed_shingle_arrays`` exploded tall — the
    equality-only fast path."""
    return hashed_shingle_arrays(docs, id_col, text_col, n).select(
        "id", F.explode("shs").alias("sh")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    sharr: DataFrame, n_perms: int = MINHASH_PERMS
) -> DataFrame:
    """(id, m0..m{n-1}) from the (id, shs: array<bigint>) 32-bit-fold
    shingle table (md5_shingle_arrays): one column per permutation,
    computed entirely WITHIN the row.

    Each shingle was hashed ONCE at extraction (md5 folded to 32
    bits); permutation i is min over the row's hash array of
    (a_i*h + b_i) mod p — the per-set minimum of a uniform hash family
    is a valid minwise sketch. No shuffle at all: the signature table
    materializes in the scan stage, so the LSH pipeline's first
    exchange is the candidate join itself (vs the naive (id, perm)
    explode + two-level groupBy that shuffles |shingles| x n_perms md5
    strings — ~25x slower at sf0.1).

    Built as selectExpr strings (r14 expr-string pattern): one parsed
    call instead of n_perms Column builds (~50 ms of py4j per plan
    build); pinned sameSemantics-identical to the Column form by
    tests/test_expr_parity.py::test_minhash_signature_expr_parity."""
    mins = [
        f"array_min(transform(shs, h -> ({MINHASH_A[i]}L * h"
        f" + {MINHASH_B[i]}L) % {MINHASH_PRIME}L)) AS m{i}"
        for i in range(n_perms)
    ]
    return sharr.selectExpr("id", *mins)


def lsh_band_keys(
    sigs: DataFrame,
    n_bands: int = MINHASH_BANDS,
    n_perms: int = MINHASH_PERMS,
) -> DataFrame:
    """(id, band, band_key): md5 over each band's ordered minhashes,
    computed directly from the wide signature row (no second shuffle).

    Built as selectExpr strings (r14 expr-string pattern, ~130 ms of
    py4j per plan build saved); pinned sameSemantics-identical to the
    Column form by tests/test_expr_parity.py."""
    rows_per_band = n_perms // n_bands
    entries = []
    for band in range(n_bands):
        cols = ", ".join(
            f"CAST(m{band * rows_per_band + j} AS STRING)"
            for j in range(rows_per_band)
        )
        entries.append(
            f"named_struct('band', {band},"
            f" 'band_key', md5(concat_ws(',', {cols})))"
        )
    return sigs.selectExpr(
        "id", f"explode(array({', '.join(entries)})) AS bk"
    ).selectExpr("id", "bk.band", "bk.band_key")


def lsh_candidates(
    bands: DataFrame, max_bucket: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct (id_a, id_b) pairs sharing at least one band bucket.
    Buckets over ``max_bucket`` members contribute a linear star to
    their min-id representative instead of C(c,2) pairs (cap_buckets:
    a-side capped, b-side full) — identical-text mega-cliques belong
    to exact_dedup; near-identical ones still collapse via the star."""
    a_rows = cap_buckets(bands, ["band", "band_key"], max_bucket)
    a = a_rows.select(F.col("id").alias("id_a"), "band", "band_key")
    b = bands.select(F.col("id").alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# The exploded-join verification shape ((id, sh) tall table joined per
# candidate, then a groupBy count) was retired in r9: it shuffles the
# ENTIRE exploded shingle table twice to serve a linear candidate set.
# jaccard_verify_arrays below is the replacement — measured 15.4s ->
# ~3s at the x100 probe with a bit-identical output hash.


def jaccard_verify_arrays(candidates: DataFrame, sharr: DataFrame) -> DataFrame:
    """True shingle-set Jaccard per candidate pair, computed IN-ROW
    from the persisted (id, shs) set arrays: two key-joins fetch each
    pair's arrays, then n_inter = size(array_intersect(..)) — no
    shingle explode, no (id, sh) shuffle, no groupBy.

    vs the retired exploded shape (candidates joined to the (id, sh)
    tall table by id_a then (id_b, sh), then a groupBy count): that
    shuffles the ENTIRE exploded shingle table twice — ~35M skinny
    rows at the x100 probe just to serve ~600k candidate pairs. Here
    the shuffled payload is candidates x 2 arrays (~linear in
    candidates, arrays ~60 longs), and the intersection is a per-row
    hash-set pass. Measured at x100 on 8-byte shingle ids, same
    session, interleaved reps: exploded 7.5-10.7s vs arrays 2.7-3.2s,
    identical pair count AND value hash; minhash end-to-end 45.9s
    (string shingles + exploded verify) -> 20.6-24.8s (md5-fold ids +
    array verify). Values are identical by construction: arrays are
    array_distinct'ed, so size(array_intersect) IS the distinct
    shared-shingle count the exploded groupBy counted."""
    a = sharr.selectExpr("id AS id_a", "shs AS __sha")
    b = sharr.selectExpr("id AS id_b", "shs AS __shb")
    n_inter = "CAST(size(array_intersect(__sha, __shb)) AS BIGINT)"
    denom = (
        f"CAST(size(__sha) AS BIGINT) + CAST(size(__shb) AS BIGINT)"
        f" - {n_inter}"
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            f"round(CAST(CAST({n_inter} AS DOUBLE)"
            f" / CAST(({denom}) AS DOUBLE) AS DOUBLE), 6) AS jaccard",
        )
    )


def minhash_dedup_pairs(
    docs: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs with Jaccard >= threshold."""
    # the shingle-set table feeds signatures AND verification (x3);
    # persist = tokenize/shingle/hash the corpus once. 32-bit md5 folds,
    # not strings: the fold is the signature family's own feature value,
    # and longs shrink the persisted table + verification payloads ~4x
    sharr = tracked_persist(md5_shingle_arrays(docs, id_col, text_col))
    # the banded signature table IS the LSH index: both sides of the
    # candidate self-join read it; signatures are computed per-row in
    # the scan (no shuffle), so persisting bands just skips recompute
    # (at scale this table is what you'd write out, partitioned by
    # (band, band_key))
    bands = tracked_persist(lsh_band_keys(minhash_signatures(sharr)))
    cands = lsh_candidates(bands)
    verified = jaccard_verify_arrays(cands, sharr)
    return verified.filter(F.col("jaccard") >= threshold)


def minhash_incremental_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_bucket: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Incremental (ingest-time) MinHash-LSH near-dup: (batch_id,
    corpus_id, jaccard) for every incoming-batch doc whose true shingle
    Jaccard against an ALREADY-INDEXED corpus doc is >= threshold. No
    corpus-corpus candidate is ever generated — that work was done when
    the corpus was deduped; re-doing it on every ingest is the thing a
    100 TB pipeline cannot afford.

    Scale shape: the corpus band table is the persistent LSH index
    (built once, written partitioned by (band, band_key)); an arriving
    batch computes its own signatures — linear in the batch, per-row,
    no shuffle — and the small batch band table BROADCASTS into the
    index join, so the corpus side never shuffles at ingest and the
    per-ingest cost is O(|batch| + matched bucket rows), independent of
    corpus size. The occupancy guard applies to the CORPUS side (the
    side a boilerplate flood accumulates in): a batch doc landing in a
    >cap bucket matches that bucket's min-id representative instead of
    fanning out to every member — still a verified dup verdict, one
    pair instead of thousands.

    Verification fetches the pair's shingle-set arrays by key join
    (batch side broadcast again) and intersects in-row, exactly like
    jaccard_verify_arrays — at 100 TB the corpus (id, shs) table is the
    other half of the persisted index."""
    c_sharr = tracked_persist(md5_shingle_arrays(corpus, id_col, text_col))
    b_sharr = tracked_persist(md5_shingle_arrays(batch, id_col, text_col))
    c_bands = cap_buckets(
        lsh_band_keys(minhash_signatures(c_sharr)),
        ["band", "band_key"],
        max_bucket,
    )
    b_bands = lsh_band_keys(minhash_signatures(b_sharr))
    cands = (
        F.broadcast(b_bands.select(F.col("id").alias("batch_id"), "band", "band_key"))
        .join(c_bands.select(F.col("id").alias("corpus_id"), "band", "band_key"),
              ["band", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    b_side = b_sharr.select(F.col("id").alias("batch_id"), F.col("shs").alias("__sha"))
    c_side = c_sharr.select(F.col("id").alias("corpus_id"), F.col("shs").alias("__shb"))
    n_inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb"))).cast("bigint")
    denom = (
        F.size("__sha").cast("bigint") + F.size("__shb").cast("bigint") - n_inter
    )
    return (
        cands.join(F.broadcast(b_side), "batch_id")
        .join(c_side, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            P.rounded(n_inter.cast("double") / denom.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# exact-substring span dedup (suffix-array semantics via rolling windows)
# ---------------------------------------------------------------------------

def exact_substring_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = EXACT_SUBSTR_WINDOW,
    min_count: int = 2,
) -> DataFrame:
    """(id, span_start, span_end): maximal token spans (1-based,
    inclusive) covered by some >= ``window``-token substring that
    occurs >= ``min_count`` times in the corpus — the output shape of
    suffix-array exact-substring dedup (Lee et al. 2022), computed
    distributed: a repeated substring of length L >= W shares all its
    L-W+1 stride-1 W-token windows, so duplicated-window starts merged
    over overlapping covers ARE the >= W repeated spans.

    Scale shape: the window explode is linear in corpus tokens and the
    window id is hashed IN-ROW (xxhash64 over the joined tokens — the
    hashed_ngram_ids_expr trade: the oracle twin groups true window STRINGS,
    so the driver hash gate continuously re-proves 64-bit collision
    innocence); the duplicate-hash aggregate is a bucketed map-side
    count; the join-back moves only 8-byte keys; and the island merge
    shuffles ONLY marked starts by doc id. No stage is quadratic in
    anything — boilerplate floods make windows MORE duplicated, not
    candidate pairs more numerous (there are no pairs).
    """
    toks = docs.selectExpr(
        f"`{id_col}` AS id", f"{P.tokens_spark_sql(f'`{text_col}`')} AS toks"
    ).filter(F.size("toks") >= window)
    # CASE-total for the same InferFiltersFromGenerate reason as
    # shingle_arrays
    wins_expr = F.expr(
        f"CASE WHEN size(toks) >= {window} THEN"
        f" transform(sequence(1, size(toks) - {window - 1}),"
        f" i -> struct(i AS pos,"
        f" xxhash64(concat_ws('_', slice(toks, i, {window}))) AS h))"
        f" ELSE array() END"
    )
    wins = tracked_persist(
        toks.select("id", F.explode(wins_expr).alias("w")).select(
            "id", "w.pos", "w.h"
        )
    )
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    marked = wins.join(dup, "h").select("id", "pos")
    w_ord = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") > F.lag("pos").over(w_ord) + window, F.lit(1)
    ).otherwise(F.lit(0))
    isl = marked.withColumn("brk", brk).withColumn(
        "g",
        F.sum("brk").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("id", "g").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + F.lit(window - 1)).cast("bigint").alias("span_end"),
    ).select("id", "span_start", "span_end")


# ---------------------------------------------------------------------------
# n-gram Jaccard with rare-shingle blocking
# ---------------------------------------------------------------------------

def jaccard_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    df_cap: int = RARE_SHINGLE_DF_CAP,
) -> DataFrame:
    """Near-dup pairs by true n-gram-shingle Jaccard, blocked on RARE
    shingles: only shingles appearing in 2..df_cap documents generate
    candidates (the inverted-index probe). Deterministic — unlike LSH
    blocking there is no hash family; a pair is found iff it shares at
    least one rare shingle. At scale the posting lists are partitioned
    by shingle and the df cap bounds each rare posting at df_cap ids,
    so per-shingle pair expansion is at most C(df_cap, 2) — boilerplate
    text cannot explode candidate generation.

    Shingles here are xxhash64 gram ids, not strings: everything
    downstream (df count, rare filter, candidate expansion, jaccard
    verify) compares shingles for equality only, so the long-keyed
    pipeline is value-identical (hashed_ngram_ids_expr documents the
    collision bound) and the shuffles carry 8-byte keys.
    """
    sharr = tracked_persist(hashed_shingle_arrays(docs, id_col, text_col))
    sh = sharr.select("id", F.explode("shs").alias("sh"))
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("sh")
    )
    # candidate pairs expand IN-ROW from each rare shingle's posting
    # array (C(df,2) <= C(df_cap,2) structs per shingle) instead of the
    # posting self-join: same pair set (the x100 probe measured an
    # identical candidate hash at ~2x less wall, 8-12s -> 4-7s), one
    # narrow groupBy over the already-rare-blocked slice. Order
    # matters for memory: df is counted FIRST (map-side-combinable
    # count, no lists), and collect_list runs only over the blocked
    # slice, so no posting array ever exceeds df_cap elements — a
    # collect-then-filter formulation would buffer a boilerplate
    # shingle's full million-doc posting list on one reducer.
    blocked = sh.join(rare, "sh")
    posts = blocked.groupBy("sh").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids) - i - 1),"
        " y -> struct(x AS id_a, y AS id_b))))"
    )
    cands = (
        posts.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return jaccard_verify_arrays(cands, sharr).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash): 64-bit SimHash over distinct n-gram shingles.

    Shingles (not unigrams) are the features: on small-vocabulary
    corpora unigram token sets are near-identical across unrelated
    docs, collapsing the hash space; the n-gram space keeps unrelated
    docs far apart. Feature weight vector = bits of md5's first 16 hex
    digits (hi << 32 | lo — a single conv() of 16 hex digits overflows
    BIGINT); bit b is set when the summed +/-1 contributions are > 0
    — equivalently, when more than half the shingle hashes have bit b
    set (ones*2 > n).

    64 bits, not 32: the controlled-dup scale probe (SCALING_DEDUP.md)
    measured verified pair counts growing ~N^2 * 5489/2^32 at 32 bits —
    ~260k FALSE hamming<=3 pairs between unrelated docs at 600k docs,
    dwarfing the ~128k real ones. A fixed-width fingerprint has a
    quadratic random-collision floor of C(N,2) * sum(C(bits,0..3))/2^bits;
    at 64 bits that rate is ~2.4e-15/pair (zero false pairs up to
    ~10^9 docs), and the 4 bands widen from 8 to 16 bits, cutting
    banding candidates 256x per band at uniform fill.

    Computed entirely WITHIN the row from the shingle-set array: one
    pass over the hashes accumulates all 64 per-bit popcounts via
    zip_with, so the signature materializes in the scan stage with NO
    shuffle (vs the exploded shingle x bit cross-join + two groupBys,
    which shuffles |shingles| x 32 rows).

    Counts AND the bit-fold live in a single aggregate() whose finish
    lambda binds the count accumulator once. Splitting them into two
    Projects lets CollapseProject inline the count aggregate into each
    of the 64 bit terms — a silent O(bits^2 x shingles) blowup (13s vs
    0.4s at sf0.1).
    """
    sharr = shingle_arrays(docs, id_col, text_col)
    harr = F.expr(
        "transform(shs, s -> shiftleft(cast(conv(substring(md5(s), 1, 8),"
        " 16, 10) as bigint), 32)"
        " | cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint))"
    )
    sim = F.expr(
        f"aggregate(harr, array_repeat(0L, {bits}), "
        f"(acc, h) -> zip_with(acc, transform(sequence(0, {bits - 1}), "
        f"b -> shiftright(h, b) & 1), (a, c) -> a + c), "
        f"acc -> aggregate(sequence(0, {bits - 1}), 0L, "
        f"(s, b) -> s + IF(acc[b] * 2 > size(harr), shiftleft(1L, b), 0L)))"
    )
    return sharr.select("id", harr.alias("harr")).select(
        "id", sim.cast("bigint").alias("simhash")
    )


def simhash_bands(
    sims: DataFrame, bits: int = SIMHASH_BITS, n_bands: int = 4
) -> DataFrame:
    """(id, simhash, band, band_val): each signature exploded into its
    n_bands bit-slices — the banded index table both simhash_pairs and
    the dedup_cap_stats observability query read."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = sims.sparkSession.range(n_bands).select(
        F.col("id").cast("int").alias("band")
    )
    return sims.crossJoin(F.broadcast(bands)).select(
        "id",
        "simhash",
        "band",
        F.expr(f"shiftright(simhash, band * {band_bits}) & {mask}").alias(
            "band_val"
        ),
    )


def simhash_pairs(
    sims: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_bucket: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs within the hamming radius.

    Band join is exact for max_hamming < n_bands (pigeonhole: some
    band is untouched), so no recall loss at radius 3 with 4 bands —
    EXCEPT inside band buckets over ``max_bucket`` members, which emit
    a linear star to their min-id representative instead of C(c,2)
    pairs (cap_buckets): a >cap bucket at 16-bit band width is an
    identical-or-near-identical mega-clique — identical is exact_dedup's
    job (the declared pipeline order is dedup_exact_then_near), and
    near-identical still collapses via the star.

    The signature table is persisted before the self-join: the simhash
    column is an expensive aggregate() expression, and without a
    materialization boundary the optimizer's inferred isnotnull
    predicates (InferFiltersFromConstraints) push copies of it below
    BOTH join sides — measured 28x slower at sf0.1. Persisting is also
    the scale shape: sign once, band-join the signed table.
    """
    sims = tracked_persist(sims.select("id", "simhash"))
    exploded = simhash_bands(sims, bits, n_bands)
    a_rows = cap_buckets(exploded, ["band", "band_val"], max_bucket)
    a = a_rows.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sim_a"), "band", "band_val"
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sim_b"), "band", "band_val"
    )
    pairs = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.expr("CAST(bit_count(sim_a ^ sim_b) AS INTEGER)").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Connected components: dup pairs -> clusters -> canonical representative
# ---------------------------------------------------------------------------

def closed_edges(
    pairs: DataFrame, id_a: str, id_b: str, src: str, dst: str
) -> DataFrame:
    """(src, dst): both directions of every pair plus a self-loop on
    each endpoint — the closed-neighbourhood edge list
    min_label_components iterates over — generated in ONE pass over
    ``pairs`` (one inline Generate), so an expensive candidate join
    upstream (banded simhash, LSH buckets) is planned and executed
    once; a union of the two directions would reference the pairs
    subtree twice. Repeated rows (a pair listed twice, one self-loop
    per incident pair) are kept: consumers take minima over them or
    filter them."""
    a, b = F.col(id_a), F.col(id_b)

    def edge(s, d):
        return F.struct(s.alias(src), d.alias(dst))

    return pairs.select(
        F.inline(F.array(edge(a, b), edge(b, a), edge(a, a), edge(b, b)))
    )


# Pair lists up to this many rows are labelled on the driver; longer
# ones take the distributed min-label loop. Seconds to label 3-node
# chains from pre-checkpointed pairs and force the output (4 vCPU,
# local[4], best of 2; driver labels written back as 123L literals):
#
#   pairs     500   2,000  5,000  10,000  20,000  30,000  50,000
#   driver    0.56  0.57   0.74   0.76    0.97    1.34    2.10
#   min-label 1.33  1.32   1.11   0.80    0.88    0.84    1.38
#
# The loop's column is its best case, one iteration: every two more
# hops of component diameter add an iteration, and the driver's cost
# does not depend on the graph's shape. So the cap sits at the upper
# end of the shallow break-even.
CC_DRIVER_PAIRS = 20_000

# SQL literal suffix per id type, so driver-side labels re-enter the
# plan typed like the ids they label
_ID_LITERAL_SUFFIX = {"int": "", "bigint": "L"}


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(id, canonical_id) for every row of ``nodes``: cluster duplicate
    PAIRS into components and elect the min id as each component's
    canonical representative — the step a training pipeline runs after
    any pair-producing dedup (keep rows where id = canonical_id;
    singletons map to themselves).

    The pair list is materialized once (an eager localCheckpoint —
    ``pairs`` is usually an expensive candidate join), and at most
    CC_DRIVER_PAIRS + 1 of its rows are read back. A graph that fits
    is labelled on the driver by union-find with the min id as root:
    any shape, no iteration cap, and only the non-root labels re-enter
    the plan, as a local relation of typed literals left-joined onto
    ``nodes``. A larger graph (or ids neither INT nor BIGINT) runs
    min_label_components over the same checkpoint, which refuses
    rather than return partial labels when some node is more than
    2 * max_iters hops from its component min. Wherever the loop
    converges the two paths give the same labels: the min-label
    fixpoint is each component's min id."""
    pairs = pairs.select(id_a, id_b).localCheckpoint(eager=True)
    id_type = pairs.dtypes[0][1]
    suffix = _ID_LITERAL_SUFFIX.get(id_type)
    head = [] if suffix is None else pairs.limit(CC_DRIVER_PAIRS + 1).collect()
    if suffix is None or len(head) > CC_DRIVER_PAIRS:
        return min_label_components(pairs, nodes, id_a, id_b, max_iters)

    parent: dict = {}  # non-root id -> an id nearer its root

    def find(x):
        root = x
        while root in parent:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in head:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    moved = P.local_values(
        pairs.sparkSession,
        f"id {id_type}, canonical_id {id_type}",
        [f"{x}{suffix}, {find(x)}{suffix}" for x in list(parent)],
    )
    return (
        nodes.select("id")
        .join(moved, "id", "left")
        .select("id", F.coalesce("canonical_id", "id").alias("canonical_id"))
    )


def min_label_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(id, canonical_id): connected_components' distributed path.
    ``pairs`` must be materialized (a checkpoint): every propagation
    and the singleton split read it.

    Min-label propagation: each propagation every node takes the min
    label over its closed neighbourhood (itself and its neighbours);
    converged when no label changes. The first propagation, from the
    identity labels, is read directly off the edge list
    (groupBy(dst).min(src) — the self-loops put each node in its own
    neighbourhood). Each loop ITERATION then runs TWO more
    propagations per driver sync and checks the second for change, so
    with D the largest distance from a node to its component min
    (at most the component diameter) the loop takes ceil(D / 2)
    iterations, 1 + 2 * ceil(D / 2) propagations, and the refusal
    below fires when D > 2 * max_iters.

    Scale shape per propagation: one key-join (edges ⋈ labels on src)
    + one groupBy(dst) that takes the new label as the min and the
    node's previous label from its self-loop row — both
    map-side-combinable, each input referenced once; labels are
    localCheckpoint'ed each iteration so the plan stays one iteration
    deep (no exponential lineage), and the convergence probe is a
    single count per iteration. Only EDGE ENDPOINTS enter the loop — a
    node with no dup pair can never change its label, so the iterated
    table is the (typically tiny) duplicate-touched slice of the
    corpus; singletons are appended as their own canonical at the end.
    """
    edges = closed_edges(pairs, id_a, id_b, "src", "dst")
    singletons = (
        nodes.select("id")
        .join(edges.select(F.col("src").alias("id")), "id", "left_anti")
        .select("id", F.col("id").alias("canonical_id"))
    )
    labels = edges.groupBy(F.col("dst").alias("id")).agg(
        F.min("src").alias("canonical_id")
    )

    def _propagate(lbls: DataFrame) -> DataFrame:
        # one join + ONE keyed aggregation, reading `lbls` once: every
        # node's neighbourhood rows carry the candidate labels, and its
        # self-loop row (src = dst) carries its previous label
        return (
            edges.join(lbls.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.min("canonical_id").alias("canonical_id"),
                F.max(
                    F.when(F.col("src") == F.col("dst"), F.col("canonical_id"))
                ).alias("old"),
            )
        )

    for _ in range(max_iters):
        # TWO propagation steps per driver sync (r13): the sequential
        # cost of the loop at small per-round data is the action +
        # convergence-count barrier, not the shuffles — stepping twice
        # between barriers halves them. Convergence is detected on the
        # SECOND step alone, which is exact: if propagating `mid`
        # changed nothing, `mid` IS the fixpoint and the returned
        # labels equal it; min-label fixpoints are unique, so the
        # output is identical to the one-step loop's (at most one
        # redundant propagation of already-converged labels is paid).
        mid = _propagate(labels).select("id", "canonical_id")
        updated = (
            _propagate(mid)
            .select(
                "id",
                F.col("canonical_id").alias("new_canonical"),
                (F.col("canonical_id") < F.col("old")).alias("__changed"),
            )
            # lazy checkpoint: the convergence aggregate right below is
            # the cycle's ONE action — it materializes (and truncates)
            # the checkpoint as a side effect, instead of paying a
            # separate eager-checkpoint job per cycle
            .localCheckpoint(eager=False)
        )
        changed = updated.agg(F.sum(F.col("__changed").cast("int"))).first()[0]
        labels = updated.select(
            "id", F.col("new_canonical").alias("canonical_id")
        )
        if not changed:
            return labels.unionByName(singletons)
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations "
        f"({1 + 2 * max_iters} propagations — some node is more than "
        f"{2 * max_iters} hops from its component min); raise max_iters "
        "— returning partial labels would silently split components"
    )
