"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Includes the BASELINE.md comparison point: a 1000-query dense top-10
batch (amortized per-query time must beat 2x the reference's 40 ms
per-query claim => >= 12.5 q/s aggregate). That number is reported as
"dense_batch_1000" (seconds for the whole batch) plus derived
"qps_dense_batch_1000" at the top level.

Index-shaped persisted tables (BM25 postings, LSH bands, shingle sets)
deliberately stay cached across reps and queries — Spark's CacheManager
dedupes them by canonicalized plan, and a warm in-memory index is the
reference's serving shape (its collections are RAM-resident); clearing
the cache between reps would benchmark index REBUILD, not search.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from vector_search_application_spark import calibration as CAL
from vector_search_application_spark.session import get_spark
from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.operators import bm25, exact, fusion
from vector_search_application_spark.operators import topk as topk_ops
from vector_search_application_spark.plans import corpus
from vector_search_application_spark.plans.registry import REGISTRY

# Headline subset: one per operator family (full registry correctness is
# the driver's CORRECTNESS gate; bench measures the hot paths).
HEADLINE = [
    "dense_topk",            # V1 exact brute-force cosine top-k
    "dense_topk_batch",      # V1 batched (broadcast queries, one window)
    "bm25_topk",             # V2 sparse posting-join scorer
    "bm25_topk_batch",       # V2 batched (shared postings probe)
    "hybrid_rrf",            # V3+F1 dense+sparse RRF fusion
    "hybrid_rrf_batch",      # V3+F1 batched (per-query windows)
    "fusion_max_dedup",      # V4+F3 exact+vector max-score dedup
    "exact_cascade_primary", # Q1/F5 payload exact-match cascade
    "linear_fusion",         # F2 alpha fusion
    "ingest_products",       # S1/T1-T3 ingest transform stack
    "upsert_merge",          # M1 merge semantics
    "dedup_exact",           # exact dedup (hash groupBy)
    "dedup_minhash_lsh",     # MinHash+LSH near-dup
    "dedup_ngram_jaccard",   # rare-shingle-blocked true Jaccard
    "dedup_simhash",         # per-row SimHash + pigeonhole band join
    "dedup_components",      # pair clustering -> canonical (min id)
    "embedding_neardup",     # embedding-cosine near-dup self-join
    "ivf_topk",              # IVF-pruned ANN (scale path)
    "ivf_topk_batch",        # batched IVF (per-query cell pruning)
    "quantized_topk",        # I2 scalar-quantized rescoring
    "text_quality",          # text-analysis scoring
    "doc_fingerprint",       # rolling-hash fingerprint
    "embed_search_topk",     # E1+E3+V1 text->embed->topk pipeline
    "stream_events_window",  # streaming windowed rollup (AvailableNow)
    "event_sessionize",      # gap-based sessionization (one shuffle)
    "multimodal_byte_features",  # binary payload feature projection
    "dataset_split",         # hash-bucket train/val/test assignment
    "sequence_pack",         # running-sum packing into token budgets
    "text_pii_scrub",        # map-only detect+redact projection
    "vocab_topn",            # df vocabulary head (partial-agg + topN)
    "event_asof_join",       # backward as-of join (union + one window)
    "stream_sessionize",     # native session_window streaming state
    "text_repetition",       # Gopher repetition signals (map-only)
    "domain_mix_weights",    # per-source token shares + mix weights
    "training_manifest",     # full curation chain in one 2-shuffle plan
    "doc_chunk_windows",     # overlapping token-window passage split
    "boilerplate_ngrams",    # per-source frequent-shingle detection
    "semantic_dedup",        # SemDeDup cluster-blocked cosine verdicts
    "pq_topk",               # product-quantized ADC scan + exact rescore
    "chunk_embed_pool",      # chunk->doc pooled embedding (posting form)
    "epoch_shuffle",         # deterministic per-epoch training order
    "ivfpq_topk",            # IVF cells -> PQ ADC -> exact rescore funnel
    "source_data_card",      # per-source corpus release report
    "retrieval_manifest",    # quality->chunk->pool->LSH placement chain
    "mixture_sample",        # temperature rates executed as hash cuts
    "training_manifest_full",  # capstone chain incl. decontamination
    "bpe_train_merges",      # declarative BPE tokenizer training
    "lineitem_pricing_summary",  # §2.11 partial-agg over the largest table
    "top_customer_revenue",  # 600k x 150k key join + exact-integer top-N
    "revenue_by_nation",     # Q5-shape star join, fact rollup pre-dimension
    "order_priority_semijoin",  # Q4-shape EXISTS semi-join on the fact table
    "local_supplier_revenue",  # full Q5 incl. local-supplier residual
    "returned_item_report",  # Q10-shape top-N then dimension probe
]

N_BATCH_QUERIES = 1000
BATCH_K = 10


def _force(df) -> int:
    """Execute the plan fully via collect(): headline timings
    deliberately INCLUDE result serialization to the driver — the
    serving tier returns rows, so the bench does too. (The scale probe
    instead forces via a one-row xxhash64 aggregate because its outputs
    are corpus-sized; headline results here are top-k/report-sized.)"""
    rows = df.collect()
    return len(rows)


def bench_index_builds(spark, sf_dir: str) -> dict[str, float]:
    """Cold index-build cost — the number the warm-cache policy above
    deliberately excludes from query timings (an honest bench reports
    both). spark.catalog.clearCache() before each rep: CacheManager
    substitutes any cached plan subtree by canonicalized match, so
    without it a 'build' over the persisted postings is a cache read.
    Forcing via bit_xor(xxhash64(all cols)) computes every output column
    (count() would let Catalyst prune the expensive ones)."""
    from vector_search_application_spark.functions import cache as _cache
    from vector_search_application_spark.functions import embedder as E
    from vector_search_application_spark.operators import ann, bm25

    prods = corpus.products(spark, sf_dir)

    def pq_build():
        # release_all(): pq_codebook/pq_codes are plan-memoized (r13) —
        # without forgetting the memo the "build" would return the
        # already-persisted plans and time a cache read. This prices
        # the codebook+codes build the warm pq/ivfpq rows amortize
        # (r13 VERDICT "What's wrong" #2).
        _cache.release_all()
        vecs = corpus.vectors(spark, sf_dir)
        return ann.pq_codes(vecs, ann.pq_codebook(vecs))

    builds = {
        "bm25_index_build": lambda: bm25.build_postings(
            prods, id_col="id", text_col="sparse_text", persist=False
        ),
        "dense_index_build": lambda: E.embed_postings(prods, "id", "dense_text"),
        "pq_index_build": pq_build,
    }
    out: dict[str, float] = {}
    for name, builder in builds.items():
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            df = builder()
            # bit_xor, not sum: ANSI mode overflows on summed hashes
            probe = F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
            t0 = time.perf_counter()
            df.agg(probe.alias("h")).collect()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"  {name}: {out[name]}s", file=sys.stderr, flush=True)
    return out


def bench_ivf_serving(spark, sf_dir: str) -> dict[str, float]:
    """The IVF build/query split (r10 VERDICT task 2/3): ivf_topk in
    the headline loop is the COLD number — every execution re-derives
    the centroid table in-plan. A deployment writes the cell-
    partitioned layout + centroid metadata once (ivf_index_build) and
    each query pays only the probed-cell directory scans
    (ivf_index_lookup_warm) — partition pruning from a literal cell
    predicate, probe ranking in-plan over the persisted metadata
    table. Layout written under a temp dir, removed before return."""
    import shutil
    import tempfile

    from vector_search_application_spark.operators import ann
    from vector_search_application_spark.plans.constants import QUERY_VEC_ID

    out: dict[str, float] = {}
    root = tempfile.mkdtemp(prefix="bench_ivf_")
    try:
        path = os.path.join(root, "vectors")
        vecs = corpus.vectors(spark, sf_dir)
        t0 = time.perf_counter()
        ann.write_ivf_indexed(vecs, path)
        out["ivf_index_build"] = round(time.perf_counter() - t0, 3)
        q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = ann.ivf_indexed_topk(spark, path, q)
            df.agg(
                F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
            ).collect()
            best = min(best, time.perf_counter() - t0)
        out["ivf_index_lookup_warm"] = round(best, 3)
        # cold IVF-PQ layout build (r14, mirroring ivf_index_build):
        # release_all() first so the memoized cents/assignment/codebook
        # from the IVF build above don't hide the true build cost —
        # this row prices what the warm ivfpq/pq rows amortize
        from vector_search_application_spark.functions import cache as _cache

        _cache.release_all()
        pq_path = os.path.join(root, "vectors_pq")
        t0 = time.perf_counter()
        ann.write_ivfpq_indexed(vecs, pq_path)
        out["ivfpq_index_build"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for name, sec in out.items():
        print(f"  {name}: {sec}s", file=sys.stderr, flush=True)
    return out


def bench_dense_batch(spark, sf_dir: str) -> tuple[float, float]:
    """(best, median) for the 1000-query dense top-10 batch: corpus
    stays partitioned, the query set (small side) is broadcast, one
    window ranks per query. This is the amortized-throughput comparison
    vs BASELINE.md; timing loop shared with every other family
    (_time_batch), so the reps/assert policy cannot drift per family."""
    vecs = corpus.vectors(spark, sf_dir)
    queries = (
        vecs.orderBy("vec_id")
        .limit(N_BATCH_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    scored = topk_ops.score_pairs(
        vecs,
        queries,
        query_keep=["query_id"],
        corpus_partitions=spark.sparkContext.defaultParallelism,
    ).select("query_id", "vec_id", "score")
    result = topk_ops.topk_per_group(scored, "query_id", k=BATCH_K)
    return _time_batch(result, N_BATCH_QUERIES)


def _time_batch(result, n_queries: int, reps: int = 3) -> tuple[float, float]:
    """(best, median) wall seconds over reps for a batch plan.

    The row-count assert is a REAL floor, not `n >= 0`: every batch
    here is built so each of its n_queries queries matches at least one
    corpus row (top-k batches return k rows per query; the exact/fusion
    lookups are constructed FROM stored part numbers). An empty or
    near-empty result means the query construction drifted from the
    corpus (the lpad-truncation incident silently collapsed exact qps
    to the timing of an empty plan once) — that must fail the bench, not
    produce a fast vacuous number."""
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        n = result.count()
        secs.append(time.perf_counter() - t0)
        assert n >= n_queries, (
            f"batch returned {n} rows for {n_queries} queries — query "
            "construction no longer matches the corpus"
        )
    secs.sort()
    return secs[0], secs[len(secs) // 2]


def bench_batch_throughput(spark, sf_dir: str) -> tuple[dict, dict]:
    """Amortized per-query throughput for every headline search family.

    BASELINE.md declares batch q/s as THE comparison metric (its 3-15 ms
    BM25 / 15-50 ms hybrid / 1-5 ms exact / 10-30 ms fusion claims are
    steady-state service latencies); a single query at sf0.1 is
    dominated by ~0.3 s fixed Spark job cost, so single-query wall says
    nothing about throughput. Each batch here is ONE declarative plan —
    query tables broadcast, the corpus never shuffles per query, every
    per-query rank is a window keyed on query_id — so N queries amortize
    the job cost exactly the way a serving tier amortizes it across
    concurrent requests.
    """
    secs: dict[str, tuple[float, int]] = {}

    # --- BM25: short keyword queries (first 8 tokens of a doc) over the
    # documents postings — the corpus is probed once by the batch's
    # distinct-term broadcast, per-query fan-out via a second broadcast.
    n_bm25 = 500
    docs = corpus.docs(spark, sf_dir)
    bm25_queries = docs.filter(F.col("doc_id") < n_bm25).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(P.tokens(F.col("text")), 1, 8)).alias("qtext"),
    )
    postings = bm25.build_postings(docs, id_col="doc_id", text_col="text")
    bm25_res = topk_ops.topk_per_group(
        bm25.bm25_score_terms_batch(postings, bm25.query_terms_batch(bm25_queries)),
        "query_id",
        BATCH_K,
        id_col="id",
    )
    secs["bm25_batch"] = (bm25_res, n_bm25)

    # --- Hybrid RRF: dense brute-force branch + sparse postings branch,
    # one RRF fusion window per query id.
    n_hybrid = 200
    vecs = corpus.vectors(spark, sf_dir)
    hq = vecs.filter(F.col("vec_id") < n_hybrid).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    dense_top = topk_ops.topk_per_group(
        topk_ops.score_pairs(vecs, hq, query_keep=["query_id"]).select(
            "query_id", F.col("vec_id").alias("id"), "score"
        ),
        "query_id",
        BATCH_K,
        id_col="id",
    )
    sparse_top = topk_ops.topk_per_group(
        bm25.bm25_score_terms_batch(
            postings,
            bm25.query_terms_batch(
                docs.filter(F.col("doc_id") < n_hybrid).select(
                    F.col("doc_id").alias("query_id"),
                    F.concat_ws(" ", F.slice(P.tokens(F.col("text")), 1, 8)).alias(
                        "qtext"
                    ),
                )
            ),
        ),
        "query_id",
        BATCH_K,
        id_col="id",
    )
    hybrid_res = fusion.rrf_fuse_batch(
        {"dense": dense_top, "sparse": sparse_top}, BATCH_K, id_col="id"
    )
    secs["hybrid_batch"] = (hybrid_res, n_hybrid)

    # --- Exact cascade: part-number lookups built IN the plan (no
    # driver-side literals) — primary field at 1.0, anti-join-gated
    # secondary at 0.9, per-query limit window.
    n_exact = 1000
    prods = corpus.products(spark, sf_dir)
    part = corpus._read(spark, sf_dir, "part")
    exact_queries = part.filter(F.col("p_partkey") < n_exact).select(
        F.col("p_partkey").alias("query_id"),
        # the SHARED construction (corpus.part_number) — a hand-copied
        # twin here once drifted (raw lpad truncation) and silently
        # collapsed exact/fusion qps to the timing of an empty plan
        corpus.part_number().alias("q"),
    )
    exact_res = exact.exact_cascade_batch(
        prods, exact_queries, "partNumber_airgas_text", "manufacturerPartNumber_text"
    )
    secs["exact_batch"] = (exact_res, n_exact)

    # --- Fusion (exact + ranked branch, max-score dedup): the full
    # reference fusion search per part-number query.
    n_fusion = 200
    fusion_qs = exact_queries.filter(F.col("query_id") < n_fusion)
    exact_br = exact.exact_cascade_batch(
        prods, fusion_qs, "partNumber_airgas_text", "manufacturerPartNumber_text"
    ).select("query_id", "id", "score", F.lit("exact").alias("search_type"))
    prod_postings = bm25.build_postings(prods, id_col="id", text_col="sparse_text")
    fusion_qterms = part.filter(F.col("p_partkey") < n_fusion).select(
        F.col("p_partkey").alias("query_id"),
        F.explode(F.array_distinct(P.tokens(F.col("p_name")))).alias("term"),
    )
    ranked_br = topk_ops.topk_per_group(
        bm25.bm25_score_terms_batch(prod_postings, fusion_qterms),
        "query_id",
        BATCH_K,
        id_col="id",
    ).select("query_id", "id", "score", F.lit("vector").alias("search_type"))
    fusion_res = fusion.max_dedup_fuse_batch(exact_br, ranked_br, BATCH_K, "id")
    secs["fusion_batch"] = (fusion_res, n_fusion)

    timings: dict[str, float] = {}
    qps: dict[str, float] = {}
    for name, (result, n_queries) in secs.items():
        best, med = _time_batch(result, n_queries)
        timings[f"{name}_{n_queries}"] = round(best, 3)
        timings[f"{name}_{n_queries}_median"] = round(med, 3)
        qps[f"qps_{name}_{n_queries}"] = round(n_queries / best, 1) if best > 0 else 0.0
        print(
            f"  {name}_{n_queries}: {best:.3f}s best / {med:.3f}s median "
            f"-> {qps[f'qps_{name}_{n_queries}']} q/s",
            file=sys.stderr,
            flush=True,
        )
    return timings, qps


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", "") or "0.1")
    except ValueError:
        sf = None  # probe-built or custom dir; record the path instead
    spark = get_spark("bench")

    # Warm the JVM (JIT, classloading, codegen compiler, shuffle/AQE/
    # broadcast machinery) on synthetic data so the timed queries measure
    # steady-state execution, not first-touch warmup — the BASELINE
    # numbers we compare against are steady-state service latencies.
    a = spark.range(100_000).select(
        F.col("id"), (F.col("id") % 97).alias("k"), F.rand(1).alias("x")
    )
    b = spark.range(97).select(F.col("id").alias("k"), F.rand(2).alias("w"))
    from pyspark.sql import Window
    warm = (
        a.join(F.broadcast(b), "k")
        .groupBy("k")
        .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
        .withColumn("r", F.row_number().over(Window.partitionBy(F.col("k") % 7).orderBy(F.desc("s"))))
        .orderBy(F.desc("s"))
        .limit(10)
    )
    warm.collect()
    a.join(b, "k").groupBy("k").count().collect()  # sort-merge/shuffle path

    # Second warmup tier: run each headline plan once at the smallest SF.
    # Expression trees are identical across SFs, so this JIT-compiles the
    # exact generated code the timed plans use (codegen cache hits) for a
    # fraction of the timed data volume.
    # KeyError on a renamed/removed registry entry, never a silent
    # skip: a HEADLINE name that stops resolving would otherwise just
    # shrink the cross-round total and read as a speedup
    by_name = {d.name: d.spark for d in REGISTRY}
    missing = [n for n in HEADLINE if n not in by_name]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in HEADLINE:
            try:
                _force(by_name[name](spark, warm_dir))
            except Exception:
                pass  # warmup must never fail the bench

    # Calibration bracket (see calibration.py): a fixed pure-compute
    # query timed at the start and end of the timed section makes every
    # bench run carry its own machine-speed measurement — this box has
    # multi-minute 5-6x slow windows, so cross-round comparisons use the
    # normalized numbers, and a large start-vs-end spread flags a window
    # that opened mid-run.
    # (calibration_secs runs its own untimed warmup rep per session)
    cal_start = CAL.calibration_secs(spark, reps=5)
    print(f"  calibration(start): {cal_start}", file=sys.stderr, flush=True)

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in HEADLINE:
        fn = by_name[name]
        # Best-of-3 with median: the first execution of a plan in a
        # session pays one-time costs (AQE replan compilation,
        # broadcast/persist setup) that the sf0.001 warmup tier cannot
        # fully absorb; the BASELINE.md numbers we compare against are
        # steady-state service latencies, so best is the honest
        # steady-state measurement and best-vs-median is the spread
        # that separates contention noise from a real regression.
        secs = []
        for _ in range(3):
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            secs.append(time.perf_counter() - t0)
        secs.sort()
        timings[name] = round(secs[0], 3)
        medians[name] = round(secs[1], 3)
        print(
            f"  {name}: {timings[name]}s (median {medians[name]}s)",
            file=sys.stderr,
            flush=True,
        )

    batch_sec, batch_med = bench_dense_batch(spark, sf_dir)
    timings["dense_batch_1000"] = round(batch_sec, 3)
    timings["dense_batch_1000_median"] = round(batch_med, 3)
    qps = N_BATCH_QUERIES / batch_sec if batch_sec > 0 else float("inf")

    batch_timings, batch_qps = bench_batch_throughput(spark, sf_dir)
    timings.update(batch_timings)

    # BASELINE.md gate: amortized per-query time within 2x the reference's
    # WORST-case claimed latency per family (gate q/s = 1 / (2 * worst)).
    worst_ms = {"dense": 40.0, "bm25": 15.0, "hybrid": 50.0, "exact": 5.0,
                "fusion": 30.0}
    fam_qps = {
        "dense": qps,
        "bm25": batch_qps.get("qps_bm25_batch_500", 0.0),
        "hybrid": batch_qps.get("qps_hybrid_batch_200", 0.0),
        "exact": batch_qps.get("qps_exact_batch_1000", 0.0),
        "fusion": batch_qps.get("qps_fusion_batch_200", 0.0),
    }
    # raw pass computed here; after the end calibration lands, each gate
    # also gets pass_normalized, and "pass" becomes raw OR normalized —
    # a run caught entirely inside one of this box's uniform 5-6x slow
    # windows (start/end spread ~1, so degraded_window stays False)
    # would otherwise fail every family and read as a real regression
    # when the calibration-normalized qps shows the plans are fine.
    gates = {
        fam: {
            "qps": round(fam_qps[fam], 1),
            "gate_qps": round(1000.0 / (2.0 * worst_ms[fam]), 1),
            "pass_raw": fam_qps[fam] >= 1000.0 / (2.0 * worst_ms[fam]),
        }
        for fam in worst_ms
    }

    # index builds LAST: each rep clears the whole plan cache, which
    # would otherwise re-cold the persisted indexes mid-bench
    timings.update(bench_index_builds(spark, sf_dir))
    # IVF build/serving split (adds two keys r11+: cross-round totals
    # gain ~the build wall once — noted in the README ledger)
    timings.update(bench_ivf_serving(spark, sf_dir))

    cal_end = CAL.calibration_secs(spark, reps=5)
    print(f"  calibration(end): {cal_end}", file=sys.stderr, flush=True)
    cal_all = cal_start + cal_end
    cal_med = CAL.median(cal_all)
    cal_ratio = round(cal_med / CAL.CALIBRATION_REF_SEC, 3)
    calibration = {
        "start_secs": cal_start,
        "end_secs": cal_end,
        "median": round(cal_med, 4),
        "iqr": CAL.iqr(cal_all),
        "ref_sec": CAL.CALIBRATION_REF_SEC,
        # >1 = machine slower than the pinned healthy-window nominal;
        # multiply raw qps by this to get the cross-round-comparable number
        "ratio_vs_ref": cal_ratio,
        "start_end_spread": round(
            max(CAL.median(cal_start), CAL.median(cal_end))
            / max(min(CAL.median(cal_start), CAL.median(cal_end)), 1e-9),
            3,
        ),
    }
    qps_normalized = {
        f"{k}_normalized": round(v["qps"] * cal_ratio, 1) for k, v in gates.items()
    }
    for fam, g in gates.items():
        g["pass_normalized"] = g["qps"] * cal_ratio >= g["gate_qps"]
        g["pass"] = g["pass_raw"] or g["pass_normalized"]
    if cal_ratio > 2.0:
        print(
            f"WARNING: calibration ratio_vs_ref {cal_ratio} > 2 — the whole "
            "run sat in a slow machine window; raw qps and gate pass_raw "
            "understate the plans, read pass_normalized/qps_normalized.",
            file=sys.stderr,
            flush=True,
        )
    # Window-health gate (r7 VERDICT task 7): this box has multi-minute
    # windows where identical plans run 5-6x slower. A start-vs-end
    # calibration spread past 1.5 means the machine's speed CHANGED
    # mid-bench — per-query medians then mix two regimes and the
    # normalized numbers overstate interpreted-HOF costs. Flag in the
    # payload + stderr (the driver records stdout; a refusing bench
    # would leave the round with no numbers at all) so the reader and
    # any interactive run know to rerun rather than publish.
    calibration["degraded_window"] = calibration["start_end_spread"] > 1.5
    if calibration["degraded_window"]:
        print(
            "WARNING: calibration start/end spread "
            f"{calibration['start_end_spread']} > 1.5 — the machine's "
            "speed changed mid-bench; rerun rather than publish these "
            "numbers (SCALING.md header documents the slow-window "
            "pathology).",
            file=sys.stderr,
            flush=True,
        )

    # best-of timings only: the *_median keys are a second statistic of
    # the SAME measurements — summing both made the cross-round total
    # move with contention spread even when no plan got slower
    total = round(
        sum(v for k, v in timings.items() if not k.endswith("_median")), 3
    )
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "sf": sf,
        "sf_dir": sf_dir,
        "qps_dense_batch_1000": round(qps, 1),
        **batch_qps,
        "baseline_gates": gates,
        "calibration": calibration,
        "qps_normalized": qps_normalized,
    }
    print(json.dumps(payload))
    # the driver records only a truncated tail of stdout, which loses
    # the per-query dict; keep the full result in-repo so future rounds
    # can diff per-query timings against this run
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass  # bench output on stdout is the contract; the copy is best-effort
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
