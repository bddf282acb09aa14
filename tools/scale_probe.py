"""Scale probe: replicate the sf0.1 corpus K times (shifted keys,
perturbed payloads) into a synthetic sf_dir and time the headline plans
against it — measured evidence that the plan shapes hold as data grows,
not just the argument in PLANS.md.

The probe corpus derives from the driver testdata (never replaces it):
each replica shifts every key space so joins/groupings see genuinely
distinct entities, text gets a replica prefix, and each embedding's
first component is nudged per replica so scores are not K-fold ties.
Dedup-family queries are deliberately excluded: replicating a corpus
K times manufactures K-sized duplicate cliques, which benchmarks the
adversarial quadratic case, not scaling.

Usage:
    python tools/scale_probe.py [K ...]     # default: 10 100
Writes SCALING.md and prints one JSON line per K.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PROBE_QUERIES = [
    "dense_topk",
    "dense_topk_batch",
    "bm25_topk",
    "hybrid_rrf",
    "ivf_topk_batch",
    "event_sessionize",
    "event_funnel",
    "dataset_split",
    "sequence_pack",
    "vocab_topn",
    "quality_filter_funnel",
    "text_pii_scrub",
    "event_asof_join",
    "event_sliding_avg",
    "text_repetition",
    "domain_mix_weights",
    "source_length_quantiles",
    "token_accounting_rollup",
    "doc_chunk_windows",
    "boilerplate_ngrams",
    "temperature_mixture",
    "pq_topk",
    "chunk_embed_pool",
    "epoch_shuffle",
    "source_data_card",
    "retrieval_manifest",
    "mixture_sample",
    "training_manifest_full",
    "bpe_train_merges",
    "bm25_topk_batch",
    "hybrid_rrf_batch",
    "exact_cascade_batch",
    "fusion_max_dedup_batch",
    "lineitem_pricing_summary",
    "top_customer_revenue",
    "revenue_by_nation",
    "order_priority_semijoin",
    "local_supplier_revenue",
    "returned_item_report",
]


# bump whenever build_scaled_dir's output changes shape — reuse via
# SPARK_GRAFT_PROBE_DIR_X{k} refuses a dir built by a different version
# (v2: customer replicates with the orders custkey shift; a v1 dir's
# copied customer table dangles every non-zero replica's o_custkey)
BUILDER_VERSION = 2


def build_scaled_dir(spark, out_dir: str, k: int) -> None:
    from pyspark.sql import functions as F

    n_out = spark.sparkContext.defaultParallelism

    def rep(df, n):
        """Union n shifted replicas: replica id rides along for shifts.
        Repartitioned so the written table has one file per core — the
        sf0.1 source is a single file, and a single-file scan would
        serialize every probe on one task (a 100 TB table is thousands
        of splits; the probe should be too)."""
        reps = spark.range(n).select(F.col("id").alias("__rep"))
        return df.crossJoin(F.broadcast(reps)).repartition(n_out)

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_emb = emb.count()
    scaled_emb = rep(emb, k).select(
        (F.col("vec_id") + F.col("__rep") * n_emb).alias("vec_id"),
        # nudge one component so replicas are not exact score ties
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0"
            " THEN cast(x + __rep * 0.001 AS float) ELSE x END)"
        ).alias("embedding"),
        "label",
    )
    scaled_emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n_docs = docs.count()
    rep(docs, k).select(
        (F.col("doc_id") + F.col("__rep") * n_docs).alias("doc_id"),
        F.concat(F.lit("r"), F.col("__rep"), F.lit(" "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    part = spark.read.parquet(f"{BASE}/part.parquet")
    n_part = part.count()
    rep(part, k).select(
        (F.col("p_partkey") + F.col("__rep") * n_part).alias("p_partkey"),
        *[c for c in part.columns if c != "p_partkey"],
    ).write.mode("overwrite").parquet(f"{out_dir}/part.parquet")

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_ev = ev.count()
    n_users = ev.agg(F.max("user_id")).first()[0] + 1
    rep(ev, k).select(
        (F.col("event_id") + F.col("__rep") * n_ev).alias("event_id"),
        F.col("ts"),
        (F.col("user_id") + F.col("__rep") * n_users).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    n_ord = spark.read.parquet(f"{BASE}/orders.parquet").count()
    rep(li, k).select(
        (F.col("l_orderkey") + F.col("__rep") * n_ord).alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    ).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    n_cust = spark.read.parquet(f"{BASE}/customer.parquet").count()
    rep(orders, k).select(
        (F.col("o_orderkey") + F.col("__rep") * n_ord).alias("o_orderkey"),
        (F.col("o_custkey") + F.col("__rep") * n_cust).alias("o_custkey"),
        *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey")],
    ).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    # customer replicates with the SAME custkey shift orders got —
    # copied-as-is it would dangle every non-zero replica's o_custkey
    # and the customer-joining TPC-H probes would silently shrink to
    # replica 0. Nation keys stay unshifted (dimension, not entity).
    cust = spark.read.parquet(f"{BASE}/customer.parquet")
    rep(cust, k).select(
        (F.col("c_custkey") + F.col("__rep") * n_cust).alias("c_custkey"),
        *[c for c in cust.columns if c != "c_custkey"],
    ).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    for t in ["region", "nation", "supplier"]:
        src = f"{BASE}/{t}.parquet"
        if os.path.exists(src):
            shutil.copy(src, f"{out_dir}/{t}.parquet")

    with open(os.path.join(out_dir, "_PROBE_META.json"), "w") as f:
        json.dump({"base": BASE, "k": k, "builder_version": BUILDER_VERSION}, f)


def _table_counts(spark, sf_dir: str) -> dict[str, int]:
    """Actual row counts of the probed dir (parquet footer counts —
    cheap), replacing the old hardcoded sf0.1-base arithmetic that went
    silently wrong under SPARK_GRAFT_SF_DIR overrides."""
    out = {}
    for t in ("embeddings", "documents", "part", "events",
              "lineitem", "orders", "customer"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            out[t] = spark.read.parquet(path).count()
    return out


def main(ks: list[int]) -> int:
    # the x100 corpus (60M-row lineitem shuffles + the ~9.5M-row
    # complete-mode session state + MemorySink) does not fit the 8g
    # default single-JVM heap of local mode — two x100 runs OOM'd in
    # the streaming section before this default was raised. Explicit
    # SPARK_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    from pyspark.sql import functions as F

    from vector_search_application_spark import calibration as CAL
    from vector_search_application_spark.session import get_spark
    from vector_search_application_spark.plans.registry import REGISTRY
    from vector_search_application_spark.functions.cache import release_all

    spark = get_spark("scale-probe")
    by_name = {d.name: d.spark for d in REGISTRY}
    lines = []
    built_dirs: dict[int, str] = {}  # k -> corpus dir (for counts/cleanup)
    results: dict[int, dict[str, float]] = {}
    stream_results: dict[int, dict[str, float | int]] = {}
    cal_results: dict[int, tuple[float, float]] = {}
    for k in [1] + ks:
        if k == 1:
            sf_dir = BASE
        elif os.environ.get(f"SPARK_GRAFT_PROBE_DIR_X{k}"):
            # reuse a dir built by a previous run (same BASE, same K,
            # same builder version) — skips the most expensive step
            # when re-probing after a plan change. The meta check
            # refuses dirs from an older builder: a stale layout would
            # silently regenerate SCALING.md from wrong data (e.g. a
            # v1 dir's unshifted customer table dangles every
            # non-zero replica's o_custkey).
            sf_dir = os.environ[f"SPARK_GRAFT_PROBE_DIR_X{k}"]
            meta_path = os.path.join(sf_dir, "_PROBE_META.json")
            try:
                with open(meta_path) as f:
                    meta = json.load(f)
            except (OSError, ValueError):
                meta = None
            expected = {"base": BASE, "k": k,
                        "builder_version": BUILDER_VERSION}
            if meta != expected:
                raise SystemExit(
                    f"refusing to reuse {sf_dir}: _PROBE_META.json is "
                    f"{meta}, expected {expected} — rebuild (unset "
                    f"SPARK_GRAFT_PROBE_DIR_X{k})"
                )
            print(f"reusing prebuilt x{k} corpus at {sf_dir}",
                  file=sys.stderr, flush=True)
        else:
            sf_dir = os.path.join(tempfile.mkdtemp(prefix=f"scale_probe_x{k}_"))
            (build_sec,), _ = CAL.timed(
                lambda: build_scaled_dir(spark, sf_dir, k)
            )
            built_dirs[k] = sf_dir
            # print the path so SPARK_GRAFT_PROBE_DIR_X{k} reuse is
            # actually usable; removed at exit unless KEEP is set (a
            # leaked x100 corpus is tens of GB of /tmp per run)
            keep = os.environ.get("SPARK_GRAFT_PROBE_KEEP") == "1"
            print(
                f"built x{k} corpus in {build_sec:.1f}s at "
                f"{sf_dir}"
                + ("" if keep else
                   " (removed at exit; SPARK_GRAFT_PROBE_KEEP=1 keeps it"
                   f" for SPARK_GRAFT_PROBE_DIR_X{k} reuse)"),
                file=sys.stderr, flush=True)
            if not keep:
                import atexit
                atexit.register(shutil.rmtree, sf_dir, ignore_errors=True)
        # per-K machine-speed calibration (see calibration.py): the box
        # has 5-6x slow windows, so every K's timings carry the same-
        # loop calibration; a K whose cal ratio is far from 1 ran in a
        # degraded window and its RATIOS are suspect, not its plans.
        # (calibration_secs runs its own untimed warmup rep per session)
        cal_secs = CAL.calibration_secs(spark, reps=3)
        print(f"  x{k} calibration: {cal_secs} (ratio "
              f"{CAL.ratio_vs_ref(cal_secs):.2f}x of nominal)",
              file=sys.stderr, flush=True)

        timings: dict[str, float] = {}
        for name in PROBE_QUERIES:
            fn = by_name[name]
            secs, _ = CAL.timed(lambda: CAL.force(fn(spark, sf_dir)), 2)
            timings[name] = round(min(secs), 3)
            print(f"  x{k} {name}: {timings[name]}s", file=sys.stderr, flush=True)
        # --- IVF per-stage rows (r11 VERDICT task 2): the COLD
        # ivf_topk/ivfpq_topk rows are gone from the headline table —
        # on identical code the x100 cold wall swung 37.5s -> 102.1s
        # across two healthy-calibration runs, because the fused plan
        # conflates the n x C assignment (the slow-window-sensitive
        # interpreted-HOF argmax) with the probe scan; a noise band
        # masks real regressions. The stages are timed separately
        # instead, and each stage records BOTH reps (ivf_stage_reps in
        # the JSON line) so same-code agreement is checkable within
        # the calibration band:
        #   ivf_assign_scan        the n x C argmax alone (volatile)
        #   ivf_index_build        assignment + clustered cell write +
        #                          centroid metadata (one-time cost)
        #   ivf_index_lookup_warm  the probe scan over the layout —
        #                          the serving number
        from vector_search_application_spark.operators import ann as _ann
        from vector_search_application_spark.plans import corpus as _corpus
        from vector_search_application_spark.plans.constants import (
            QUERY_VEC_ID as _QVID,
        )

        ivf_stage_reps: dict[str, list[float]] = {}

        def stage(row_name, fn, cold=False):
            """Best-of-2 row that also records both reps; ``cold``
            releases the memoized/persisted intermediates per rep so a
            build row keeps measuring the one-time build, not a write of
            the previous rep's cached result."""
            reps = [round(t, 3) for t in CAL.timed(fn, 2, cold=cold)[0]]
            ivf_stage_reps[row_name] = reps
            timings[row_name] = min(reps)
            print(f"  x{k} {row_name}: {reps}", file=sys.stderr, flush=True)

        vecs = _corpus.vectors(spark, sf_dir)
        cent_tbl = _ann.centroid_table(vecs)
        # the production argmax arithmetic (r13): row vector pre-cast to
        # array<double> in its own projection so the per-(row, centroid)
        # lambda casts SimplifyCasts away — built inline per rep (not
        # via ivf_assign_tbl) so the memo cannot serve rep 2 and the row
        # keeps measuring the raw scan
        stage("ivf_assign_scan", lambda: CAL.force(
            vecs.withColumn("__vd", F.col("embedding").cast("array<double>"))
            .crossJoin(F.broadcast(cent_tbl))
            .selectExpr(
                "vec_id AS id",
                f"{_ann._cell_over_cents_sql('__vd')} AS cell",
            )
        ))

        ivf_root = tempfile.mkdtemp(prefix=f"probe_ivf_x{k}_")
        try:
            ivf_dirs = iter(
                os.path.join(ivf_root, f"vectors{i}") for i in range(2)
            )
            stage("ivf_index_build",
                  lambda: _ann.write_ivf_indexed(vecs, next(ivf_dirs)),
                  cold=True)
            q = _corpus.query_vector(spark, sf_dir, _QVID)
            ivf_dir = os.path.join(ivf_root, "vectors1")
            stage("ivf_index_lookup_warm",
                  lambda: CAL.force(_ann.ivf_indexed_topk(spark, ivf_dir, q)))
            # IVF-PQ serving split (r12): same build/query separation
            # for the quantized layout — codes partitioned by cell,
            # ADC reads codes only, rescore fetches vectors; the build
            # is one cold rep (drops the memoized assignment/codes)
            pq_dir = os.path.join(ivf_root, "ivfpq")
            (sec,), _ = CAL.timed(
                lambda: _ann.write_ivfpq_indexed(vecs, pq_dir), cold=True
            )
            timings["ivfpq_index_build"] = round(sec, 3)
            print(f"  x{k} ivfpq_index_build: "
                  f"{timings['ivfpq_index_build']}s",
                  file=sys.stderr, flush=True)
            stage("ivfpq_index_lookup_warm",
                  lambda: CAL.force(_ann.ivfpq_indexed_topk(spark, pq_dir, q)))
            # batched warm lookups over the SAME persisted layouts
            # (r12 VERDICT task 4: the serving shape for query
            # batches, 20 queries per plan — the row the r12 README
            # could only quote from an ad-hoc adjudication run)
            qbatch = vecs.filter(F.col("vec_id") < 20).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"),
            )
            for row_name, fn, layout_dir in (
                ("ivf_index_lookup_batch_warm",
                 _ann.ivf_indexed_topk_batch, ivf_dir),
                ("ivfpq_index_lookup_batch_warm",
                 _ann.ivfpq_indexed_topk_batch, pq_dir),
            ):
                stage(row_name,
                      lambda: CAL.force(fn(spark, layout_dir, qbatch)))
        finally:
            shutil.rmtree(ivf_root, ignore_errors=True)
        # free the batch queries' persisted intermediates BEFORE the
        # streaming section: at x100 the complete-mode sessionize holds
        # ~9.5M session rows in state + MemorySink, and the cached
        # posting/shingle tables of the batch probes (incl. the 60M-row
        # lineitem family) pushed the executor heap over the edge (OOM
        # observed on the first x100 run after the TPC-H additions)
        release_all()
        # --- BM25 build/warm split (r12 VERDICT task 5, same shape as
        # the IVF stage rows): the bm25_topk headline row's x100 ratio
        # embeds the one-time postings build (76s cold vs 4.85s warm in
        # the r12 adjudication) — a build cost headlined as query
        # scaling. Time the stages apart: bm25_postings_build is the
        # tokenize + (id, term) aggregation alone (cold per rep so
        # CacheManager can't serve the previous rep's materialization);
        # bm25_topk_warm scores the golden query against the persisted
        # postings — the per-query serving number a deployment pays
        # after amortizing the index.
        from vector_search_application_spark.operators import bm25 as _bm25
        from vector_search_application_spark.plans.constants import (
            K as _K,
            QUERY_TEXT as _QTEXT,
        )

        docs = _corpus.docs(spark, sf_dir)
        stage("bm25_postings_build",
              lambda: CAL.force(_bm25.build_postings(docs, persist=False)),
              cold=True)
        postings = _bm25.build_postings(docs)  # the persisted index
        postings.count()  # materialize OUTSIDE the timed window
        stage("bm25_topk_warm", lambda: CAL.force(
            _bm25.bm25_score_terms(postings, _bm25.query_terms(spark, _QTEXT))
            .orderBy(F.desc("score"), F.asc("id")).limit(_K)
        ))
        release_all()
        # persisted-layout twin (r13): write_bm25_indexed is the
        # restart-surviving one-time build (term-bucketed postings +
        # stamped stats); bm25_indexed_topk is the pruned warm lookup —
        # the exact IVF build/lookup split applied to the sparse index
        bm25_root = tempfile.mkdtemp(prefix=f"probe_bm25_x{k}_")
        try:
            bdirs = iter(
                os.path.join(bm25_root, f"postings{i}") for i in range(2)
            )
            stage("bm25_index_build",
                  lambda: _bm25.write_bm25_indexed(docs, next(bdirs)),
                  cold=True)
            bdir = os.path.join(bm25_root, "postings1")
            stage("bm25_index_lookup_warm", lambda: CAL.force(
                _bm25.bm25_indexed_topk(spark, bdir, _QTEXT, _K)
            ))
        finally:
            shutil.rmtree(bm25_root, ignore_errors=True)
        release_all()
        # --- streaming family: wall time + state-store growth ---------
        # Real streaming runs (file source, AvailableNow): sessionize's
        # session_window keeps one state row per OPEN SESSION (keys),
        # dedup-at-ingest's "state" is the sink table (unique hashes) —
        # both must grow with keys, not with input rows.
        from vector_search_application_spark.streaming import ingest

        stream_row: dict[str, float | int] = {}
        # nanosAsLong is only needed for the streaming section's event
        # timestamps; save/restore so it can't leak into the batch
        # probes of later scale factors in this run
        _nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
        _nanos_prev = spark.conf.get(_nanos_key, None)
        spark.conf.set(_nanos_key, "true")
        try:
            (sec,), n_sessions = CAL.timed(lambda: ingest.stream_sessionize(
                spark, os.path.join(sf_dir, "events.parquet"),
                state_partitions=8,
            ).count())
            stream_row["sessionize_sec"] = round(sec, 3)
            stream_row["sessions"] = n_sessions
            stream_row["session_state_rows"] = max(
                (
                    so.get("numRowsTotal", 0)
                    for p in ingest.LAST_SESSIONIZE_PROGRESS
                    for so in (p.get("stateOperators") or [])
                ),
                default=0,
            )
            (sec,), kept = CAL.timed(
                lambda: ingest.stream_dedup_ingest(spark, sf_dir).count()
            )
            stream_row["dedup_ingest_sec"] = round(sec, 3)
            stream_row["dedup_kept_rows"] = kept
            # --- incremental eviction run: the complete-mode numbers
            # above show state == total sessions (a single AvailableNow
            # pass holds everything until end-of-stream by design);
            # this run splits the same events into 4 time-ordered files
            # so the watermark advances BETWEEN micro-batches and
            # closed sessions are EVICTED while later files arrive —
            # peak_state_rows < sessions is the proof.
            from vector_search_application_spark.plans.corpus import ts_us

            incr_dir = tempfile.mkdtemp(prefix="probe_incr_events_")
            try:
                ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
                ev_us = ev.withColumn("__us", ts_us(ev))
                lo, hi = ev_us.agg(
                    F.min("__us"), F.max("__us")
                ).collect()[0]
                span = (hi - lo) + 1
                n_epochs = 4
                for e in range(n_epochs):
                    a = lo + (span * e) // n_epochs
                    b = lo + (span * (e + 1)) // n_epochs
                    staging = os.path.join(incr_dir, f"_stage{e}")
                    (
                        ev_us.filter((F.col("__us") >= a) & (F.col("__us") < b))
                        .drop("__us")
                        .coalesce(1)
                        .write.parquet(staging)
                    )
                    part = next(
                        f for f in os.listdir(staging) if f.endswith(".parquet")
                    )
                    dst = os.path.join(incr_dir, f"epoch{e}.parquet")
                    os.rename(os.path.join(staging, part), dst)
                    # file source processes oldest-mtime first: pin the
                    # epoch order without sleeping between writes
                    os.utime(dst, (1_700_000_000 + e * 10, 1_700_000_000 + e * 10))
                def run_incremental():
                    emitted, progress = ingest.stream_sessionize_incremental(
                        spark, incr_dir, state_partitions=8
                    )
                    return emitted.count(), progress

                (sec,), (n_emitted, progress) = CAL.timed(run_incremental)
                stream_row["sessionize_incr_sec"] = round(sec, 3)
                state_seq = [
                    so.get("numRowsTotal", 0)
                    for p in progress
                    for so in (p.get("stateOperators") or [])
                ]
                stream_row["sessions_emitted"] = n_emitted
                stream_row["peak_state_rows"] = max(state_seq, default=0)
                stream_row["final_state_rows"] = (
                    state_seq[-1] if state_seq else 0
                )
            finally:
                shutil.rmtree(incr_dir, ignore_errors=True)
        finally:
            if _nanos_prev is None:
                spark.conf.unset(_nanos_key)
            else:
                spark.conf.set(_nanos_key, _nanos_prev)
        print(f"  x{k} streaming: {stream_row}", file=sys.stderr, flush=True)
        stream_results[k] = stream_row

        release_all()  # scaled caches must not leak into the next K
        # END-of-section calibration: the box's slow windows can open
        # MID-section (observed: four consecutive x100 queries inflated
        # 2-6x while the section-start ratio read healthy) — recording
        # both ends makes a window that opened after the first
        # measurement visible in the header instead of silently
        # poisoning a few rows.
        cal_secs_end = CAL.calibration_secs(spark, reps=3)
        ratio, ratio_end = (
            CAL.ratio_vs_ref(cal_secs), CAL.ratio_vs_ref(cal_secs_end)
        )
        print(f"  x{k} calibration end: {cal_secs_end} (ratio "
              f"{ratio_end:.2f}x of nominal)",
              file=sys.stderr, flush=True)
        results[k] = timings
        cal_results[k] = (round(ratio, 2), round(ratio_end, 2))
        line = {"scale": k, "base": BASE, "queries": timings,
                "ivf_stage_reps": ivf_stage_reps,
                "streaming": stream_row,
                "calibration_secs": cal_secs,
                "calibration_secs_end": cal_secs_end,
                "calibration_ratio": round(ratio, 3),
                "calibration_ratio_end": round(ratio_end, 3),
                "total": round(sum(timings.values()), 3)}
        lines.append(line)
        print(json.dumps(line), flush=True)

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SCALING.md"), "w") as f:
        f.write("# SCALING — measured plan behavior under corpus replication\n\n")
        f.write(f"Generated by `python tools/scale_probe.py {' '.join(map(str, ks))}`: "
                f"the sf0.1 corpus replicated K times with shifted key spaces\n"
                f"(docs/vectors/parts/events/users all distinct per replica), "
                f"timed on local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], "
                "best-of-2.\nDedup-family queries are excluded by design — "
                "replication manufactures K-sized\nduplicate cliques "
                "(the adversarial quadratic case, not scaling).\n\n")
        f.write("Machine-speed calibration per K, measured at section "
                "START/END (same-loop,\nfixed pure-compute query; ~1.0 = "
                "healthy window, >>1 = the 5-6x slow-window\npathology "
                "this box exhibits — see calibration.py; a degraded or "
                "MID-SECTION\nwindow inflates a stretch of rows, so "
                "start/end disagreement flags a table\nwhose worst rows "
                "deserve a re-run): "
                + ", ".join(
                    f"x{k}={cal_results[k][0]}x/{cal_results[k][1]}x"
                    for k in cal_results) + ".\n\n")
        header = "| query | " + " | ".join(f"x{k}" for k in results) + " | x{max}/x1 |\n".replace("{max}", str(max(results)))
        f.write(header)
        f.write("|---|" + "---|" * (len(results) + 1) + "\n")
        kmax = max(results)
        for name in PROBE_QUERIES + ["ivf_assign_scan", "ivf_index_build",
                                     "ivf_index_lookup_warm",
                                     "ivfpq_index_build",
                                     "ivfpq_index_lookup_warm",
                                     "ivf_index_lookup_batch_warm",
                                     "ivfpq_index_lookup_batch_warm",
                                     "bm25_postings_build",
                                     "bm25_topk_warm",
                                     "bm25_index_build",
                                     "bm25_index_lookup_warm"]:
            row = [results[k][name] for k in results]
            base_t = results[1][name]
            ratio = results[kmax][name] / base_t if base_t > 0 else float("inf")
            f.write(f"| {name} | " + " | ".join(f"{t}" for t in row)
                    + f" | {ratio:.1f}x |\n")
        f.write("\n## Streaming family (real runs, AvailableNow)\n\n")
        f.write("| metric | " + " | ".join(f"x{k}" for k in stream_results)
                + " |\n")
        f.write("|---|" + "---|" * len(stream_results) + "\n")
        for metric in ["sessionize_sec", "sessions", "session_state_rows",
                       "dedup_ingest_sec", "dedup_kept_rows",
                       "sessionize_incr_sec", "sessions_emitted",
                       "peak_state_rows", "final_state_rows"]:
            f.write(f"| {metric} | "
                    + " | ".join(str(stream_results[k].get(metric, ""))
                                 for k in stream_results)
                    + " |\n")
        f.write(
            "\nstream_sessionize keeps one session_window state row per "
            "open session —\nsession_state_rows tracks the session count "
            "(keys), not the event count:\nreplication multiplies users, "
            "so state grows with the key space exactly as\na production "
            "stream's would, and a watermark bounds it in continuous "
            "mode.\nstream_dedup_ingest has no state store at all — its "
            "seen-hash state IS the\nsink table (dedup_kept_rows = unique "
            "contents), so restart cost is a table\nscan of hashes, and "
            "growth is bounded by distinct content, not arrivals.\n\n"
            "The sessionize_incr_* rows are the EVICTION proof the "
            "complete-mode run\ncannot give: the same events split into "
            "4 time-ordered files, streamed as\nseparate micro-batches "
            "in append mode, so the watermark advances between\n"
            "triggers and sessions it passes are emitted then dropped "
            "from the store.\npeak_state_rows < sessions shows closed "
            "state was evicted mid-stream (the\npeak lags the watermark "
            "by one trigger — the steady-state bound is open\nsessions "
            "of ~2 epochs, not the whole log), and final_state_rows is "
            "just the\nlast epoch's still-open sessions.\n")
        counted = _table_counts(spark, built_dirs.get(kmax) or
                                os.environ.get(f"SPARK_GRAFT_PROBE_DIR_X{kmax}", BASE))
        f.write("\nRow counts at x" + str(kmax) + ": "
                + ", ".join(f"{t} {n:,}" for t, n in counted.items())
                + ".\n")
        f.write("""
Reading the ratios: x1 timings are dominated by fixed per-job costs
(stage scheduling, broadcast builds), so a ratio far below the data
multiple means the plan is still overhead-bound at x{kmax} — the search
family (dense/bm25/hybrid/IVF) and the keyed event plans all land at
1-8x for 100x the rows, i.e. the data-dependent stages are scan-shaped
map work plus bounded shuffles, exactly what survives adding executors.
The per-document featurization family (text_repetition,
source_data_card) is the compute-bound tail: each runs
tokenize/regex/fold work over every row, so it scales linearly with
corpus size and parallelizes by partition — the expected asymptote for
per-document work, addressed with executors, not plan shape.
The tail has been ground down release by release, always by replacing
an interpreted-HOF or regex hot spot with a cheaper value-identical
form: quality_filter_funnel led at 56x until the punct-strip
regexp_replace became a translate() char map; source_data_card and
text_pii_scrub dropped ~3x when the email regex got a contains('@')
prefilter (Java regex backtracks at every position of a document that
can never match); and text_repetition — the last holdout at 14x —
dropped ~4x when its n-gram stats moved to xxhash64 gram ids with
neighbor-equality-flag folds (the interpreted per-element step fell
from 8 null-checking string comparisons to 2-3 int ops; grams are
hashed at extraction, so sorts and folds run on longs — equality
classes, and therefore values, unchanged). The shingle pipelines that
only COMPARE shingles (decontamination, rare-shingle Jaccard
blocking, boilerplate counts) got the same treatment via
hashed_ngram_ids_expr; MinHash/SimHash keep string shingles because their
md5 signature families pin exact values.
Absolute context for the largest remaining rows: training_manifest_full
is the whole quality -> dedup -> split -> decontaminate -> pack chain
over 500k docs in {manifest_sec}s on 32 cores, and its x{kmax} ratio is inflated by
the replica artifact (replicated docs share shingles ACROSS replicas,
so the contamination join finds ~300k pairs this corpus construction
manufactured — the controlled-duplicate probe in SCALING_DEDUP.md is
the fair scaling evidence for overlap joins). Same-loop calibration
bounds cross-run drift (the slow-window pathology hits interpreted HOF
expressions hardest, so featurization rows are the least stable across
sessions).
bpe_train_merges is the counterpoint: near-flat (1-2x) at 100x — tokenizer training reads the corpus once into a distinct-word table and every merge round after that touches only the vocab, which replication barely grows. The PQ/IVFPQ rows stay bounded
because their scored representation is the broadcast-LUT fold or the
probed fraction, not the full vector scan.
The single-query COLD ivf rows are gone from this table (r12): on
identical code the x100 cold wall swung 37.5s -> 102.1s across two
healthy-calibration runs, because the fused cold plan conflates the
n x C assignment (a slow-window-sensitive interpreted-HOF argmax)
with the probe scan — a noise band, not a measurement. The stages
are timed separately instead: ivf_assign_scan is the n x C argmax
alone (the volatile term, isolated so its spread is ITS OWN row —
both reps are recorded in the JSON line's ivf_stage_reps);
ivf_index_build is write_ivf_indexed (assignment + clustered
cell-partitioned write + the persisted centroid-metadata table), the
one-time cost a deployment amortizes; ivf_index_lookup_warm is
ivf_indexed_topk against the written layout (in-plan probe ranking
over the metadata table, literal cell predicate pruning partition
directories before file I/O) — the serving number a 1000-executor
deployment pays per query. The *_batch_warm rows are the same two
layouts serving a 20-query batch in ONE plan (union-of-probed-cells
partition filter, broadcast probe pairs/LUTs/candidates, per-query
window) — amortized per-query serving cost is that row over 20. ivf_topk_batch stays as the amortized
cold number: the r10 sqrt schedule (C = max(8, ceil(sqrt(n))) ->
448 centroids at 200k vectors, probes = ceil(log2(C)) = 9) makes
the assignment O(n^1.5) — the standard IVF training cost — while
the per-QUERY scan fraction is probes/C ~ 2%.
The BM25 family gets the same split (r13): the bm25_topk headline row
keeps its historical form (build + query fused, best-of-2 with the
CacheManager warm on rep 2), but bm25_postings_build isolates the
one-time tokenize + (id, term) aggregation (cache released per rep so
both reps are genuinely cold) and bm25_topk_warm scores the golden
query against the already-materialized postings — the posting-probe +
score + top-k cost a deployment pays per query once the index is
amortized, the row that should stay near-flat across K.
bm25_index_build / bm25_index_lookup_warm are the PERSISTED twins
(write_bm25_indexed: postings partitioned by term-hash bucket with the
stamped corpus-stats row beside them): the build is the one-time
restart-surviving cost, and the warm lookup prunes to the query
terms' bucket directories before file I/O — the sparse serving number
that corresponds to ivf_index_lookup_warm on the dense side.
Queries are forced via a one-row xxhash64 aggregate over every output
column, so timings measure the distributed plan, not a driver collect.
""".replace("{kmax}", str(kmax)).replace(
            "{manifest_sec}",
            str(results[kmax].get("training_manifest_full", "n/a"))))
    print("wrote SCALING.md", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    ks = [int(a) for a in sys.argv[1:]] or [10, 100]
    sys.exit(main(ks))
