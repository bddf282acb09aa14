"""Engine façade with the reference's HTTP-API semantics as methods
(SURVEY.md §2.16) — a thin driver API over the DataFrame operators;
http_shim.py serves these same methods over real HTTP (stdlib-only,
route-for-route with the reference's FastAPI surface).

Endpoint map (reference file:line -> method):
  GET/POST /api/search            app/main.py:63-104,
                                  app/api/endpoints/search.py:99-161
                                  -> search()
  GET /api/query                  app/main.py:190-211,
                                  app/api/endpoints/search.py:46-96
                                  -> query()
  GET /api/search/ultra-fast      search.py:164-193  -> search_ultra_fast()
  GET /api/search/lean            search.py:226-285  -> search_lean()
  GET /api/search/fusion          search.py:195-223  -> search_fusion()
  GET /api/search/compare         search.py:288-348  -> compare()
  GET /api/search/performance-stats search.py:351-384 -> performance_stats()
  DELETE /api/search/cache        search.py:407-431  -> clear_cache()
  GET /api/import|importdelta|export|reset admin.py:19-134
                                  -> import_full()/import_delta()/
                                     export()/reset()
  GET /health                     app/main.py:50-61  -> health()
  GET /api/collections            app/main.py:162-187 -> collections()

The ultra-fast / lean split is physical-only in the reference (hnsw_ef
128 vs 64, same math); here both run the exact operator, tracked under
separate perf keys so the stats surface matches.

EMA perf telemetry reproduces the reference's driver-side math
exactly: avg = 0.9*avg + 0.1*x after the first sample
(app/services/search_service.py:253-254,296-297,339-340).

Security note: the import/export/load-data endpoints accept
server-side filesystem paths by design (reference parity — its admin
routes read and write server paths the same way). The shim binds to
127.0.0.1 by default; expose it beyond loopback only in a trusted
environment.
"""

from __future__ import annotations

import threading
import time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import embedder as E
from .functions import portable as P
from .functions import scalars
from .functions.cache import (
    carry_forward,
    release,
    release_all,
    tracked_persist,
)
from .operators import bm25, exact, fusion
from .plans import corpus
from .plans.constants import (
    BRANCH_INFLATION,
    POSTFILTER_INFLATION,
    RRF_RANK_K,
    SCORE_THRESHOLD,
)
from .sources import json_source


class Engine:
    """One searchable collection (the products corpus) plus the
    reference's query/ingest/ops surface."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._stats: dict[str, dict[str, float]] = {}
        self._query_emb_cache: OrderedDict[str, DataFrame] = OrderedDict()
        self._query_cache_capacity = 1000  # reference lru_cache(1000)
        # the HTTP shim serves this engine from a threaded server; the
        # LRU and EMA counters are the only shared mutable state (the
        # reference's functools.lru_cache is thread-safe — match it)
        self._lock = threading.Lock()
        # serializes write+read-merge-swap (_absorb_locked, reset): two
        # concurrent imports that both captured the same old corpus
        # would otherwise each build merged = own_rows + old, and the
        # later swap would silently drop the earlier import's rows
        self._ingest_lock = threading.Lock()
        products = tracked_persist(corpus.products(spark, sf_dir))
        # cache the corpus + its two derived indexes (the reference
        # holds all three in RAM: payload store, HNSW, sparse index).
        # The trio lives in ONE tuple so any reader gets a consistent
        # version with a single attribute load — multi-table requests
        # call _snapshot() once and thread the tables down.
        self._serving: tuple[DataFrame, DataFrame, DataFrame] = (
            products,
            tracked_persist(
                E.embed_short_postings(products, "id", "dense_text")
            ),
            bm25.build_postings(
                products, id_col="id", text_col="sparse_text"
            ),
        )

    # -- serving state ---------------------------------------------------

    def _snapshot(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(products, dense_index, sparse_postings) of ONE version —
        a single atomic attribute load; no lock needed on the read
        side. Every request that touches more than one of the three
        must take one snapshot and use only its members, otherwise an
        swap between its attribute loads hands it a cross-version
        mix (stale dense hits joined against a replaced corpus)."""
        return self._serving

    @property
    def products(self) -> DataFrame:
        return self._serving[0]

    @property
    def dense_index(self) -> DataFrame:
        return self._serving[1]

    @property
    def sparse_postings(self) -> DataFrame:
        return self._serving[2]

    # -- embedding (E3: lru-cached query embed) -------------------------

    def _embed_query(self, q: str) -> DataFrame:
        # true LRU, like the reference's functools.lru_cache(1000): a hit
        # moves the key to the end, so eviction drops the least-recently-
        # USED entry, not the oldest-inserted
        with self._lock:
            if q in self._query_emb_cache:
                self._query_emb_cache.move_to_end(q)
                return self._query_emb_cache[q]
        # the value is the computed vector itself, like the reference's
        # lru_cache of embeddings: a (dim, qcomp) LocalRelation embedded
        # on the driver, which no downstream job recomputes
        built = E.embed_query_postings(self.spark, q)
        with self._lock:
            if q not in self._query_emb_cache:
                if len(self._query_emb_cache) >= self._query_cache_capacity:
                    self._query_emb_cache.popitem(last=False)
                self._query_emb_cache[q] = built
            return self._query_emb_cache[q]

    # -- EMA telemetry --------------------------------------------------

    def _track(self, engine: str, elapsed_ms: float) -> None:
        with self._lock:
            s = self._stats.setdefault(engine, {"count": 0, "avg_time_ms": 0.0})
            s["count"] += 1
            if s["count"] == 1:
                s["avg_time_ms"] = elapsed_ms
            else:
                s["avg_time_ms"] = 0.9 * s["avg_time_ms"] + 0.1 * elapsed_ms

    def performance_stats(self) -> dict:
        with self._lock:
            return {k: dict(v) for k, v in self._stats.items()}

    def clear_cache(self) -> int:
        with self._lock:
            n = len(self._query_emb_cache)
            self._query_emb_cache.clear()
            return n

    # -- search branches ------------------------------------------------

    def _dense_branch(
        self,
        q: str,
        k: int,
        threshold: float | None = SCORE_THRESHOLD,
        dense_index: DataFrame | None = None,
    ) -> DataFrame:
        if dense_index is None:
            dense_index = self.dense_index
        scored = E.sparse_cosine_topk(dense_index, self._embed_query(q), k)
        if threshold is not None:
            scored = scored.filter(F.col("score") >= threshold)  # Q3
        return scored

    def _sparse_branch(
        self, q: str, k: int, postings: DataFrame | None = None
    ) -> DataFrame:
        if postings is None:
            postings = self.sparse_postings
        scored = bm25.bm25_score_terms(
            postings, bm25.query_terms(self.spark, q)
        )
        return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)

    def _exact_branch(
        self, q: str, k: int, products: DataFrame | None = None
    ) -> DataFrame:
        if products is None:
            products = self.products
        return exact.exact_cascade(
            products, q, "partNumber_airgas_text",
            "manufacturerPartNumber_text", k,
        )

    # -- endpoints ------------------------------------------------------

    def query(self, q: str, mode: str = "hybrid", count: int = 10) -> DataFrame:
        """GET /api/query: mode in {dense, sparse, hybrid}."""
        t0 = time.perf_counter()
        if mode == "dense":
            out = self._dense_branch(q, count, threshold=None)
        elif mode == "sparse":
            out = self._sparse_branch(q, count)
        elif mode == "hybrid":
            _, dense_ix, postings = self._snapshot()
            dense = self._dense_branch(
                q, count * BRANCH_INFLATION, threshold=None,
                dense_index=dense_ix,
            )
            sparse = self._sparse_branch(
                q, count * BRANCH_INFLATION, postings=postings
            )
            out = fusion.rrf_fuse(
                {"dense": dense, "sparse": sparse}, count, RRF_RANK_K, "id"
            )
        else:
            raise ValueError(f"unknown mode: {mode}")
        # the one collect of the read; the returned rows cost no job
        out = P.collected(out)
        self._track(f"query_{mode}", (time.perf_counter() - t0) * 1000)
        return out

    def _tracked_dense(self, bucket: str, q: str, count: int) -> DataFrame:
        """One copy of the dense serving body for the three aliased
        endpoints (the reference keeps them as distinct routes with
        their own perf buckets; compare() promises identical results,
        so the logic must not fork per alias)."""
        t0 = time.perf_counter()
        out = P.collected(self._dense_branch(q, count))
        self._track(bucket, (time.perf_counter() - t0) * 1000)
        return out

    def search_ultra_fast(self, q: str, count: int = 10) -> DataFrame:
        return self._tracked_dense("ultra_fast", q, count)

    def search_lean(self, q: str, count: int = 10) -> DataFrame:
        return self._tracked_dense("lean", q, count)

    def search_really_fast(self, q: str, count: int = 10) -> DataFrame:
        """GET /api/search/really-fast: the reference keeps this as a
        backward-compatibility alias of ultra-fast (its own docstring,
        app/api/endpoints/search.py:257-262) — same dense path, its own
        perf-stats bucket."""
        return self._tracked_dense("really_fast", q, count)

    def optimize(self) -> dict:
        """POST /api/search/optimize (reference
        app/api/endpoints/search.py:376-406): warm every search service
        for steady-state latency. Spark-first warmup = force the
        persisted index tables to materialize their cache blocks (the
        reference's per-service optimize_for_collection is an HNSW/ef
        warmup; ours is the cache-residency equivalent)."""
        out = {}
        products, dense_ix, postings = self._snapshot()
        for name, df in (
            ("search_service", products),
            ("ultra_search_service", dense_ix),
            ("lean_search_service", postings),
            ("really_fast_service", dense_ix),
        ):
            t0 = time.perf_counter()
            n = df.count()  # touches every cached block
            out[name] = {
                "status": "optimized",
                "rows_resident": n,
                "warmup_ms": round((time.perf_counter() - t0) * 1000, 1),
            }
        return {"status": "completed", "optimization_results": out}

    def collection_stats(self, collection_name: str) -> dict:
        """GET /api/collections/{name}/stats: the reference returns
        hardcoded zero placeholders (app/main.py:172-187); returning
        real counts is a documented fidelity improvement (same shape,
        honest values)."""
        if collection_name != "products":
            return {
                "collection": collection_name,
                "vectors_count": 0,
                "points_count": 0,
                "segments_count": 0,
            }
        products = self._snapshot()[0]
        n = products.count()
        return {
            "collection": collection_name,
            "vectors_count": n,
            "points_count": n,
            "segments_count": products.rdd.getNumPartitions(),
        }

    def _fusion_hits(
        self,
        q: str,
        count: int,
        snapshot: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    ) -> DataFrame:
        """V4 plumbing, untracked: exact(k) + vector(2k) -> max-score
        dedup (F3). search_fusion() and search() both consume this so
        each can time and bucket its OWN full path; search() passes its
        snapshot so the downstream products join is the same version."""
        products, dense_ix, _ = snapshot or self._snapshot()
        exact_b = self._exact_branch(q, count, products=products).select(
            "id", "score", F.lit("exact").alias("search_type")
        )
        vector_b = self._dense_branch(
            q, count * BRANCH_INFLATION, dense_index=dense_ix
        ).select("id", "score", F.lit("vector").alias("search_type"))
        return fusion.max_dedup_fuse(exact_b, vector_b, count, "id")

    def search_fusion(self, q: str, count: int = 10) -> DataFrame:
        """V4: exact(k) + vector(2k) -> max-score dedup (F3)."""
        t0 = time.perf_counter()
        out = P.collected(self._fusion_hits(q, count))
        self._track("fusion", (time.perf_counter() - t0) * 1000)
        return out

    def search(
        self,
        q: str,
        count: int = 10,
        filter_field: str | None = None,
        filter_value: str | None = None,
        use_fusion: bool = False,
    ) -> DataFrame:
        """V5: search-with-details — fused or dense hits, optional Q2
        post-filter with k-inflation, UI projection with C3/C4.

        Timed and bucketed as its OWN 'search' engine (the reference
        serves /api/search from search_service with its own EMA,
        search_service.py:253-254): the internal dense/fusion plumbing
        is called untracked, and the timer covers the join + filter +
        projection, not just the hits subplan. Final ordering uses the
        RAW score (the reference sorts raw and rounds for display);
        ties on the raw score break by id."""
        if filter_field is not None and filter_value is None:
            # col == lit(NULL) is never true — a silently-empty result
            # would be indistinguishable from a legitimate miss
            raise ValueError(
                "filter_value is required when filter_field is set"
            )
        t0 = time.perf_counter()
        snap = self._snapshot()
        products, dense_ix, _ = snap
        k = count * POSTFILTER_INFLATION if filter_field else count
        hits = (
            self._fusion_hits(q, k, snapshot=snap)
            if use_fusion
            else self._dense_branch(q, k, dense_index=dense_ix).withColumn(
                "search_type", F.lit("vector")
            )
        )
        enriched = hits.join(products, "id")
        if filter_field:
            # order before limiting: when more than `count` rows survive
            # the filter we must keep the TOP-scored ones (the reference
            # truncates the score-ranked list, search_service.py)
            enriched = (
                enriched.filter(F.col(filter_field) == F.lit(filter_value))
                .orderBy(F.desc("score"), F.asc("id"))
                .limit(count)
            )
        out = P.collected(
            enriched.withColumn("_raw_score", F.col("score"))
            .select(
                scalars.normalize_image_url(
                    F.col("img_270Wx270H_string")
                ).alias("image"),
                "id",
                F.col("shortDescription_airgas_text").alias("text"),
                F.col("manufacturerPartNumber_text").alias("Mfr Code"),
                F.col("onlinePrice_string").alias("Price"),
                F.round(F.col("score"), 3).alias("score"),
                "search_type",
                scalars.score_label(F.col("score")).alias("match_quality"),
                "_raw_score",
            )
            .orderBy(F.desc("_raw_score"), F.asc("id"))
            .drop("_raw_score")
        )
        self._track("search", (time.perf_counter() - t0) * 1000)
        return out

    def filtered_search(
        self, q: str, filter_field: str, filter_value: str, count: int = 10
    ) -> DataFrame:
        """V6: minimal (id, score) projection after Q2 post-filter.
        Served by the same 'search' EMA bucket as search() — the
        reference routes filtered requests through search_service."""
        t0 = time.perf_counter()
        products, dense_ix, _ = self._snapshot()
        hits = self._dense_branch(
            q, count * POSTFILTER_INFLATION, dense_index=dense_ix
        )
        out = P.collected(
            hits.join(products, "id")
            .filter(F.col(filter_field) == F.lit(filter_value))
            .select("id", "score")
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(count)
        )
        self._track("search", (time.perf_counter() - t0) * 1000)
        return out

    def compare(self, q: str, count: int = 10) -> dict:
        """V7: run ultra-fast / fusion / lean on the same query; report
        per-engine time + first-3 preview (reference search.py:288-348)."""
        report: dict = {
            "query": q,
            "engines": {},
            # the reference's ultra-fast/lean differ only physically
            # (hnsw_ef 128 vs 64); here both run the exact operator, so
            # compare() shows near-identical timings BY DESIGN
            "note": "ultra_fast and lean are intentionally aliased "
                    "(physical-only split in the reference)",
        }
        for name, fn in [
            ("ultra_fast", self.search_ultra_fast),
            ("fusion", self.search_fusion),
            ("lean", self.search_lean),
        ]:
            t0 = time.perf_counter()
            rows = fn(q, count).limit(3).collect()
            report["engines"][name] = {
                "time_ms": round((time.perf_counter() - t0) * 1000, 2),
                "preview": [r.asDict() for r in rows],
            }
        return report

    # -- ingest / ops ---------------------------------------------------

    def _absorb_locked(self, loaded: DataFrame) -> None:
        """Upsert a freshly-written product table, ``loaded`` (its
        parquet read back), into the SERVED collection; caller MUST
        hold ``_ingest_lock`` — and must have acquired it BEFORE
        writing the table (the ingest endpoints do), because two
        imports targeting the same dir must not interleave one's
        write with the other's read-merge-swap: the
        later write would clobber the earlier rows before they are
        absorbed, reproducing the lost-update this lock exists to
        prevent. The reference's load-data / import endpoints write
        into the live Qdrant collection (app/main.py:106-160) — a load
        that reported success but never became searchable would be a
        silent parity break. New rows win on id (M1 upsert semantics).

        The write updates all three tables by delta, as the reference's
        upsert updates its collection in place: each next version is
        the old one without the touched ids' rows, plus the batch's
        rows (cache.carry_forward). Only the batch is embedded and
        tokenized; the BM25 stats and dictionary move by arithmetic
        (bm25.upsert_postings), ready before the swap, so the first
        reads after a write rebuild nothing. Each version is an eager
        localCheckpoint at the partition count of the one before,
        which cuts lineage to the written table — so the ingested
        parquet is safe for the caller to delete once this returns
        (http_shim's load-data path relies on exactly that to clean
        its scratch dir) — and to the superseded versions.

        The upload path reads its table back under the schema it wrote
        (json_source.load_products), sparing a footer-reading
        schema-inference job; the import paths write other columns and
        leave it to inference."""
        import gc

        old_products, old_dense, old_sparse = self._snapshot()
        # intake order as an EXPLICIT key. Directory imports
        # (import_full) stamp it AT THE JSON SCAN (__src_file/__src_pos:
        # source file path + per-partition position, monotonic within
        # each file — see import_full's docstring) — the only
        # point where it still exists, because the parquet part-file
        # order of the written table is the scan's size-descending split
        # packing, not the name-order a directory iterator processes
        # files in. Tables without the stamp (the single-file upload
        # scratch, delta-merged tables) fall back to parquet read
        # metadata: there part names sort in write order and row_index
        # is the in-file position, which is the intake order for a
        # single-writer table. The previous
        # monotonically_increasing_id() reflected neither for
        # multi-part dirs (splits schedule by size), diverging from the
        # reference's in-request-order Qdrant upsert.
        if {json_source.SRC_FILE_COL, json_source.SRC_POS_COL}.issubset(
            loaded.columns
        ):
            loaded = loaded.withColumnsRenamed(
                {
                    json_source.SRC_FILE_COL: "__file",
                    json_source.SRC_POS_COL: "__pos",
                }
            )
        else:
            loaded = loaded.withColumns(
                {
                    "__file": F.col("_metadata.file_path"),
                    "__pos": F.col("_metadata.row_index"),
                }
            )
        if not {"id", "dense_text", "sparse_text"}.issubset(
            loaded.columns
        ):
            # raw directory imports (S4/S5) land untransformed
            # document tables; run the same T1-T3 stack the upload
            # path applies
            loaded = json_source.transform_products(
                loaded, extra_cols=("__file", "__pos")
            )
        loaded = loaded.select(*old_products.columns, "__file", "__pos")
        # the touched ids, on the driver: at most one per upserted row.
        # They drop the superseded rows of all three tables as a
        # literal filter, with no join. A row with a NULL id matches
        # no upserted id, so it stays.
        ids = sorted(
            {r[0] for r in loaded.select("id").collect()} - {None}
        )
        touched = P.in_sql("id", [str(i) for i in ids])
        keep = f"id IS NULL OR NOT ({touched})"
        # an id may repeat WITHIN one upload; the reference's Qdrant
        # upsert applies points in order so the LAST wins. Without
        # this both rows land in the served corpus: search returns
        # the id twice, the embedder sums both docs into one
        # phantom vector, and build_postings' first('doc_len') turns
        # BM25 run-dependent.
        from pyspark.sql import Window as _W

        w_last = _W.partitionBy("id").orderBy(
            F.desc("__file"), F.desc("__pos")
        )
        loaded = (
            loaded.withColumn("__rn", F.row_number().over(w_last))
            .filter(F.col("__rn") == 1)
            .drop("__file", "__pos", "__rn")
        )
        # Materialize AND cut lineage: the loaded plan's FileScan pins
        # the written table's current file listing, and the normal import ->
        # importdelta flow overwrites those files next call — a lazy
        # persist would later re-read deleted parquet and fail with
        # FileNotFoundException (import_delta localCheckpoints for the
        # same reason).
        new_products = carry_forward(old_products, keep, loaded)
        # Both indexes move by delta: only the batch, read back from
        # the new checkpoint, is embedded and tokenized. Every dense
        # row (id, dim, comp) and posting (id, term, tf, doc_len)
        # depends on its own document only, so this equals a rebuild
        # over new_products (tests/test_delta_index.py).
        batch = new_products.filter(touched)
        new_dense = carry_forward(
            old_dense, keep, E.embed_short_postings(batch, "id", "dense_text")
        )
        new_sparse = bm25.upsert_postings(
            old_sparse, batch, ids, id_col="id", text_col="sparse_text"
        )
        # One-tuple swap: a reader's _snapshot() before this line
        # sees the old trio, after it the new one — never a mix.
        self._serving = (new_products, new_dense, new_sparse)
        # release() unpersists the superseded trio AND forgets every
        # tracked table and memo entry built on it (the BM25 stats and
        # dictionary); their STRONG registry refs would otherwise keep
        # the superseded plans — and, through their lineage, the
        # previous corpus's checkpoint RDD — reachable forever
        # (measured: one orphaned corpus checkpoint per absorb). A
        # localCheckpoint'ed table is NOT in the CacheManager — its
        # blocks are freed by the ContextCleaner once the RDD is
        # unreachable, so drop the references and nudge GC rather than
        # letting stale checkpoint copies pile up across a tight
        # import loop.
        for df in (old_products, old_dense, old_sparse):
            release(df)
        del old_products, old_dense, old_sparse, batch, loaded
        gc.collect()

    def load_data(self, path: str, table_dir: str) -> int:
        """POST /api/load-data: S3 upload -> T1/T2 transforms -> write
        -> absorb into the served collection. The lock spans the
        parquet WRITE too: two concurrent loads aimed at the same
        ``table_dir`` must not overwrite each other's rows between one
        write and its absorb (lost update / mid-scan delete)."""
        raw = json_source.read_json_array(self.spark, path)
        with self._ingest_lock:
            loaded, n = json_source.load_products(raw, table_dir)
            self._absorb_locked(loaded)
        return n

    def import_full(self, import_dir: str, table_dir: str) -> int:
        with self._ingest_lock:
            n = json_source.import_full(self.spark, import_dir, table_dir)
            self._absorb_locked(self.spark.read.parquet(table_dir))
        return n

    def import_delta(self, import_dir: str, table_dir: str) -> dict:
        with self._ingest_lock:
            counts = json_source.import_delta(
                self.spark, import_dir, table_dir
            )
            self._absorb_locked(self.spark.read.parquet(table_dir))
        return counts

    def export(self, path: str) -> tuple[str, int]:
        return json_source.export_documents(self.products, path)

    def export_sharded(self, path: str) -> tuple[str, int]:
        """S6 scale path: distributed JSON export with manifest."""
        return json_source.export_documents_sharded(self.products, path)

    def reset(self) -> None:
        """M9: drop the cached collection state — the Engine's own three
        tables and every operator-internal persisted intermediate (BM25
        statistics, LSH tables), all tracked by functions/cache.
        release_all() is session-scoped by design (the cache registry
        is process-global, like Spark's own CacheManager); with multiple
        Engines in one session reset() is a session boundary, not a
        per-collection one.

        The engine stays serviceable: its own tables are re-tracked
        (lazily — blocks rebuild on next use), matching the reference
        where reset recreates an empty-but-working collection."""
        with self._ingest_lock:
            serving = self._snapshot()
            release_all()
            self.clear_cache()
            with self._lock:
                self._stats.clear()
            self._serving = tuple(tracked_persist(df) for df in serving)

    def health(self) -> dict:
        return {"status": "healthy", "document_count": self.products.count()}

    def collections(self) -> dict:
        return {
            "collections": [
                {
                    "name": "products",
                    "points_count": self.products.count(),
                    "vectors": {"dense": {"size": E.HASH_EMBED_DIM, "distance": "Cosine"}},
                }
            ]
        }
