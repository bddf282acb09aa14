"""API façade: endpoint-parity behaviors (dispatch, fusion, filters,
projections, EMA telemetry, ingest/export round-trip)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_search_application_spark.api import Engine


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def sample(engine):
    return engine.products.orderBy("id").first()


def test_query_mode_dispatch(engine):
    text = "large widget"
    dense = engine.query(text, "dense").collect()
    sparse = engine.query(text, "sparse").collect()
    hybrid = engine.query(text, "hybrid").collect()
    assert dense and sparse and hybrid
    assert {"id", "score"} <= set(engine.query(text, "dense").columns)
    hybrid_ids = {r["id"] for r in hybrid}
    branch_ids = {r["id"] for r in dense} | {r["id"] for r in sparse}
    # RRF can only surface ids produced by its branches (the old
    # 'or len(hybrid_ids) > 0' disjunct was always true — dead check)
    assert hybrid_ids <= branch_ids
    with pytest.raises(ValueError):
        engine.query(text, "bogus")


def test_exact_beats_vector_in_fusion(engine, sample):
    pn = sample["partNumber_airgas_text"]
    out = engine.search_fusion(pn.lower(), 5).collect()
    assert out[0]["id"] == sample["id"]
    assert out[0]["score"] == 1.0
    assert "exact" in out[0]["search_type"]


def test_search_details_projection(engine):
    rows = engine.search("large widget", 5, use_fusion=True).collect()
    assert rows
    cols = set(engine.search("large widget", 1).columns)
    assert {"image", "id", "text", "Mfr Code", "Price", "score",
            "search_type", "match_quality"} == cols
    for r in rows:
        if r["image"] is not None:
            assert r["image"].startswith("http://www.airgas.com/images/")


def test_filtered_search_respects_filter(engine):
    # pick a row with a NON-NULL mfr (the hash-ordered first row is
    # NULL for ~5% of keys) and a non-null description, and require a
    # non-empty result — all() over [] passed vacuously before
    sample = (
        engine.products.filter(
            F.col("manufacturerPartNumber_text").isNotNull()
            & F.col("shortDescription_airgas_text").isNotNull()
        )
        .orderBy("id")
        .first()
    )
    mfr = sample["manufacturerPartNumber_text"]
    rows = engine.filtered_search(
        sample["shortDescription_airgas_text"],
        "manufacturerPartNumber_text", mfr, 5,
    ).collect()
    assert rows, "filtered search must match the row it was seeded from"
    assert all(
        engine.products.filter(
            (F.col("id") == r["id"])
            & (F.col("manufacturerPartNumber_text") == mfr)
        ).count() == 1
        for r in rows
    )


def test_compare_and_ema_stats(engine):
    report = engine.compare("blue rod")
    assert set(report["engines"]) == {"ultra_fast", "fusion", "lean"}
    for e in report["engines"].values():
        assert e["time_ms"] >= 0
        assert len(e["preview"]) <= 3
    stats = engine.performance_stats()
    assert stats["ultra_fast"]["count"] >= 1
    # EMA recurrence: after 2+ samples avg is not the plain mean of an
    # arbitrary pair but follows 0.9/0.1 — just assert shape + positivity
    assert stats["ultra_fast"]["avg_time_ms"] > 0


def test_query_embed_cache(engine):
    engine.clear_cache()
    engine.query("cold widget", "dense")
    engine.query("cold widget", "dense")
    assert len(engine._query_emb_cache) == 1
    assert engine.clear_cache() == 1


def test_query_embed_cache_is_lru(engine):
    """Eviction must drop the least-recently-USED entry, not the
    oldest-inserted (the reference uses functools.lru_cache(1000))."""
    engine.clear_cache()
    old_cap = engine._query_cache_capacity
    engine._query_cache_capacity = 2
    try:
        engine._embed_query("alpha")
        engine._embed_query("beta")
        engine._embed_query("alpha")   # hit: alpha is now most-recent
        engine._embed_query("gamma")   # evicts beta (LRU), NOT alpha
        assert set(engine._query_emb_cache) == {"alpha", "gamma"}
    finally:
        engine._query_cache_capacity = old_cap
        engine.clear_cache()


def test_search_postfilter_keeps_top_scored(engine, tmp_path):
    """When more rows survive the Q2 post-filter than `count`, search()
    must keep the TOP-scored survivors (the reference truncates the
    score-ranked list) — not an arbitrary pre-sort subset.

    The corpus can't exercise this: manufacturerPartNumber_text is
    UNIQUE per product (padded p_partkey), so every filter value
    matches one row and the limit never binds. Load six docs sharing
    one mfr whose texts carry a token UNIQUE to them (zzwidgetzz), so
    for that query every corpus row scores 0, all six reach the
    inflated top-k, and the truncation is real."""
    docs = [
        {
            "partNumber_airgas_text": f"PF{i:07d}",
            "manufacturerPartNumber_text": "SHAREDMFR01",
            "shortDescription_airgas_text": f"zzwidgetzz alpha{i}",
        }
        for i in range(6)
    ]
    src_file = tmp_path / "pf_upload.json"
    src_file.write_text(json.dumps(docs))
    engine.load_data(str(src_file), str(tmp_path / "pf_table"))
    mfr = "SHAREDMFR01"
    got = engine.search(
        "zzwidgetzz", 3, filter_field="manufacturerPartNumber_text",
        filter_value=mfr, use_fusion=False,
    ).collect()
    assert len(got) == 3  # the limit binds: >3 rows share the value
    # recompute: all survivors of the same inflated search, ranked
    from vector_search_application_spark.plans.constants import (
        POSTFILTER_INFLATION,
    )

    hits = engine.search_ultra_fast(
        "zzwidgetzz", 3 * POSTFILTER_INFLATION
    ).withColumn("search_type", F.lit("vector"))
    survivors = (
        hits.join(engine.products, "id")
        .filter(F.col("manufacturerPartNumber_text") == mfr)
        .orderBy(F.desc("score"), F.asc("id"))
        .collect()
    )
    # Spark ROUND is HALF_UP over the shortest repr; Python round() is
    # banker's — use the repo's twin so exact-half scores can't diverge
    from vector_search_application_spark.functions.portable import round_half_up

    assert len(survivors) > 3  # premise: more survivors than count
    want = [(r["id"], round_half_up(r["score"], 3)) for r in survivors[:3]]
    assert [(r["id"], r["score"]) for r in got] == want


def test_health_and_collections(engine):
    h = engine.health()
    assert h["status"] == "healthy" and h["document_count"] > 0
    c = engine.collections()
    assert c["collections"][0]["points_count"] == h["document_count"]
    assert c["collections"][0]["vectors"]["dense"]["distance"] == "Cosine"


def test_load_data_and_export_roundtrip(engine, tmp_path):
    docs = [
        {"partNumber_airgas_text": "RAD0000001",
         "shortDescription_airgas_text": "test gas torch",
         "onlinePrice_string": "9.99"},
        {"partNumber_airgas_text": "MIL0000002",
         "manufacturerPartNumber_text": "0000002",
         "shortDescription_airgas_text": "test welding helmet"},
    ]
    src = tmp_path / "upload.json"
    src.write_text(json.dumps(docs))
    table = str(tmp_path / "table")
    assert engine.load_data(str(src), table) == 2
    loaded = engine.spark.read.parquet(table)
    assert {"_id", "dense_text", "sparse_text", "id"} <= set(loaded.columns)
    row = loaded.filter(F.col("partNumber_airgas_text") == "RAD0000001").first()
    assert row["_id"] == "RAD0000001"          # T2 default
    assert row["img_270Wx270H_string"] is None  # T3 None-fill
    assert row["sparse_text"] == "test gas torch RAD0000001"

    out = tmp_path / "export.json"
    path, n = engine.export(str(out))
    assert n == engine.products.count()
    data = json.loads(out.read_text())
    assert len(data) == n
    assert list(data[0].keys()) == [
        "_id", "partNumber_airgas_text", "manufacturerPartNumber_text",
        "shortDescription_airgas_text", "onlinePrice_string",
        "img_270Wx270H_string",
    ]


def test_repeated_load_data_same_table_dir(engine, tmp_path):
    """Regression: _absorb_locked must cut lineage (localCheckpoint), not just
    persist — a lazy plan pins table_dir's file listing, and the second
    load-data overwrites those parquet files, so any later action read
    deleted files and died with FileNotFoundException."""
    table = str(tmp_path / "retable")
    for i, pn in enumerate(["ABS0000001", "ABS0000002"]):
        src = tmp_path / f"up{i}.json"
        src.write_text(json.dumps([{
            "partNumber_airgas_text": pn,
            "shortDescription_airgas_text": f"absorb probe {i}",
        }]))
        assert engine.load_data(str(src), table) == 1
    # both absorbed rows must be servable AFTER the overwrite
    ids = {
        r["_id"]
        for r in engine.products.filter(
            F.col("partNumber_airgas_text").startswith("ABS")
        ).collect()
    }
    assert ids == {"ABS0000001", "ABS0000002"}


def test_concurrent_imports_lose_no_rows(engine, tmp_path):
    """Regression: _absorb_locked's read-merge-swap is serialized by the
    ingest lock. Without it, two imports that both captured the same
    old corpus each build merged = own_rows + old, and whichever swap
    lands second silently discards the other import's rows — a load
    that reported success but never became searchable."""
    import threading

    pns = ["CON0000001", "CON0000002", "CON0000003", "CON0000004"]
    srcs = []
    for i, pn in enumerate(pns):
        src = tmp_path / f"con{i}.json"
        src.write_text(json.dumps([{
            "partNumber_airgas_text": pn,
            "shortDescription_airgas_text": f"concurrent probe {i}",
        }]))
        srcs.append((str(src), str(tmp_path / f"contable{i}")))
    errs = []

    def load(src, table):
        try:
            engine.load_data(src, table)
        except Exception as e:  # surface worker-thread failures
            errs.append(e)

    threads = [threading.Thread(target=load, args=s) for s in srcs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    ids = {
        r["_id"]
        for r in engine.products.filter(
            F.col("partNumber_airgas_text").startswith("CON")
        ).collect()
    }
    assert ids == set(pns)
    # and each is actually searchable through the serving indexes
    hit = engine.query("concurrent probe 2", mode="sparse", count=50)
    assert hit.count() > 0


def test_concurrent_imports_same_table_dir(engine, tmp_path):
    """Harder variant: both imports target the SAME table_dir. The
    ingest lock must span the parquet WRITE as well as the absorb —
    otherwise import B's overwrite of the shared dir lands between
    import A's write and A's absorb, so A reads B's rows (A silently
    lost) or dies mid-scan on deleted files."""
    import threading

    pns = ["SAM0000001", "SAM0000002", "SAM0000003", "SAM0000004"]
    table = str(tmp_path / "shared_table")
    srcs = []
    for i, pn in enumerate(pns):
        src = tmp_path / f"sam{i}.json"
        src.write_text(json.dumps([{
            "partNumber_airgas_text": pn,
            "shortDescription_airgas_text": f"shared dir probe {i}",
        }]))
        srcs.append(str(src))
    errs = []

    def load(src):
        try:
            engine.load_data(src, table)
        except Exception as e:  # surface worker-thread failures
            errs.append(e)

    threads = [threading.Thread(target=load, args=(s,)) for s in srcs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    ids = {
        r["_id"]
        for r in engine.products.filter(
            F.col("partNumber_airgas_text").startswith("SAM")
        ).collect()
    }
    assert ids == set(pns)


def test_reset_racing_import_stays_serviceable(engine, tmp_path):
    """reset() and load_data() serialize on the ingest lock: whatever
    order the race resolves in, the engine must stay serviceable and
    no request may observe a half-swapped serving trio. (A reset that
    interleaved inside an absorb could unpersist the very tables the
    absorb is about to re-point at.)"""
    import threading

    srcs = []
    for i, pn in enumerate(["RST0000001", "RST0000002"]):
        src = tmp_path / f"rst{i}.json"
        src.write_text(json.dumps([{
            "partNumber_airgas_text": pn,
            "shortDescription_airgas_text": f"reset race probe {i}",
        }]))
        srcs.append((str(src), str(tmp_path / f"rsttable{i}")))
    errs = []

    def load(src, table):
        try:
            engine.load_data(src, table)
        except Exception as e:
            errs.append(e)

    def reset():
        try:
            engine.reset()
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=load, args=srcs[0]),
               threading.Thread(target=reset),
               threading.Thread(target=load, args=srcs[1])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    # both loads won their absorb (reset only drops cache state, never
    # rows), and the engine answers queries afterwards
    ids = {
        r["_id"]
        for r in engine.products.filter(
            F.col("partNumber_airgas_text").startswith("RST")
        ).collect()
    }
    assert ids == {"RST0000001", "RST0000002"}
    assert engine.query("reset race probe", mode="sparse", count=5).count() > 0


def test_snapshot_is_version_consistent(engine):
    """_snapshot() hands back ONE version of the serving trio: the
    members must be exactly the current tuple's objects (a single
    atomic load, not three reads that an absorb could interleave)."""
    snap = engine._snapshot()
    assert snap is engine._serving
    assert snap[0] is engine.products
    assert snap[1] is engine.dense_index
    assert snap[2] is engine.sparse_postings


def test_search_requires_filter_value_with_field(engine):
    with pytest.raises(ValueError, match="filter_value"):
        engine.search("widget", 3, filter_field="manufacturerPartNumber_text")


def test_reset_leaves_engine_serviceable(spark):
    """reset() drops caches but the engine must keep answering — its
    indexes re-persist lazily (the reference's reset leaves a working
    collection)."""
    from tests.conftest import SF_SMOKE
    from vector_search_application_spark.api import Engine

    from vector_search_application_spark.functions import cache

    e = Engine(spark, SF_SMOKE)
    before = [r["id"] for r in e.search_ultra_fast("large widget", 5).collect()]
    e.reset()
    assert e.performance_stats() == {}
    # the whole cache lifecycle is dropped, then the serving trio alone
    # is tracked again
    assert [id(d) for d in cache._LIVE] == [id(d) for d in e._snapshot()]
    after = [r["id"] for r in e.search_ultra_fast("large widget", 5).collect()]
    assert after == before
    e.reset()


def test_load_data_duplicate_id_last_wins(engine, tmp_path):
    """An upload repeating an _id must leave exactly ONE served row
    (the reference's Qdrant upsert applies points in order — last
    wins). Two rows would double the id in search results, pool both
    docs into one dense vector, and make BM25's doc_len run-dependent."""
    docs = [
        {"partNumber_airgas_text": "DUP0000001",
         "shortDescription_airgas_text": "first version"},
        {"partNumber_airgas_text": "DUP0000001",
         "shortDescription_airgas_text": "second version"},
    ]
    src = tmp_path / "dup_upload.json"
    src.write_text(json.dumps(docs))
    engine.load_data(str(src), str(tmp_path / "dup_table"))
    served, _, _ = engine._snapshot()
    rows = served.filter(
        F.col("partNumber_airgas_text") == "DUP0000001"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["shortDescription_airgas_text"] == "second version"


def test_import_full_duplicate_id_across_files_wins_by_name_order(
    engine, tmp_path
):
    """A duplicate _id spanning two files of one directory import must
    resolve last-wins in FILE NAME order (the reference drains an
    unsorted glob through a thread pool in nondeterministic completion
    order; lexicographic name order is OUR deterministic pin), not in
    part-file order of the written table — Spark schedules JSON splits
    size-DESCENDING, so the adversarial shape is 'later-named file is
    larger': it lands in an EARLIER part file, and a read-order dedupe
    would wrongly keep the earlier-named file's row. import_full's
    __src_file/__src_pos stamp pins the true intake order."""
    imp = tmp_path / "dup_import"
    os.makedirs(imp)
    dup = {"_id": "XFL0000001", "partNumber_airgas_text": "XFL0000001",
           "manufacturerPartNumber_text": "777",
           "shortDescription_airgas_text": "version from file a",
           "onlinePrice_string": "1.0", "img_270Wx270H_string": None}
    # a.json: tiny (just the dup). b.json: the dup's LATER version plus
    # enough filler rows to make it the larger file.
    (imp / "a.json").write_text(json.dumps([dup]))
    filler = [
        {"_id": f"FIL{i:07d}", "partNumber_airgas_text": f"FIL{i:07d}",
         "manufacturerPartNumber_text": None,
         "shortDescription_airgas_text": f"filler doc number {i} with text",
         "onlinePrice_string": "2.0", "img_270Wx270H_string": None}
        for i in range(40)
    ]
    b_dup = dict(dup, shortDescription_airgas_text="version from file b")
    (imp / "b.json").write_text(json.dumps(filler + [b_dup]))
    assert (imp / "b.json").stat().st_size > (imp / "a.json").stat().st_size

    engine.import_full(str(imp), str(tmp_path / "dup_import_table"))
    served, _, _ = engine._snapshot()
    rows = served.filter(
        F.col("partNumber_airgas_text") == "XFL0000001"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["shortDescription_airgas_text"] == "version from file b"


def test_embed_postings_drops_null_ids(spark):
    """A doc without an id cannot be indexed (same rule as the BM25
    postings pair): without the filter every NULL-id doc's tokens sum
    into ONE phantom dense entry that outranks real results and joins
    to no document."""
    from vector_search_application_spark.functions import embedder as E

    docs = spark.sql(
        "SELECT CASE WHEN id < 2 THEN NULL ELSE id END AS doc_id,"
        " 'shared phantom tokens' AS text FROM range(4)"
    )
    emb = E.embed_postings(docs, "doc_id", "text")
    assert emb.filter(F.col("id").isNull()).count() == 0
    assert emb.select("id").distinct().count() == 2
