"""Structured Streaming ingest: incremental processing and
checkpoint-based resume across separate runs."""

import os
import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_search_application_spark.plans import corpus
from vector_search_application_spark.streaming import ingest


def _bucket_files(table: str) -> dict:
    """(file, mtime) listing per __bucket= dir — the byte-identity probe
    both incremental-upsert tests share."""
    out = {}
    for d in os.listdir(table):
        if d.startswith("__bucket="):
            full = os.path.join(table, d)
            out[d] = sorted(
                (f, os.path.getmtime(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
    return out


def test_stream_upsert_incremental_and_resume(spark, tmp_path):
    src = tmp_path / "src"
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    docs = corpus.docs(spark, SF_SMOKE).select("doc_id", "text")
    batch1 = docs.filter(F.col("doc_id") < 100)
    batch1.coalesce(1).write.parquet(str(src / "b1"))
    # stream sees b1/* via recursive glob on the dir? file source lists
    # files under the dir; write batches as flat files instead
    for f in (src / "b1").iterdir():
        if f.name.endswith(".parquet"):
            f.rename(src / "batch1.parquet")

    out1 = ingest.stream_upsert(
        spark, str(src / "*.parquet"), table, ckpt, key="doc_id"
    )
    assert out1.count() == batch1.count()

    before = _bucket_files(table)
    assert before, "stream sink should be a bucketed layout"

    # second run: an overlapping batch with mutated text arrives; only
    # the new file is processed (checkpoint), updates win on their keys
    batch2 = (
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 150))
        .withColumn("text", F.concat(F.lit("UPDATED "), F.col("text")))
    )
    batch2.coalesce(1).write.parquet(str(src / "b2"))
    for f in (src / "b2").iterdir():
        if f.name.endswith(".parquet"):
            f.rename(src / "batch2.parquet")

    out2 = ingest.stream_upsert(
        spark, str(src / "*.parquet"), table, ckpt, key="doc_id"
    )
    n_expected = docs.filter(F.col("doc_id") < 150).count()
    assert out2.count() == n_expected
    updated = out2.filter(F.col("text").startswith("UPDATED")).count()
    assert updated == batch2.count()
    untouched = out2.filter(
        (F.col("doc_id") < 50) & F.col("text").startswith("UPDATED")
    ).count()
    assert untouched == 0

    # the micro-batch merge must rewrite ONLY the buckets holding
    # batch2's keys — untouched bucket directories stay byte-identical
    from vector_search_application_spark.sources import layout

    touched = {
        f"__bucket={r['b']}"
        for r in batch2.select(
            layout._bucket_of(F.col("doc_id"), layout.N_BUCKETS).alias("b")
        ).distinct().collect()
    }
    after = _bucket_files(table)
    for d in set(before) - touched:
        assert after[d] == before[d], f"untouched bucket {d} was rewritten"


def test_layout_fs_helpers(spark, tmp_path):
    """table_has_data / is_bucketed go through the Hadoop FS API (they
    must answer on paths, not os.listdir) — empty dir, flat parquet,
    bucketed layout."""
    from vector_search_application_spark.plans import corpus
    from vector_search_application_spark.sources import layout

    missing = str(tmp_path / "missing")
    assert not layout.table_has_data(spark, missing)
    assert not layout.is_bucketed(spark, missing)

    empty = tmp_path / "empty"
    empty.mkdir()
    assert not layout.table_has_data(spark, str(empty))

    docs = corpus.docs(spark, SF_SMOKE).select("doc_id", "text").limit(10)
    flat = str(tmp_path / "flat")
    docs.write.parquet(flat)
    assert layout.table_has_data(spark, flat)
    assert not layout.is_bucketed(spark, flat)

    bucketed = str(tmp_path / "bucketed")
    layout.write_bucketed(docs, bucketed, "doc_id")
    assert layout.table_has_data(spark, bucketed)
    assert layout.is_bucketed(spark, bucketed)


def test_stateful_ema_matches_python_model(spark):
    """applyInPandasWithState EMA must equal the reference's EMA math
    (avg = 0.9*avg + 0.1*x) replayed over ts-ordered events per type.
    The corpus is a single parquet file -> one micro-batch, so the
    globally-sorted Python replay IS the operator's ordering contract
    (within-batch (ts, event_id) order; across batches, arrival order)."""
    import os as _os

    path = _os.path.join(SF_SMOKE, "events.parquet")
    got = {
        r["event_type"]: (r["ema"], r["n"])
        for r in ingest.stateful_ema(spark, path).collect()
    }

    rows = (
        spark.read.parquet(path)
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    expected = {}
    for r in sorted(rows, key=lambda r: (r["ts"], r["event_id"])):
        ema, n = expected.get(r["event_type"], (None, 0))
        ema = r["value"] if ema is None else 0.9 * ema + 0.1 * r["value"]
        expected[r["event_type"]] = (ema, n + 1)

    assert set(got) == set(expected)
    for k, (ema, n) in expected.items():
        assert got[k][1] == n
        assert abs(got[k][0] - ema) < 1e-9


def test_stateful_ema_resumes_from_checkpoint(spark, tmp_path):
    """Second run over the same checkpoint must fold ONLY the new file's
    events on top of stored state (no recompute of history)."""
    import os as _os

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(src)

    # testdata stores TIMESTAMP(NANOS); read as bigint like corpus._read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(_os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_type", "ts", "event_id", "value", "user_id", "props"
    )
    first = events.filter(F.col("event_id") < 500)
    second = events.filter(F.col("event_id") >= 500)
    first.coalesce(1).write.parquet(str(src / "b1"))
    for f in (src / "b1").iterdir():
        if f.name.endswith(".parquet"):
            f.rename(src / "batch1.parquet")

    out1 = {
        r["event_type"]: (r["ema"], r["n"])
        for r in ingest.stateful_ema(
            spark, str(src / "*.parquet"), checkpoint_dir=ckpt
        ).collect()
    }

    second.coalesce(1).write.parquet(str(src / "b2"))
    for f in (src / "b2").iterdir():
        if f.name.endswith(".parquet"):
            f.rename(src / "batch2.parquet")

    out2 = {
        r["event_type"]: (r["ema"], r["n"])
        for r in ingest.stateful_ema(
            spark, str(src / "*.parquet"), checkpoint_dir=ckpt
        ).collect()
    }

    # python model: batch1's events in (ts, event_id) order, THEN batch2's
    expected = {}
    for batch in (first, second):
        rows = sorted(batch.collect(), key=lambda r: (r["ts"], r["event_id"]))
        for r in rows:
            ema, n = expected.get(r["event_type"], (None, 0))
            ema = r["value"] if ema is None else 0.9 * ema + 0.1 * r["value"]
            expected[r["event_type"]] = (ema, n + 1)

    assert {k: v[1] for k, v in out2.items()} == {
        k: v[1] for k, v in expected.items()
    }
    for k, (ema, _) in expected.items():
        assert abs(out2[k][0] - ema) < 1e-9
    # and the counts strictly grew from run 1 (state carried, not reset)
    assert all(out2[k][1] > out1[k][1] for k in out1)


def test_compact_buckets_preserves_data(spark, tmp_path):
    """Compaction must reduce per-bucket file counts to the target,
    keep the table byte-equal, and leave already-compact buckets'
    files untouched."""
    from vector_search_application_spark.plans import corpus
    from vector_search_application_spark.sources import layout

    docs = corpus.docs(spark, SF_SMOKE).select("doc_id", "text")
    table = str(tmp_path / "table")
    # build a fragmented table: initial load + 3 small upserts
    layout.write_bucketed(docs.filter(F.col("doc_id") < 300), table, "doc_id")
    for lo in (300, 350, 400):
        batch = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)
        )
        layout.bucketed_upsert(spark, table, batch, "doc_id")

    before_rows = sorted(
        map(tuple, spark.read.parquet(table).drop("__bucket").collect())
    )


    before = _bucket_files(table)
    fragmented = {d for d, fl in before.items() if len(fl) > 1}
    assert fragmented, "test setup should fragment some buckets"

    compacted = layout.compact_buckets(spark, table)
    assert set(compacted) == fragmented

    after = _bucket_files(table)
    for d in set(before) - fragmented:  # untouched buckets: identical
        assert after[d] == before[d]
    for d in fragmented:  # compacted buckets: single file now
        assert len(after[d]) == 1

    after_rows = sorted(
        map(tuple, spark.read.parquet(table).drop("__bucket").collect())
    )
    assert after_rows == before_rows


def test_ts_us_survives_schema_drift(spark):
    """corpus.ts_us() must yield identical BIGINT epoch-micros whether the
    generator wrote events.ts as TIMESTAMP(NANOS)->BIGINT, TIMESTAMP, or
    TIMESTAMP_NTZ — the round-3 regression was exactly this drift."""
    import duckdb
    from pyspark.sql.types import LongType

    for sf_dir in ["/root/testdata/sf0.001", SF_SMOKE]:
        raw = corpus._read(spark, sf_dir, "events")
        got = (
            raw.select("event_id", corpus.ts_us(raw).alias("ts_us"))
            .orderBy("event_id")
            .limit(50)
        )
        assert isinstance(got.schema["ts_us"].dataType, LongType)
        want = duckdb.sql(
            f"SELECT event_id, epoch_us(ts) AS ts_us "
            f"FROM '{sf_dir}/events.parquet' ORDER BY event_id LIMIT 50"
        ).fetchall()
        assert [(r.event_id, r.ts_us) for r in got.collect()] == want

    # synthetic drift: the same instants as BIGINT nanos and TIMESTAMP
    ntz = corpus._read(spark, SF_SMOKE, "events").select("event_id", "ts").limit(20)
    base = ntz.select("event_id", corpus.ts_us(ntz).alias("us"))
    as_nanos = ntz.select("event_id", (corpus.ts_us(ntz) * 1000).alias("ts"))
    as_tstz = ntz.select(
        "event_id", F.timestamp_micros(corpus.ts_us(ntz)).alias("ts")
    )
    for variant in (as_nanos, as_tstz):
        got = variant.select("event_id", corpus.ts_us(variant).alias("us"))
        assert sorted(got.collect()) == sorted(base.collect())


def test_session_rollup_gap_boundary(spark, tmp_path):
    """session_window merges sessions whose ranges touch at-or-before
    last_event + gap: an EXACTLY-gap silence stays one session, one
    microsecond more breaks it — the same boundary as the batch
    lag-formulation (test_new_ops_edges.test_sessionize_gap_boundary),
    so stream_sessionize shares its oracle's break condition."""
    from vector_search_application_spark.plans.registry_streaming import (
        SESSION_GAP_US,
    )

    rows = [
        # user 1: gap exactly SESSION_GAP_US -> still one session
        (1, 1, "a", 0),
        (2, 1, "a", SESSION_GAP_US * 1000),
        # user 2: one microsecond more -> two sessions
        (3, 2, "a", 0),
        (4, 2, "a", (SESSION_GAP_US + 1) * 1000),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts bigint"
    )
    out = ingest.session_rollup(df)
    per_user = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_user == {1: 1, 2: 2}


def test_stream_sessionize_matches_batch_session_window(spark, tmp_path):
    """The settled streaming result (state merged across micro-batches)
    equals the batch session_window over the same files."""
    events = corpus._read(spark, SF_SMOKE, "events")
    batch = {
        (r["user_id"], r["start_us"]): (r["n_events"], r["end_us"])
        for r in ingest.session_rollup(events).collect()
    }
    streamed = {
        (r["user_id"], r["start_us"]): (r["n_events"], r["end_us"])
        for r in ingest.stream_sessionize(
            spark, os.path.join(SF_SMOKE, "events.parquet")
        ).collect()
    }
    assert streamed == batch

def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """The late-data contract the registry queries deliberately avoid:
    in APPEND mode a row arriving behind the checkpointed watermark is
    dropped once its window is finalized. Two separate runs share a
    checkpoint so the batch boundary (and the watermark restore) is
    deterministic — no reliance on file-listing order. The declared
    streaming queries use complete/AvailableNow exactly so this cannot
    fire (oracle equality); this pins the semantics for the
    incremental deployment shape, where it does."""
    src = tmp_path / "late_src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)

    def write_file(name, rows):
        df = spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, event_type string,"
            " ts bigint, value double"
        )
        tmp = tmp_path / ("stage_" + name)
        df.coalesce(1).write.parquet(str(tmp))
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(tmp / part, src / name)

    from vector_search_application_spark.streaming.ingest import (
        windowed_event_counts,
    )

    schema = "event_id bigint, user_id bigint, event_type string, ts bigint, value double"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        agg = windowed_event_counts(stream, "1 hour", "10 minutes")

        def sink(batch, batch_id):
            batch.write.mode("append").parquet(out)

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    hour_ns = 3_600_000_000_000
    # run 1: events through hour 10 -> checkpointed watermark 9:50
    write_file(
        "a.parquet",
        [
            (1, 1, "x", 8 * hour_ns + 1, 1.0),   # window [8:00, 9:00)
            (2, 1, "x", 10 * hour_ns, 1.0),      # advances the watermark
        ],
    )
    run_once()
    # run 2: a row for hour 8, far behind the restored watermark
    write_file("b.parquet", [(3, 1, "x", 8 * hour_ns + 2, 1.0)])
    run_once()

    got = {
        r["window_start_ms"]: r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    # hour-8 window finalized with ONE event; the late row was dropped
    # (batch semantics would count 2)
    assert got[8 * 3600 * 1000] == 1


def test_stream_dedup_ingest_drops_across_batches(spark):
    """The settled table equals the batch exact-dedup canonical set:
    one survivor (doc 0) for the seeded 50-doc duplicate clique that
    spans every micro-batch shard, all other docs untouched — proving
    the anti-join dropped rows in LATER batches, not just within the
    first one."""
    from vector_search_application_spark.plans.registry_streaming import (
        q_stream_dedup_ingest,
    )

    rows = {r.doc_id: r for r in q_stream_dedup_ingest(spark, SF_SMOKE).collect()}
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    n_seeded = len([i for i in range(0, n_docs, 1) if i % 10 == 0])
    assert len(rows) == n_docs - (n_seeded - 1)
    assert 0 in rows and rows[0].text == "duplicate seed block"
    # every later clique member (each lands in a different shard) is gone
    assert all(doc_id not in rows for doc_id in range(10, n_docs, 10) if doc_id != 0)


def test_stream_sessionize_incremental_evicts_closed_state(spark, tmp_path):
    """Multi-trigger append-mode sessionize must EVICT closed sessions:
    four epoch-ordered files arrive as separate micro-batches, each
    epoch's events advance the watermark far past the previous epoch's
    session closes, so (a) every session from the first three epochs is
    emitted and dropped from state, (b) peak state rows stay well below
    the total session count — eviction lags the watermark advance by
    one trigger (the watermark commits at END of batch, evicting in the
    next), so steady-state peak is 2 epochs' worth, never all 4 — and
    (c) final-epoch sessions, still open at end-of-stream, sit in
    state unemitted. Complete-mode stream_sessionize can't show any of
    this (it holds every session until the stream ends by design)."""
    import time as _time

    src = tmp_path / "events_incr"
    os.makedirs(src)
    n_users = 40
    n_epochs = 4
    day_us = 86_400 * 1_000_000
    t0 = 1_704_067_200_000_000

    def write_epoch(name: str, base_us: int):
        rows = [
            (base_us // 1000 + u, base_us + u * 1_000_000, u, "view", 1.0, None)
            for u in range(n_users)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_us long, user_id long, event_type string, "
            "value double, props string",
        ).select(
            "event_id",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        staging = src / ("_" + name)
        df.coalesce(1).write.parquet(str(staging))
        part = next(f for f in staging.iterdir() if f.name.endswith(".parquet"))
        part.rename(src / name)

    # file-source ordering is by modification time: oldest epoch first
    for e in range(n_epochs):
        if e:
            _time.sleep(1.1)
        write_epoch(f"epoch{e}.parquet", t0 + e * day_us)

    emitted, progress = ingest.stream_sessionize_incremental(
        spark, str(src), state_partitions=4
    )
    emitted_rows = emitted.collect()
    state_rows = [
        so.get("numRowsTotal", 0)
        for p in progress
        for so in (p.get("stateOperators") or [])
    ]
    total_sessions = n_epochs * n_users
    # (a) exactly the closed epochs' sessions emitted, one per user
    assert len(emitted_rows) == (n_epochs - 1) * n_users
    last_epoch_us = t0 + (n_epochs - 1) * day_us
    assert all(r["start_us"] < last_epoch_us for r in emitted_rows)
    # (b) closed state was evicted: peak is 2 epochs' worth (current +
    # the previous epoch pending its post-watermark eviction), far
    # below the total an eviction-free store would accumulate
    assert max(state_rows) == 2 * n_users < total_sessions
    # (c) open final-epoch sessions remain in state at end-of-stream
    assert state_rows[-1] == n_users


def test_stream_dedup_ingest_null_text_across_batches(spark, tmp_path):
    """NULL-text docs hash to NULL, and a LEFT ANTI equi-join never
    matches NULL = NULL — without the sentinel coalesce, every batch's
    NULL-text doc reached the table while the oracle's PARTITION BY
    sha256(text) keeps exactly one. Two NULL-text docs land in
    different micro-batch shards; only the lower doc_id may survive."""
    from vector_search_application_spark.streaming.ingest import (
        stream_dedup_ingest,
    )

    sf = tmp_path / "null_sf"
    os.makedirs(sf)
    spark.sql(
        "SELECT id AS doc_id,"
        " CASE WHEN id IN (3, 77) THEN CAST(NULL AS STRING)"
        "      ELSE concat('doc text ', id) END AS text,"
        " 'src' AS source"
        " FROM range(100)"
    ).write.parquet(str(sf / "documents.parquet"))
    got = stream_dedup_ingest(spark, str(sf))
    null_rows = got.filter(F.col("text").isNull()).collect()
    assert len(null_rows) == 1 and null_rows[0]["doc_id"] == 3


def test_stream_embed_empty_source_returns_empty(spark, tmp_path):
    """The 'empty result, not an error' resume contract for
    stream_embed_documents, both empty shapes:

    - a zero-FILE source (the table was never written): schema
      inference would raise UNABLE_TO_INFER_SCHEMA before any stream
      starts, so the source guard must short-circuit to an empty
      postings frame;
    - a zero-ROW source (a part file exists): the micro-batch still
      fires (an empty batch writes an empty batch=0 part), so the
      NORMAL sink-read path must come back empty with the same schema
      — no sink guard involved (a sink-side existence guard is
      unreachable here and was removed as dead code in r9)."""
    from vector_search_application_spark.streaming.ingest import (
        stream_embed_documents,
    )

    expected = [("doc_id", "bigint"), ("dim", "int"), ("comp", "double")]

    no_files_sf = tmp_path / "no_files_embed_sf"
    os.makedirs(no_files_sf)  # documents.parquet never written
    got = stream_embed_documents(spark, str(no_files_sf))
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema.fields] == expected

    empty_sf = tmp_path / "empty_embed_sf"
    os.makedirs(empty_sf)
    spark.sql(
        "SELECT CAST(id AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text,"
        " 'src' AS source FROM range(0)"
    ).write.parquet(str(empty_sf / "documents.parquet"))
    got = stream_embed_documents(spark, str(empty_sf))
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema.fields] == expected


def test_stream_dedup_ingest_empty_source_and_negative_ids(spark, tmp_path):
    """Two shard-construction edges the range math used to mishandle:
    an EMPTY corpus crashed on the missing part file (the oracle would
    return an empty set), and doc_ids below 0 fell outside every
    [0, 4*step) shard and silently never reached the sink."""
    from vector_search_application_spark.streaming.ingest import (
        stream_dedup_ingest,
    )

    empty_sf = tmp_path / "empty_sf"
    os.makedirs(empty_sf)
    spark.sql(
        "SELECT CAST(id AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text,"
        " 'src' AS source FROM range(0)"
    ).write.parquet(str(empty_sf / "documents.parquet"))
    assert stream_dedup_ingest(spark, str(empty_sf)).count() == 0

    neg_sf = tmp_path / "neg_sf"
    os.makedirs(neg_sf)
    spark.sql(
        "SELECT id - 5 AS doc_id, concat('doc text ', id) AS text,"
        " 'src' AS source FROM range(40)"
    ).write.parquet(str(neg_sf / "documents.parquet"))
    got = stream_dedup_ingest(spark, str(neg_sf))
    ids = sorted(r["doc_id"] for r in got.collect())
    # every 10th id becomes the seeded duplicate block; min id wins.
    # negative ids must be PRESENT (they used to fall between shards)
    assert ids[0] == -5
    expected = sorted(
        {i - 5 for i in range(40)}
        - {i - 5 for i in range(40) if (i - 5) % 10 == 0}
        | {min(i - 5 for i in range(40) if (i - 5) % 10 == 0)}
    )
    assert ids == expected


def test_stream_neardup_ingest_matches_global_rule(spark, tmp_path):
    """The streaming near-dup ingest's settled set must equal the
    GLOBAL statement of its rule — a doc survives iff no banded
    MinHash pair (id_a < id_b, jaccard >= threshold) names it as id_b
    over the whole corpus — including the chain case the per-batch
    split could get wrong: B (near A, dropped in a later batch) must
    still drop C (near B, NOT near A) in a yet-later batch, which
    requires the state index to retain DROPPED docs. Texts are crafted
    so the chain spans the 4 doc_id-range shards: A (id 1) in shard 1,
    B (id 30) in shard 2, C (id 60) in shard 3; ids avoid multiples of
    40 so the function's own boilerplate seeding leaves them alone.
    The banding is deterministic (fixed MINHASH_A/B), so whatever
    pairs the band family finds, BOTH sides of this assertion see —
    the test pins the streaming/batch agreement, not band recall."""
    from vector_search_application_spark.operators.dedup import (
        minhash_dedup_pairs,
    )
    from vector_search_application_spark.plans.constants import (
        JACCARD_THRESHOLD,
    )
    from vector_search_application_spark.streaming.ingest import (
        stream_neardup_ingest,
    )

    x = [f"x{i}" for i in range(1, 31)]
    a_text = " ".join(x)                                   # x1..x30
    b_text = " ".join(x[:29] + ["y1"])                     # ~0.87 vs A
    c_text = " ".join(x[5:29] + ["y1"] + [f"z{i}" for i in range(1, 6)])
    sf = tmp_path / "neardup_sf"
    os.makedirs(sf)
    spark.sql(
        f"SELECT CAST(id AS BIGINT) AS doc_id,"
        f" CASE WHEN id = 1 THEN '{a_text}'"
        f"      WHEN id = 30 THEN '{b_text}'"
        f"      WHEN id = 60 THEN '{c_text}'"
        f"      ELSE concat('unrelated filler words about topic ', id,"
        f"                  ' covering storage engines and planners ', id)"
        f" END AS text"
        f" FROM range(1, 100) WHERE id % 40 != 0"
    ).write.parquet(str(sf / "documents.parquet"))

    settled = {r.doc_id for r in stream_neardup_ingest(spark, str(sf)).collect()}

    docs = spark.read.parquet(str(sf / "documents.parquet"))
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", JACCARD_THRESHOLD)
    dropped = {r.id_b for r in pairs.collect()}
    expected = {r.doc_id for r in docs.collect()} - dropped
    assert settled == expected
    # the planted chain must actually exercise the state-retains-
    # dropped-docs path: A survives, B drops (near A); if the band
    # family catches (B, C) — deterministic either way — C must drop
    # even though its only partner was itself dropped
    assert 1 in settled and 30 not in settled
    assert (60 in settled) == (60 not in dropped)


def test_stream_neardup_ingest_reads_listed_epochs(spark, tmp_path):
    """The settled table is read from its listed epoch directories: no
    glob reaches the reader, whose streaming-metadata probe would take
    it as a file name and log a FileNotFoundException."""
    from vector_search_application_spark.streaming.ingest import (
        stream_neardup_ingest,
    )

    sf = tmp_path / "listed_sf"
    os.makedirs(sf)
    spark.sql(
        "SELECT CAST(id AS BIGINT) AS doc_id,"
        " concat('plain words about topic ', id, ' and more ', id) AS text"
        " FROM range(1, 30)"
    ).write.parquet(str(sf / "documents.parquet"))
    got = stream_neardup_ingest(spark, str(sf))
    leaves = got._jdf.queryExecution().analyzed().collectLeaves()
    reads = [leaves.apply(i).relation() for i in range(leaves.size())]
    assert reads
    for rel in reads:
        paths = rel.location().rootPaths().toString() + rel.options().toString()
        assert not re.search(r"[*?\[{]", paths), paths
    assert got.count() > 0


def test_stream_neardup_ingest_empty_source(spark, tmp_path):
    """The empty-corpus resume contract, same as stream_dedup_ingest:
    a zero-row documents table must come back as an empty (doc_id,
    text) frame, not a missing-path or missing-part-file error."""
    from vector_search_application_spark.streaming.ingest import (
        stream_neardup_ingest,
    )

    sf = tmp_path / "empty_neardup_sf"
    os.makedirs(sf)
    spark.sql(
        "SELECT CAST(id AS BIGINT) AS doc_id, CAST(NULL AS STRING) AS text"
        " FROM range(0)"
    ).write.parquet(str(sf / "documents.parquet"))
    got = stream_neardup_ingest(spark, str(sf))
    assert got.count() == 0
    assert got.columns == ["doc_id", "text"]


def test_neardup_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """Checkpoint-restart semantics (r10 ADVICE): replaying a micro-
    batch whose writes already landed must leave the sink and state
    unchanged. Before the fix, the replayed batch's docs paired with
    their own already-appended state copies (jaccard 1.0) and dropped
    themselves — including the clique's min-id survivor — while the
    sink/state double-appended. The per-epoch overwrite layout plus the
    id_a < id_b candidate filter make replay a deterministic rewrite."""
    from vector_search_application_spark.streaming.ingest import (
        neardup_ingest_batch,
    )

    out = str(tmp_path / "table")
    sig_dir = str(tmp_path / "state_shingles")
    band_dir = str(tmp_path / "state_bands")
    x = [f"x{i}" for i in range(1, 31)]
    a_text = " ".join(x)                    # survives (min id)
    b_text = " ".join(x[:29] + ["y1"])      # ~0.87 vs A -> drops
    mk = lambda rows: spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    batch0 = mk([(1, a_text), (2, "unrelated filler about storage engines")])
    batch1 = mk([(30, b_text), (31, "another unrelated planner sentence")])

    neardup_ingest_batch(batch0, 0, out, sig_dir, band_dir)
    neardup_ingest_batch(batch1, 1, out, sig_dir, band_dir)
    settled = lambda: sorted(
        r.doc_id for r in spark.read.parquet(out + "/b*").collect()
    )
    state_rows = lambda d: spark.read.parquet(d).count()
    first = settled()
    assert first == [1, 2, 31]  # 30 dropped as B~A near-dup
    sig_n, band_n = state_rows(sig_dir), state_rows(band_dir)

    # replay batch 1 (restart after its writes committed but before
    # the checkpoint recorded the epoch)
    neardup_ingest_batch(batch1, 1, out, sig_dir, band_dir)
    assert settled() == first
    assert state_rows(sig_dir) == sig_n
    assert state_rows(band_dir) == band_n


def test_neardup_state_read_prunes_partitions(spark, tmp_path):
    """The r11 VERDICT's one `weak` item: the per-batch state read must
    NOT scan every epoch's files. read_state_pruned's epoch exclusion
    and touched-bucket IN list must both land as PartitionFilters on
    the (__epoch, __bucket) layout, and the row slice must be exactly
    the non-excluded epochs' touched buckets."""
    from pyspark.sql import functions as F

    from vector_search_application_spark.sources.layout import BUCKET_COL
    from vector_search_application_spark.streaming.ingest import (
        _id_bucket,
        read_state_pruned,
        write_state_epoch,
    )

    path = str(tmp_path / "state")
    n_buckets = 4
    for epoch in (0, 1, 2):
        df = spark.range(epoch * 100, epoch * 100 + 20).select(
            F.col("id"), F.lit(f"e{epoch}").alias("tag")
        )
        write_state_epoch(df, path, epoch, _id_bucket(F.col("id"), n_buckets))

    raw = spark.read.parquet(path)
    want_buckets = [0, 2]
    got = read_state_pruned(spark, path, 2, want_buckets)
    expect = (
        raw.filter(F.col("__epoch") != 2)
        .filter(F.col(BUCKET_COL).isin(want_buckets))
        .drop("__epoch", BUCKET_COL)
    )
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in expect.collect()
    )
    assert got.count() > 0  # the slice is non-trivial
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m, plan
    assert "__epoch" in m.group(0) and BUCKET_COL in m.group(0), m.group(0)


def test_compact_state_epochs_preserves_pruned_reads(spark, tmp_path):
    """Epoch compaction must be invisible to the per-batch read: same
    rows, same pruning semantics, one base dir instead of one dir per
    folded micro-batch (the listing-growth bound at production trigger
    counts), idempotent when only the base remains."""
    import os

    from pyspark.sql import functions as F

    from vector_search_application_spark.streaming.ingest import (
        COMPACT_BASE_EPOCH,
        _id_bucket,
        compact_state_epochs,
        read_state_pruned,
        write_state_epoch,
    )

    path = str(tmp_path / "state")
    n_buckets = 4
    for epoch in range(3):
        df = spark.range(epoch * 100, epoch * 100 + 20).select(
            F.col("id"), F.lit(f"e{epoch}").alias("tag")
        )
        write_state_epoch(df, path, epoch, _id_bucket(F.col("id"), n_buckets))

    buckets = list(range(n_buckets))
    # the read a hypothetical batch 3 would do (excludes nothing real)
    before = {
        (r.id, r.tag)
        for r in read_state_pruned(spark, path, 3, buckets).collect()
    }
    assert compact_state_epochs(spark, path, before_epoch=2) == 2
    eps = {
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("__epoch=")
    }
    assert eps == {COMPACT_BASE_EPOCH, 2}
    after = {
        (r.id, r.tag)
        for r in read_state_pruned(spark, path, 3, buckets).collect()
    }
    assert after == before
    # the replay-exclusion read for epoch 2 sees exactly epochs 0+1
    pre2 = {
        (r.id, r.tag)
        for r in read_state_pruned(spark, path, 2, buckets).collect()
    }
    assert pre2 == {(i, f"e{e}") for e in (0, 1) for i in range(e * 100, e * 100 + 20)}
    # bucket pruning still lands as a PartitionFilter on the compacted base
    got = read_state_pruned(spark, path, 2, [0, 2])
    import re

    m = re.search(
        r"PartitionFilters: \[[^\]]*\]",
        got._jdf.queryExecution().executedPlan().toString(),
    )
    assert m and "__bucket" in m.group(0) and "__epoch" in m.group(0)
    # idempotent: only the base is older than 2 -> no-op
    assert compact_state_epochs(spark, path, before_epoch=2) == 0
    # a later compaction folds the base TOGETHER with epoch 2
    assert compact_state_epochs(spark, path, before_epoch=3) == 1
    final = {
        (r.id, r.tag)
        for r in read_state_pruned(spark, path, 3, buckets).collect()
    }
    assert final == before


def test_compact_state_epochs_invisible_to_ingest(spark, tmp_path):
    """Compaction between triggers must not change ingest decisions:
    run batches 0-1, compact everything into the base epoch, then run
    batch 2 — its near-dup drops against the compacted state must
    equal the uncompacted run's. (The scenario a production pipeline
    actually runs: OPTIMIZE between triggers.)"""
    from vector_search_application_spark.streaming.ingest import (
        compact_state_epochs,
        neardup_ingest_batch,
    )

    x = [f"x{i}" for i in range(1, 31)]
    a = " ".join(x)                          # clique seed (min id)
    b = " ".join(x[:29] + ["y1"])            # near-dup of a
    c = " ".join(x[:29] + ["y2"])            # near-dup of a, batch 2
    mk = lambda rows: spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    batches = [
        mk([(1, a), (2, "unrelated storage engine filler")]),
        mk([(30, b), (31, "another planner sentence entirely")]),
        mk([(60, c), (61, "a third unrelated corpus line")]),
    ]

    def run(compact: bool) -> list[int]:
        base = tmp_path / ("with_compact" if compact else "plain")
        out, sig, band = (str(base / d) for d in ("t", "s", "b"))
        neardup_ingest_batch(batches[0], 0, out, sig, band)
        neardup_ingest_batch(batches[1], 1, out, sig, band)
        if compact:
            assert compact_state_epochs(spark, band, before_epoch=2) == 2
            assert compact_state_epochs(spark, sig, before_epoch=2) == 2
        neardup_ingest_batch(batches[2], 2, out, sig, band)
        return sorted(
            r.doc_id for r in spark.read.parquet(out + "/b*").collect()
        )

    plain, compacted = run(False), run(True)
    assert plain == compacted
    assert 60 not in plain  # the cross-batch drop actually exercised


def test_torn_compaction_invisible_to_ingest(spark, tmp_path):
    """r12 ADVICE: a compaction that dies between the base write and
    the old-epoch deletes leaves every folded row in base AND its old
    epoch. cap_buckets occupancy is a ROW count, so the doubled rows
    could push a band bucket over LSH_BUCKET_CAP and flip it to its
    min-id star — different survivors until the next compaction. The
    per-batch read heals itself (dedup_cols on the row identity), so
    the torn window must be invisible: same read identity, same
    occupancy, same ingest decisions."""
    from pyspark.sql import functions as F

    from vector_search_application_spark.operators import dedup as D
    from vector_search_application_spark.sources.layout import N_BUCKETS
    from vector_search_application_spark.streaming.ingest import (
        _band_bucket,
        _id_bucket,
        compact_state_epochs,
        neardup_ingest_batch,
        read_state_pruned,
        write_state_epoch,
    )

    x = [f"x{i}" for i in range(1, 31)]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    batches = [
        mk([(1, " ".join(x)), (2, "unrelated storage engine filler")]),
        mk([(30, " ".join(x[:29] + ["y1"])), (31, "another planner line")]),
        mk([(60, " ".join(x[:29] + ["y2"])), (61, "a third corpus line")]),
    ]
    buckets = list(range(N_BUCKETS))

    def run(torn: bool) -> list[int]:
        base = tmp_path / ("torn" if torn else "plain")
        out, sig, band = (str(base / d) for d in ("t", "s", "b"))
        neardup_ingest_batch(batches[0], 0, out, sig, band)
        neardup_ingest_batch(batches[1], 1, out, sig, band)
        if torn:
            assert compact_state_epochs(spark, band, before_epoch=2) == 2
            assert compact_state_epochs(spark, sig, before_epoch=2) == 2
            # simulate the death between base write and deletes by
            # recreating the folded epoch dirs with their exact
            # deterministic content (what the deletes removed)
            for bid, b in enumerate(batches[:2]):
                sharr = D.md5_shingle_arrays(b, "doc_id", "text")
                bands = D.lsh_band_keys(D.minhash_signatures(sharr))
                write_state_epoch(
                    sharr, sig, bid, _id_bucket(F.col("id"), N_BUCKETS)
                )
                write_state_epoch(bands, band, bid, _band_bucket(N_BUCKETS))
            # the tear is real: raw table holds each row twice ...
            n_ids = batches[0].count() + batches[1].count()
            assert spark.read.parquet(sig).count() == 2 * n_ids
            # ... but the healed read sees each identity exactly once
            healed = read_state_pruned(
                spark, band, 2, buckets, dedup_cols=["id", "band"]
            )
            per_key = healed.groupBy("id", "band").count()
            assert per_key.filter(F.col("count") > 1).count() == 0
        neardup_ingest_batch(batches[2], 2, out, sig, band)
        return sorted(
            r.doc_id for r in spark.read.parquet(out + "/b*").collect()
        )

    plain, torn = run(False), run(True)
    assert plain == torn
    assert 60 not in plain  # the cross-batch drop actually exercised


def test_neardup_replay_sees_exactly_prebatch_state(spark, tmp_path):
    """r11 ADVICE (medium): replay occupancy drift. The state a
    replayed batch reads must be EXACTLY the pre-batch state — if the
    replayed batch's own already-written epoch leaks into the read, a
    band bucket under LSH_BUCKET_CAP on the first run can exceed it on
    replay, collapse to its min-id star, and land different survivors.
    Assert the read identity directly (the old b* glob provably
    included the replayed epoch), then the end-to-end invariant."""
    from pyspark.sql import functions as F

    from vector_search_application_spark.sources.layout import N_BUCKETS
    from vector_search_application_spark.streaming.ingest import (
        neardup_ingest_batch,
        read_state_pruned,
    )

    out = str(tmp_path / "table")
    sig_dir = str(tmp_path / "state_shingles")
    band_dir = str(tmp_path / "state_bands")
    x = [f"x{i}" for i in range(1, 31)]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    batch0 = mk([(1, " ".join(x)), (2, " ".join(x[:29] + ["y1"]))])
    batch1 = mk([(30, " ".join(x[:29] + ["y2"]))])

    neardup_ingest_batch(batch0, 0, out, sig_dir, band_dir)
    all_buckets = list(range(N_BUCKETS))
    pre = {
        (r.id, r.band, r.band_key)
        for r in read_state_pruned(spark, band_dir, 1, all_buckets).collect()
    }
    assert pre  # batch0's bands landed

    neardup_ingest_batch(batch1, 1, out, sig_dir, band_dir)
    # the state table now ALSO holds batch1's epoch; a replay of batch
    # 1 must read exactly `pre`, not pre + its own rows
    replay_view = {
        (r.id, r.band, r.band_key)
        for r in read_state_pruned(spark, band_dir, 1, all_buckets).collect()
    }
    assert replay_view == pre
    # and the full table is strictly larger (the exclusion did work)
    assert spark.read.parquet(band_dir).count() > len(pre)

    settled = lambda: sorted(
        r.doc_id for r in spark.read.parquet(out + "/b*").collect()
    )
    first = settled()
    assert 1 in first and 30 not in first  # 30 near-dups the survivor
    neardup_ingest_batch(batch1, 1, out, sig_dir, band_dir)
    assert settled() == first
