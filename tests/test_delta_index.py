"""Engine writes maintain the served indexes by delta: each load-data
carries the dense index, the BM25 postings, dictionary and stats forward
from the batch alone. The delta versions must equal a full rebuild over
the served corpus, and write cycles must neither grow the tables'
partitions nor leave memo entries, tracked tables or resident RDDs
behind."""

import json
import random

import pytest

from tests.conftest import SF_SMOKE
from tests.test_http_shim import _settled_rdd_count
from tests.test_query_literals import _jobs
from vector_search_application_spark.api import Engine
from vector_search_application_spark.functions import cache
from vector_search_application_spark.functions import embedder as E
from vector_search_application_spark.operators import bm25

WORDS = [
    "steel", "valve", "cold", "widget", "large", "bolt", "small",
    "hex", "brass", "fitting", "copper", "gauge",
]


def _doc(part, text, _id=None):
    doc = {"partNumber_airgas_text": part, "shortDescription_airgas_text": text}
    if _id is not None:
        doc["_id"] = _id
    return doc


def _batches(existing: list[str]) -> list[list[dict]]:
    """Seeded upserts covering the edge batches: new ids, updates, an id
    repeated in one batch, a batch of all-new terms, a batch that takes
    away a term's last document, and an update to text that tokenizes
    to nothing."""
    rng = random.Random(11)

    def text():
        return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 5)))

    updated = rng.sample(existing, 6)
    return [
        # new ids, updates, an id repeated within the batch (last wins),
        # and the only document holding "kumquat"
        [_doc(f"DLT{i:07d}", text()) for i in range(4)]
        + [_doc(p, text()) for p in updated[:3]]
        + [_doc("DLT0000001", "first of two"), _doc("DLT0000001", text())]
        + [_doc("!!", "solitary kumquat", _id="EDGE-A")],
        # every term new to the corpus
        [_doc("ZQNEW1", "zorblat quixel"), _doc("ZQNEW2", "quixel flimflam")],
        # "kumquat" and "zorblat" lose their last document; EDGE-A's
        # text tokenizes to nothing, dense side and sparse side
        [_doc("!!", "?? --", _id="EDGE-A"), _doc("ZQNEW1", text())],
        [_doc(p, text()) for p in updated[3:]]
        + [_doc(f"DLT{i:07d}", text()) for i in range(2, 8)],
    ]


def _assert_same_rows(got, want):
    assert got.dtypes == want.dtypes
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_delta_indexes_equal_full_rebuild(spark, tmp_path):
    engine = Engine(spark, SF_SMOKE)
    existing = [
        r[0] for r in engine.products.select("partNumber_airgas_text").collect()
    ]
    for i, batch in enumerate(_batches(existing)):
        src = tmp_path / f"batch{i}.json"
        src.write_text(json.dumps(batch))
        engine.load_data(str(src), str(tmp_path / "table"))
        products, dense, postings = engine._snapshot()
        rebuilt = bm25.build_postings(
            products, id_col="id", text_col="sparse_text", persist=False
        )
        _assert_same_rows(dense, E.embed_postings(products, "id", "dense_text"))
        _assert_same_rows(postings, rebuilt)
        # the write seeded the aggregates: reading them runs no job
        assert _jobs(spark, lambda: bm25._index_aggregates(postings)) == []
        stats, dictionary, _ = bm25._index_aggregates(postings)
        _assert_same_rows(dictionary, bm25.doc_frequency(rebuilt))
        assert stats == tuple(bm25.corpus_stats(rebuilt).first())
    terms = {r["term"] for r in dictionary.collect()}
    assert {"zorblat", "kumquat"}.isdisjoint(terms)
    assert {"quixel", "flimflam"} <= terms


def _job_names(spark, fn) -> list[str]:
    """The name of each Spark job ``fn()`` runs: its final stage's name,
    "<action> at <call site>"."""
    tracker = spark.sparkContext.statusTracker()
    return [
        tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)).name
        for j in _jobs(spark, fn)
    ]


def test_load_data_absorbs_without_schema_inference(spark, tmp_path):
    """The upload path reads the written table back under the schema it
    wrote: the only parquet job of a load-data is the write, with no
    footer-reading schema-inference job before the absorb's id collect."""
    engine = Engine(spark, SF_SMOKE)
    src = tmp_path / "batch.json"
    src.write_text(json.dumps([_doc(f"INF{i}", f"steel valve {i}") for i in range(3)]))
    names = _job_names(
        spark, lambda: engine.load_data(str(src), str(tmp_path / "table"))
    )
    assert sum(n.startswith("parquet at") for n in names) == 1, names


@pytest.fixture(scope="module")
def cycles(spark, tmp_path_factory):
    """Three write cycles on a fresh engine: a 5-product load-data (3 new
    ids, 2 updates), then two hybrid reads. Records the jobs of a hybrid
    read before any write and, per cycle, the jobs of both reads, the
    served tables' partition counts, the tracked-table and memo sizes
    and the settled resident-RDD count."""
    tmp = tmp_path_factory.mktemp("delta_cycles")
    engine = Engine(spark, SF_SMOKE)
    existing = sorted(
        r[0] for r in engine.products.select("partNumber_airgas_text").collect()
    )
    rec = {"parts": [[df.rdd.getNumPartitions() for df in engine._snapshot()]]}
    engine.query("warm up", "hybrid", 5).collect()
    rec["fresh"] = len(_jobs(spark, lambda: engine.query("cold widget", "hybrid", 5)))
    for c in range(3):
        batch = [_doc(f"CYC{c}N{i}", f"cycle {c} widget {i}") for i in range(3)]
        batch += [_doc(p, f"cycle {c} bolt") for p in existing[2 * c:2 * c + 2]]
        src = tmp / f"cycle{c}.json"
        src.write_text(json.dumps(batch))
        engine.load_data(str(src), str(tmp / "table"))
        first = _jobs(spark, lambda: engine.query(f"cycle {c} widget", "hybrid", 5))
        warm = _jobs(spark, lambda: engine.query(f"cold widget {c}", "hybrid", 5))
        rec.setdefault("jobs", []).append((len(first), len(warm)))
        rec["parts"].append(
            [df.rdd.getNumPartitions() for df in engine._snapshot()]
        )
        rec.setdefault("live", []).append(len(cache._LIVE))
        rec.setdefault("memo", []).append(
            sum(len(b) for b in cache._PLAN_MEMO.values())
        )
        rec.setdefault("rdds", []).append(_settled_rdd_count(spark))
    return rec


def test_first_hybrid_after_write_is_warm(cycles):
    """The write seeds the BM25 stats and dictionary of the new postings:
    the first hybrid read after it runs no more jobs than a second, warm
    hybrid read of the same version (a rebuild ran the stats first() and
    the dictionary and index builds on top). The baseline is read after
    the write because a write changes the dense index's partitioning: a
    freshly built index is hash-partitioned by id, its carried-forward
    checkpoint is not, and a read over it plans one more exchange."""
    for first, warm in cycles["jobs"]:
        assert first <= warm, cycles["jobs"]


def test_hybrid_after_write_within_one_job_of_fresh(cycles):
    """A read over the carried-forward dense index plans at most the one
    exchange a freshly built index spares: every hybrid read after a
    write runs at most one job more than on the fresh engine."""
    for first, warm in cycles["jobs"]:
        assert max(first, warm) <= cycles["fresh"] + 1, (cycles["fresh"], cycles["jobs"])


def test_partition_counts_stay_fixed(cycles):
    """A write coalesces each next version to its predecessor's
    partition count: the union with the batch adds none per write."""
    assert all(p == cycles["parts"][0] for p in cycles["parts"]), cycles["parts"]


def test_write_cycles_leave_nothing_behind(cycles):
    """The superseded versions are released: tracked tables, memo
    entries and resident RDDs after the third cycle equal the first's."""
    for key in ("live", "memo", "rdds"):
        assert cycles[key][0] == cycles[key][-1], (key, cycles[key])
