"""Each Engine read runs its plan once and returns the rows as a
LocalRelation (portable.collected): collecting the result, or a limit
of it, runs no Spark job, returns the lazy plan's rows in order, and
keeps no result checkpoint resident."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.test_http_shim import _settled_rdd_count
from tests.test_query_literals import _jobs
from vector_search_application_spark.api import Engine
from vector_search_application_spark.functions import portable as P

MFR = "manufacturerPartNumber_text"


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def reads(engine):
    """name -> a call of one read endpoint; the two `empty_*` reads
    return no rows (no query token; a filter value no row has)."""
    row = (
        engine.products.filter(
            F.col(MFR).isNotNull()
            & F.col("shortDescription_airgas_text").isNotNull()
        )
        .orderBy("id")
        .first()
    )
    text, mfr = row["shortDescription_airgas_text"], row[MFR]
    return {
        "query_hybrid": lambda: engine.query(text, "hybrid", 5),
        "query_dense": lambda: engine.query(text, "dense", 5),
        "query_sparse": lambda: engine.query(text, "sparse", 5),
        "ultra_fast": lambda: engine.search_ultra_fast(text, 5),
        "lean": lambda: engine.search_lean(text, 5),
        "really_fast": lambda: engine.search_really_fast(text, 5),
        "fusion": lambda: engine.search_fusion(row["partNumber_airgas_text"], 5),
        "search": lambda: engine.search(text, 5),
        "search_fused_filtered": lambda: engine.search(
            text, 5, MFR, mfr, use_fusion=True
        ),
        "filtered_search": lambda: engine.filtered_search(text, MFR, mfr, 5),
        "empty_dense": lambda: engine.query("!! --", "dense", 5),
        "empty_filtered": lambda: engine.filtered_search(
            text, MFR, "no such manufacturer", 5
        ),
    }


def test_collecting_a_read_runs_no_job(spark, engine, reads):
    for name, read in reads.items():
        out = read()
        assert _jobs(spark, out.collect) == [], name
    # compare() previews each engine's first 3 rows
    for read in (engine.search_ultra_fast, engine.search_fusion,
                 engine.search_lean):
        out = read("blue rod", 10)
        assert _jobs(spark, lambda: out.limit(3).collect()) == []


def test_read_rows_equal_the_lazy_plan(reads, monkeypatch):
    served = {name: read().collect() for name, read in reads.items()}
    monkeypatch.setattr(P, "collected", lambda df: df)
    for name, read in reads.items():
        assert served[name] == read().collect(), name
        assert bool(served[name]) != name.startswith("empty_"), name


def test_reads_leave_no_result_checkpoint(spark, reads):
    """Ten results, still referenced, hold no RDD in the block manager."""
    before = _settled_rdd_count(spark)
    kept = [read() for read in list(reads.values())[:10]]
    assert _settled_rdd_count(spark) == before, len(kept)
