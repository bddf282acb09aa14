"""The release-between-queries gate of the driver contract: every
builder ``__spark_entry__.queries()`` hands out first unpersists every
tracked cache left by the previous query, while the registry's own
builders (``REGISTRY[*].spark``, what bench.py and the probes run) stay
warm. This is what lets the round driver's sequential 50-query
correctness gate run in one default-1g vanilla session — a silent
regression here re-opens the mid-window JVM OOM that killed the gate at
r10 (two banded-signature queries in one session; each fine solo). The
memory fix itself (plane weights as broadcast data, not plan literals)
is covered by the embedding queries' oracle hashes; THIS file pins the
lifecycle discipline."""

import __spark_entry__
from vector_search_application_spark.functions import cache
from vector_search_application_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"
_WARM = {d.name: d.spark for d in REGISTRY}


def _build(spark, name):
    # build only — the gate's release happens at BUILD time, before
    # the previous query's blocks could serve this one's plan
    return __spark_entry__.queries()[name](spark, SF)


def test_registry_build_releases_previous_caches(spark):
    _build(spark, "dedup_minhash_lsh")  # persists shingle + band tables
    assert len(cache._LIVE) > 0
    first = list(cache._LIVE)
    _build(spark, "dedup_simhash")
    # the first query's tracked frames are gone from the registry;
    # whatever is live now was tracked by the second build
    assert not any(df is f for df in cache._LIVE for f in first)


def test_registry_builds_stay_warm(spark):
    cache.release_all()
    _WARM["dedup_minhash_lsh"](spark, SF)
    first = list(cache._LIVE)
    assert first
    _WARM["dedup_simhash"](spark, SF)
    # no release between warm builds: the first build's entries are
    # still tracked alongside the second's (bench / scale-probe
    # warm-rep reuse depends on it)
    assert all(any(df is f for df in cache._LIVE) for f in first)
    assert len(cache._LIVE) > len(first)
    cache.release_all()


def test_release_is_semantics_neutral(spark):
    """A released plan recomputes to the same rows — the property that
    makes the build-time release safe even if a caller ever built two
    queries before collecting either."""
    df1 = _build(spark, "dedup_exact")
    rows_cached = sorted(tuple(r) for r in df1.collect())
    _build(spark, "dedup_simhash")  # releases df1's caches
    rows_released = sorted(tuple(r) for r in df1.collect())
    assert rows_cached == rows_released
