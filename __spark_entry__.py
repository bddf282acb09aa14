"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``vector_search_application_spark``; this
module is a thin view over the declared-query registry
(vector_search_application_spark/plans/registry.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from vector_search_application_spark.functions.cache import release_all
from vector_search_application_spark.plans.registry import REGISTRY
from vector_search_application_spark.plans.registry_core import (
    ensure_curated,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: hybrid dense+BM25 search fused with RRF(k=60) —
    the reference's multi-method showcase path (SURVEY.md §3.1) —
    on /root/testdata/sf0.001."""
    from vector_search_application_spark.plans.registry import q_hybrid_rrf

    return q_hybrid_rrf(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query, built COLD: each builder first releases
    the tracked caches and memo entries the previous query left.

    The driver's correctness gate runs the window sequentially in ONE
    vanilla session (default ~1g heap, driver and executors sharing it
    in local mode): without this boundary, every query's persisted
    intermediates and broadcasts accumulate until the JVM OOMs
    mid-window — measured at r10 when the dedup-family seats
    front-loaded the window (9 queries in, embedding_neardup's collect
    died; solo it runs in 22s). Unpersisting is semantics-neutral (a
    released plan recomputes), so collect-then-build sequences are
    safe. ``REGISTRY[*].spark`` is the warm form that bench.py and the
    probes use to keep their cross-rep cache reuse."""
    ensure_curated()  # raises on a typo'd/undeclared DRIVER_WINDOW name

    def cold(fn):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_all()
            return fn(spark, sf_dir)

        return build

    return {d.name: cold(d.spark) for d in REGISTRY}


def oracle_sql() -> dict[str, str]:
    ensure_curated()
    return {d.name: d.sql for d in REGISTRY if d.sql is not None}
