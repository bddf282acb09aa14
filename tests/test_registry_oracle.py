"""Every declared registry query must match its DuckDB oracle —
the same gate the driver runs (CORRECTNESS_r{N}.json), built through
the driver contract, so each query starts from released caches."""

import pytest

import __spark_entry__
from tests.conftest import SF_SMOKE, compare_spark_duckdb, register_views
from vector_search_application_spark.plans.registry import REGISTRY

_QUERIES = __spark_entry__.queries()


FORBIDDEN_PLAN_NODES = (
    # Python-worker stages: the round driver's vanilla session hangs on
    # them (no loopback pinning) — declared plans must stay JVM-only
    # generic needles, not an exhaustive node list: every Python-worker
    # physical node on this Spark version contains one of these
    # substrings (BatchEvalPython, ArrowEvalPython, MapInPandas,
    # FlatMapGroupsInPandas, FlatMapCoGroupsInPandas, AggregateInPandas,
    # WindowInPandas, MapInArrow/PythonMapInArrow, ...)
    "EvalPython",
    "InPandas",
    "InArrow",
    # an unintended all-pairs join is a scale bug, always
    "CartesianProduct",
)


def _assert_plan_guards(sdf, name: str) -> None:
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    for node in FORBIDDEN_PLAN_NODES:
        assert node not in plan, f"{name}: forbidden node {node} in plan"


@pytest.mark.parametrize("decl", REGISTRY, ids=[d.name for d in REGISTRY])
def test_registry_matches_oracle(spark, duck, decl):
    if decl.sql is None:
        sdf = _QUERIES[decl.name](spark, SF_SMOKE)
        _assert_plan_guards(sdf, decl.name)
        assert sdf.count() >= 0  # rows-only check, like the driver
        return
    register_views(duck, SF_SMOKE)
    sdf = _QUERIES[decl.name](spark, SF_SMOKE)
    _assert_plan_guards(sdf, decl.name)
    compare_spark_duckdb(sdf, duck, decl.sql)
