"""The measurement harness (``calibration.py``): bench.py and the three
probes time, force and calibrate through it, and nowhere else."""

import ast
import functools
import operator
import statistics
from pathlib import Path

from pyspark.sql import functions as F

from vector_search_application_spark import calibration as CAL
from vector_search_application_spark.functions import cache

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = [
    "bench.py",
    "tools/ab_bench.py",
    "tools/scale_probe.py",
    "tools/dedup_scale_probe.py",
]


def _trees(src: str):
    """A module's AST plus every multi-line string constant that parses
    as Python: ab_bench's measurement runner is source in a string."""
    tree = ast.parse(src)
    yield tree
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if "\n" in node.value:
                try:
                    yield ast.parse(node.value)
                except SyntaxError:
                    pass


def _own_measurement_sites(src: str):
    """Clock reads and hash-force aggregates spelled outside the
    harness: ``perf_counter`` and ``bit_xor`` names, ``import time``."""
    for tree in _trees(src):
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = "import " + node.name
            else:
                continue
            if name in ("perf_counter", "bit_xor", "import time"):
                yield f"{getattr(node, 'lineno', '?')}: {name}"


def test_scripts_measure_only_through_the_harness():
    found = [
        f"{rel}:{site}"
        for rel in SCRIPTS
        for site in _own_measurement_sites((ROOT / rel).read_text())
    ]
    assert found == []


def test_bracket_matches_the_bench_formulas():
    cases = [
        ([0.5, 0.52, 0.48, 0.9, 0.51], [0.6, 0.62, 0.59, 0.61, 0.65]),
        ([0.9, 0.95, 0.88], [0.46, 0.47, 0.45]),  # slower start, degraded
        ([0.44, 0.46, 0.45, 0.47], [0.43, 0.5]),
    ]
    for start, end in cases:
        both = start + end
        s, n = sorted(both), len(both)
        med_s, med_e = statistics.median(start), statistics.median(end)
        spread = round(max(med_s, med_e) / max(min(med_s, med_e), 1e-9), 3)
        expected = {
            "start_secs": start,
            "end_secs": end,
            "median": round(statistics.median(both), 4),
            "iqr": round(s[(3 * n) // 4] - s[n // 4], 4),
            "ref_sec": CAL.CALIBRATION_REF_SEC,
            "ratio_vs_ref": round(
                statistics.median(both) / CAL.CALIBRATION_REF_SEC, 3
            ),
            "start_end_spread": spread,
            "degraded_window": spread > 1.5,
        }
        assert list(CAL.bracket(start, end).items()) == list(expected.items())
    assert [CAL.bracket(*c)["degraded_window"] for c in cases] == [
        False, True, False,
    ]


def test_force_is_one_count_and_hash_over_every_column(spark):
    a = spark.range(50).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s")
    b = spark.range(7).selectExpr("id AS k", "id * 1.5D AS w")
    df = a.join(b, "k")
    cols = [F.col(c) for c in df.columns]
    direct = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
    per_row = [r[0] for r in df.select(F.xxhash64(*cols)).collect()]
    assert CAL.force(df) == (direct[0], direct[1])
    assert CAL.force(df) == (50, functools.reduce(operator.xor, per_row))


def test_cold_timer_releases_before_each_rep(spark):
    seen = []

    def rep():
        seen.append((len(cache._LIVE), len(cache._PLAN_MEMO)))
        base = spark.range(10)
        cache.plan_memo(
            base,
            ("test_measure",),
            lambda: cache.tracked_persist(base.selectExpr("id * 2 AS x")),
        )
        return len(seen)

    try:
        secs, last = CAL.timed(rep, 3, cold=True)
        assert seen == [(0, 0)] * 3
        assert len(secs) == 3 and all(t >= 0 for t in secs) and last == 3
        # warm reps keep what the previous rep left behind
        CAL.timed(rep, 1)
        assert seen[-1] == (1, 1)
    finally:
        cache.release_all()
