"""Machine-speed calibration and the measurement harness for benchmarks.

This box exhibits multi-minute windows where identical plan+data runs
5-6x slower (verified with byte-identical plans in both directions;
not caches, heap, CPU-credit throttling, or steal time). Cross-round
bench comparisons are therefore noise-limited unless every run carries
a same-run measure of how fast the machine actually was. This module
provides that measure: a fixed, pure-compute, plan-stable query whose
cost depends only on CPU/JVM health — no input data, no shuffle, no
Python workers — so its wall time is a pure machine-speed signal.

Usage contract (bench.py, tools/ab_bench.py, tools/scale_probe.py,
tools/dedup_scale_probe.py — the one measurement harness; perfbench
reads ``calibration_secs`` only):
- run ``calibration_secs`` at the start and end of a timed section,
  persist the raw rep times, and summarize them with ``bracket`` (or
  per end with ``ratio_vs_ref``);
- report family throughput both raw and normalized by
  ``ratio_vs_ref`` (median_cal / CALIBRATION_REF_SEC) — the normalized
  number is the one to compare across rounds, and a start-vs-end
  spread > 1.5x (``degraded_window``) means a slow window opened
  mid-run (rerun before concluding anything);
- time through ``timed`` (best-of-N, every rep returned; ``cold``
  releases before each rep), never a clock of your own;
- force corpus-sized results through ``force`` (one count + hash
  aggregate over every output column).

CALIBRATION_REF_SEC is the pinned nominal value for this query on a
healthy window of this box (local[32]); re-pin it only if the
calibration query itself changes.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# 100M rows x 4 chained xxhash64 rounds over 32 partitions: ~0.5-0.6 s
# on a healthy window — long enough that per-task scheduling overhead
# (32 tasks x ~1 ms) is noise and a slow window is sampled reliably.
CALIBRATION_ROWS = 100_000_000
CALIBRATION_PARTITIONS = 32
CALIBRATION_HASH_ROUNDS = 4
CALIBRATION_REF_SEC = 0.45  # nominal healthy-window value, pinned r7
# (three 5-rep series on a healthy window: medians 0.498/0.437/0.428)

# Each rep must use a DISTINCT range start: re-collecting a plan whose
# Range arguments are identical lets AQE reuse the materialized
# partial-aggregate shuffle stage, and the "rep" measures shuffle-read
# of one row per partition (~65 ms for 1B rows — measured, which is how
# this footnote got written) instead of the hash chain.
_rep_counter = 0


def calibration_df(spark: SparkSession, start: int = 0):
    h = ((F.col("id") % F.lit(CALIBRATION_ROWS)) * F.lit(2654435761)) % F.lit(
        1000003
    )
    for _ in range(CALIBRATION_HASH_ROUNDS):
        h = F.xxhash64(h)
    return spark.range(
        start, start + CALIBRATION_ROWS, 1, CALIBRATION_PARTITIONS
    ).select(F.bit_xor(h).alias("h"))


# keyed by applicationId, not id(spark): a stopped session's id() can
# be recycled by the allocator for a NEW SparkSession, which would
# silently skip its untimed warmup rep and re-inflate rep 1 (the exact
# problem the warmup exists to fix); app ids are unique per context
_warmed_sessions: set[str] = set()


def calibration_secs(spark: SparkSession, reps: int = 3) -> list[float]:
    """Raw wall seconds per rep, each rep a fresh plan (distinct range
    start — see _rep_counter note). Callers persist these and derive
    median/IQR. The first call per session runs an UNTIMED throwaway
    rep internally (codegen/JIT warmup) — previously a docstring
    convention every caller had to remember, which a forgotten
    throwaway silently violated by inflating rep 1."""
    global _rep_counter
    sid = spark.sparkContext.applicationId
    if sid not in _warmed_sessions:
        calibration_df(spark).collect()
        _warmed_sessions.add(sid)
    out = []
    for _ in range(reps):
        _rep_counter += 1
        df = calibration_df(spark, start=_rep_counter)
        t0 = time.perf_counter()
        df.collect()
        out.append(round(time.perf_counter() - t0, 4))
    return out


def median(xs: list[float]) -> float:
    import statistics

    return float(statistics.median(xs))


def iqr(xs: list[float]) -> float:
    """Interquartile range; refuses n < 4 rather than silently
    returning the full range under the name 'iqr' (a range is ~2x more
    outlier-sensitive — comparing it against prior rounds' quartile
    spreads would misdiagnose exactly the machine-speed noise this
    module exists to control for)."""
    s = sorted(xs)
    n = len(s)
    if n < 4:
        raise ValueError(f"iqr needs >= 4 samples, got {n}")
    return round(s[(3 * n) // 4] - s[n // 4], 4)


def ratio_vs_ref(secs: list[float]) -> float:
    """Median calibration wall over the pinned nominal: > 1 means the
    machine ran slower than a healthy window."""
    return median(secs) / CALIBRATION_REF_SEC


def bracket(start: list[float], end: list[float]) -> dict:
    """Summary of a start/end calibration bracket: pooled median, IQR
    and ratio to the nominal, the start-vs-end spread (larger median
    over smaller), and ``degraded_window`` when that spread is above
    1.5 — the machine's speed changed mid-run, so the section's rows
    mix two regimes."""
    both = start + end
    ends = sorted([median(start), median(end)])
    spread = round(ends[1] / max(ends[0], 1e-9), 3)
    return {
        "start_secs": start,
        "end_secs": end,
        "median": round(median(both), 4),
        "iqr": iqr(both),
        "ref_sec": CALIBRATION_REF_SEC,
        "ratio_vs_ref": round(ratio_vs_ref(both), 3),
        "start_end_spread": spread,
        "degraded_window": spread > 1.5,
    }


def force(df) -> tuple[int, int]:
    """Run ``df``'s whole plan and return ``(rows, hash)`` from ONE
    one-row aggregate: count + bit_xor(xxhash64(every output column)).

    Never a bare count(): under it Catalyst prunes every stage the row
    count does not depend on (semantic_dedup's verdict left-join and
    its intra-cell all-pairs join both vanished once, making its
    scale-probe row time only the assignment). Referencing every column
    keeps every producing stage, and the hash pins values as well as
    cardinality. bit_xor, not sum: ANSI mode overflows on summed
    hashes. The driver receives one row, so corpus-sized outputs do not
    time a collect."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).first()
    return row["n"], row["h"]


def timed(fn, reps: int = 1, cold: bool = False) -> tuple[list[float], object]:
    """Call ``fn()`` ``reps`` times; return the wall seconds of every
    rep, in order, and the last call's return value. Callers take
    ``min`` as best-of-N and ``median`` as the spread check.

    ``cold`` calls ``release_all()`` before each rep, outside the timed
    window: it unpersists every tracked table AND forgets the plan
    memo. ``spark.catalog.clearCache()`` is not a cold policy — it
    drops the blocks but leaves ``_LIVE``/``_PLAN_MEMO`` pointing at
    the dropped plans, so a later memo hit hands back a silently
    uncached plan."""
    if cold:
        # imported here, not at module top: tools/ab_bench.py loads this
        # file by path inside another tree's package
        from vector_search_application_spark.functions.cache import release_all
    secs = []
    out = None
    for _ in range(reps):
        if cold:
            release_all()
        t0 = time.perf_counter()
        out = fn()
        secs.append(time.perf_counter() - t0)
    return secs, out
