"""Smoke check of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

For every workload it runs the benchmark untraced twice and traced once
with one seed, then once with a deliberately corrupted result, and
asserts that:

- every end-to-end and per-layer metric is printed with its unit;
- the outputs pass their checks and the run exits 0;
- same-seed runs print the same per-op result digests, and agree on
  ``cached_mb`` within 1% (the work counts are not compared here: at
  these sizes the engine's join choice differs between same-seed runs,
  see README.md);
- the corrupted run is caught: ``"correct": false`` and a non-zero exit.

Takes a few minutes; each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict, list]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "3", "--trace", str(trace),
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload}: no output\n{p.stderr[-3000:]}")
    digests = next(ln for ln in lines if ln.startswith("ops_digest:")).split()[1:]
    return p.returncode, json.loads(lines[-1]), digests


def same_prefix(a: list, b: list) -> bool:
    n = min(len(a), len(b))
    return n > 0 and a[:n] == b[:n]


def main() -> int:
    for w in run.WORKLOADS:
        rc1, r1, d1 = bench(w, 0)
        rc2, r2, d2 = bench(w, 0)
        rc3, r3, d3 = bench(w, 1)
        for rc, r, units in ((rc1, r1, run.END_TO_END), (rc2, r2, run.END_TO_END),
                             (rc3, r3, run.PER_LAYER)):
            assert rc == 0 and r["correct"] and r["failed"] == 0, (w, rc, r)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == units, (w, sorted(set(got) ^ set(units)))
        assert same_prefix(d1, d2) and same_prefix(d1, d3), (w, d1, d2, d3)
        mb1 = r1["metrics"]["cached_mb"]["value"]
        mb2 = r2["metrics"]["cached_mb"]["value"]
        assert abs(mb1 - mb2) <= 0.01 * max(mb1, mb2), (w, mb1, mb2)
        rc4, r4, _ = bench(w, 0, "--corrupt")
        assert rc4 != 0 and not r4["correct"], (w, rc4, r4)
        print(f"{w}: ok ({r1['attempted']}/{r2['attempted']}/{r3['attempted']}"
              f" ops, cached_mb {mb1:.3f}/{mb2:.3f}, corruption caught)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
