"""A/B drift adjudicator — the both-orders interleaved discipline that
settled the r10→r11 exact-family question, promoted from README prose
into a runnable harness (r11 VERDICT task 9).

Question it answers: "query X got slower since <ref> — code or machine
window?" Method:

  1. Materialize <ref>'s code into a temp dir (git archive).
  2. Measure the SAME named registry query against ref code (A) and
     the working tree (B), each measurement in a fresh subprocess with
     its own calibration bracket, interleaved A,B,A,B in ONE wall-clock
     window — then again in REVERSED order B,A,B,A.
  3. Verdict by order-dependence: if the winner follows EXECUTION ORDER
     (forward says A, reversed says B, or vice versa), the difference
     is machine/JVM state, not code. If the SAME side wins both orders
     by more than the calibration spread, the move is attributable to
     the code — go read the diff of the query's transitive module set
     (git diff <ref> -- <modules> should then be non-empty; if it is
     empty, distrust the measurement, not git).

Fresh-subprocess-per-measurement keeps the two code versions from
sharing one interpreter (imports cannot be swapped in-process) and
makes the two sides symmetric: both pay identical cold-JVM costs, and
interleaving puts both inside every machine window equally.

Usage:
    python tools/ab_bench.py QUERY --ref GITREF [--reps 2]
        [--sf-dir /root/testdata/sf0.1] [--runner-reps 3]

Prints one table row per measurement and a final verdict line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# runs inside each measurement subprocess, cwd = the code tree to
# measure. The harness is THIS tree's calibration.py, loaded by path
# (argv[4]), so both sides time, force and calibrate identically even
# when the ref's package predates the harness; forcing is its one-row
# hash aggregate, so corpus-sized outputs don't time a driver collect
RUNNER = r"""
import importlib.util, json, os, sys
sys.path.insert(0, os.getcwd())
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
from vector_search_application_spark.session import get_spark
from vector_search_application_spark.plans.registry import REGISTRY

name, sf_dir, reps, harness = sys.argv[1:5]
spec = importlib.util.spec_from_file_location("ab_harness", harness)
CAL = importlib.util.module_from_spec(spec)
spec.loader.exec_module(CAL)
spark = get_spark("ab-bench")
fn = {d.name: d.spark for d in REGISTRY}[name]

def run():
    CAL.force(fn(spark, sf_dir))

run()  # warmup rep (JIT/codegen/broadcast machinery)
cal_start = CAL.calibration_secs(spark, reps=3)
secs, _ = CAL.timed(run, int(reps))
ratio = CAL.bracket(cal_start, CAL.calibration_secs(spark, reps=3))["ratio_vs_ref"]
print("AB_RESULT " + json.dumps({
    "best": round(min(secs), 3),
    "median": round(CAL.median(secs), 3),
    "cal_ratio": ratio,
    # nominal-seconds: divide by the window speed so cross-window
    # rows compare (ratio < 1 = faster-than-reference window)
    "best_nominal": round(min(secs) / ratio, 3) if ratio > 0 else None,
}))
spark.stop()
"""
HARNESS = os.path.join(REPO, "vector_search_application_spark", "calibration.py")


def materialize_ref(ref: str) -> str:
    """git-archive `ref` into a temp dir (code only, no .git)."""
    d = tempfile.mkdtemp(prefix=f"ab_ref_{ref.replace('/', '_')}_")
    tar = subprocess.run(
        ["git", "archive", ref], cwd=REPO, capture_output=True, check=True
    )
    subprocess.run(["tar", "-x", "-C", d], input=tar.stdout, check=True)
    return d


def measure(label: str, tree: str, query: str, sf_dir: str,
            runner_reps: int) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the tree on cwd/sys.path is the code
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, query, sf_dir, str(runner_reps),
         HARNESS],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    for line in p.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            row = json.loads(line[len("AB_RESULT "):])
            row["label"] = label
            return row
    raise SystemExit(
        f"measurement {label} produced no result; stderr tail:\n"
        + "\n".join(p.stderr.splitlines()[-15:])
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--ref", required=True,
                    help="git ref of the OLD code (side A)")
    ap.add_argument("--reps", type=int, default=2,
                    help="A/B pairs per order (default 2)")
    ap.add_argument("--runner-reps", type=int, default=3,
                    help="timed reps inside each measurement (default 3)")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    ref_tree = materialize_ref(args.ref)
    try:
        sides = {"A(ref)": ref_tree, "B(worktree)": REPO}
        orders = {
            "forward": ["A(ref)", "B(worktree)"] * args.reps,
            "reversed": ["B(worktree)", "A(ref)"] * args.reps,
        }
        rows: dict[str, list[dict]] = {"forward": [], "reversed": []}
        for order, seq in orders.items():
            for label in seq:
                r = measure(label, sides[label], args.query,
                            args.sf_dir, args.runner_reps)
                rows[order].append(r)
                print(f"{order:8s} {label:12s} best={r['best']}s "
                      f"nominal={r['best_nominal']}s "
                      f"cal={r['cal_ratio']}", flush=True)
        verdicts = {}
        for order, rs in rows.items():
            a = min(r["best_nominal"] for r in rs if r["label"] == "A(ref)")
            b = min(r["best_nominal"] for r in rs
                    if r["label"] == "B(worktree)")
            verdicts[order] = ("A" if a < b else "B", round(b / a, 3))
        (fw, fw_ratio), (rv, rv_ratio) = verdicts["forward"], verdicts["reversed"]
        print(f"\nforward winner: {fw} (B/A nominal {fw_ratio}); "
              f"reversed winner: {rv} (B/A nominal {rv_ratio})")
        if fw != rv:
            print("VERDICT: order-dependent — machine/JVM drift, "
                  "not a code regression.")
        elif max(min(fw_ratio, rv_ratio), 1 / max(fw_ratio, rv_ratio)) < 1.15:
            # same side won twice but the smaller margin is inside the
            # ~15% band identical code shows on this box (measured: a
            # HEAD-vs-HEAD self-test read 1.05-1.33) — not actionable
            print(f"VERDICT: {fw} wins both orders but the margin "
                  f"(B/A {fw_ratio}/{rv_ratio}) is inside the noise "
                  "band — treat as drift; re-run with more --reps to "
                  "claim a code move.")
        else:
            side = "ref code (A)" if fw == "A" else "working tree (B)"
            print(f"VERDICT: {side} wins in BOTH orders by more than "
                  "the noise band — attributable to code; diff the "
                  "query's transitive module set "
                  f"against {args.ref} to locate it.")
        return 0
    finally:
        shutil.rmtree(ref_tree, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
