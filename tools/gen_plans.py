"""Generate PLANS.md: a physical-plan audit of every declared query.

For each registry entry, build the plan at sf0.01 under the tuned
session and record the scale-relevant node counts: exchanges (shuffle),
broadcast exchanges, window operators, whole-stage-codegen spans, and
flags that should never appear (CartesianProduct, Python workers —
also enforced by tests/test_registry_oracle.py). Evidence for the
"would this survive 100x" review without re-deriving each plan by hand.

Usage: python tools/gen_plans.py   (rewrites PLANS.md)
"""

from __future__ import annotations

import os
import sys

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from vector_search_application_spark.functions.cache import release_all
    from vector_search_application_spark.session import get_spark
    from vector_search_application_spark.plans.registry import REGISTRY

    spark = get_spark("gen_plans")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of every declared query",
        "",
        f"Generated by `python tools/gen_plans.py` at `{SF_DIR}`.",
        "Node counts from `queryExecution.executedPlan` (pre-AQE-finalize;",
        "AQE may further coalesce/convert at runtime). `bcast` =",
        "BroadcastExchange, `shuffle` = Exchange hashpartitioning/range,",
        "`single` = Exchange SinglePartition/RoundRobin — the",
        "CONCENTRATING funnels (top-k limits, one-row fold tables);",
        "a new `single` on a LARGE relation is the worst 100x shape.",
        "All node columns are counted by DISTINCT plan_id: the plan string",
        "reprints a cached relation's lineage at every scan site, so a",
        "postings table read three times used to count its one build",
        "shuffle three times. CartesianProduct and Python-worker stages",
        "are asserted absent by the test gate",
        "(tests/test_registry_oracle.py).",
        "",
        "| query | shuffle | single | bcast | window | sort | scans |",
        "|---|---|---|---|---|---|---|",
    ]
    import re

    def uniq(plan: str, pat: str) -> int:
        """Count DISTINCT exchanges by plan_id: the plan string reprints
        a cached relation's full lineage at every InMemoryTableScan
        site, so a postings table read three times printed its build
        exchange three times — one physical shuffle counted as three.
        plan_id survives the reprint, so dedup by id is the true count.
        A node printed without a plan_id (none in practice for
        exchanges on this Spark version) counts by its line index —
        i.e. every occurrence, the pre-dedup behavior."""
        ids = set()
        for i, line in enumerate(plan.splitlines()):
            if re.search(pat, line):
                pid = re.search(r"\[plan_id=(\d+)\]", line)
                ids.add(pid.group(1) if pid else f"line:{i}")
        return len(ids)

    for d in REGISTRY:
        # cold, like the driver contract: a plan built over the previous
        # query's cached tables would count their InMemoryTableScans,
        # not the exchanges that build them
        release_all()
        try:
            df = d.spark(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            row = (
                d.name,
                uniq(
                    plan,
                    "Exchange hashpartitioning|Exchange rangepartitioning",
                ),
                # SinglePartition / RoundRobin funnels counted in their
                # OWN column: a keyed shuffle redistributes, these
                # CONCENTRATE — a full-data single-partition funnel is
                # the worst 100x shape, and folding it into the shuffle
                # count hid it (19 queries carry a legitimate one-row/
                # top-k funnel; a new one appearing on a large relation
                # is exactly what this audit exists to surface)
                uniq(
                    plan,
                    "Exchange SinglePartition|Exchange roundrobin"
                    "|Exchange RoundRobinPartitioning",
                ),
                uniq(plan, "BroadcastExchange"),
                # \bWindow(?!GroupLimit): WindowGroupLimit is a rank
                # PRE-FILTER, not a window compute; raw .count("Window")
                # double-counted it
                uniq(plan, r"\bWindow(?!GroupLimit)"),
                # Sort nodes print "Sort [keys], ..." — including the
                # whole-stage-codegen form "*(n) Sort [" the old
                # "+- Sort" prefix match missed (SortMergeJoin /
                # SortAggregate don't match: no space-bracket)
                uniq(plan, r"\bSort \["),
                uniq(plan, "FileScan|Scan parquet"),
            )
            lines.append("| " + " | ".join(str(x) for x in row) + " |")
        except Exception as e:  # keep the audit going; flag the failure
            lines.append(f"| {d.name} | ERROR: {type(e).__name__} | | | | | |")
        print(lines[-1], file=sys.stderr)
    lines += [
        "",
        "Iterative queries with chained persisted rounds "
        "(bpe_train_merges) overcount: the un-materialized plan string "
        "embeds every prior round's full lineage inside each "
        "InMemoryRelation, so node counts multiply across rounds. At "
        "runtime each round reads the previous round's cached table — "
        "~2 exchanges per round, not the printed total.",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PLANS.md")
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
