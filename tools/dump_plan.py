"""Dump `.explain("formatted")` for named registry queries into
plans/<tag>/<query>_<suffix>.txt — the before/after plan evidence the
optimization rounds commit (r13 used an ad-hoc loop; promoted to a tool
for r14).

Usage: python tools/dump_plan.py TAG SUFFIX QUERY [QUERY ...]
e.g.   python tools/dump_plan.py r14 before hybrid_rrf bm25_topk
"""

from __future__ import annotations

import os
import sys

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from vector_search_application_spark.session import get_spark
    from vector_search_application_spark.plans.registry import REGISTRY

    reg = {d.name: d.spark for d in REGISTRY}
    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = reg[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
