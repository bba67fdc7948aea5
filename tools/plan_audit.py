"""Physical-plan audit over the bench headline set (or named queries).

    python tools/plan_audit.py [query ...]

For each query, prints one line of plan vitals:

  scans     parquet scans (and how many carry PushedFilters)
  joins     physical join operators by type (BHJ/SMJ/SHJ/BNLJ)
  exch      shuffle exchanges (excl. broadcast exchanges)
  python    Arrow-batched Python nodes (ArrowEvalPython/...InPandas) and
            row-at-a-time BatchEvalPython (flagged — should be zero)

This is the human-readable companion to tests/test_plan_lint.py: the
lint FAILS on anti-patterns; this shows the plan shape of everything
else so a reviewer can spot-check without running .explain per query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb_etl_spark.registry import all_queries  # noqa: E402
from pb_etl_spark.session import LOCAL_CPUS, get_spark  # noqa: E402


def audit(plan: str) -> dict:
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "exch": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "arrow_py": len(
            re.findall(r"ArrowEvalPython|InPandas|PythonMapInArrow", plan)
        ),
        "row_py": plan.count("BatchEvalPython"),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(
        "plan_audit", master=f"local[{LOCAL_CPUS}]", shuffle_partitions=LOCAL_CPUS
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")

    if len(sys.argv) > 1:
        names = sys.argv[1:]
    else:
        import bench

        names = bench.HEADLINE
    queries = all_queries()
    hdr = f"{'query':32} scans pushed  bhj smj shj bnlj  exch  arrowPy rowPy"
    print(hdr)
    print("-" * len(hdr))
    flagged = []
    for name in names:
        if name.startswith("stream_"):
            continue  # streaming drains: audited in tests/test_streaming*
        df = queries[name](spark, sf_dir)
        a = audit(df._jdf.queryExecution().executedPlan().toString())
        if a["row_py"]:
            flagged.append(name)
        print(
            f"{name:32} {a['scans']:5} {a['pushed']:6}  {a['bhj']:3} {a['smj']:3} "
            f"{a['shj']:3} {a['bnlj']:4}  {a['exch']:4}  "
            f"{a['arrow_py']:7} {a['row_py']:5}"
        )
    if flagged:
        print(f"\nROW-AT-A-TIME PYTHON (fix these): {flagged}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
