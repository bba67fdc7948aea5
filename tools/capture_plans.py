"""Capture ``explain("formatted")`` for registered queries to files.

Writes ``<out>/<query>_<suffix>.txt`` (default ``plans/<query>_before.txt``).

Usage:
    python tools/capture_plans.py --out plans --suffix before NAME...
    python tools/capture_plans.py --out plans --suffix after  NAME...

Uses a bench-identical session (same confs, same shuffle width) so the
captured plans are the ones the bench actually runs. Queries that launch
eager work while BUILDING the frame (checkpointed iterative loops,
streaming drains) still produce their final frame's plan — the txt then
shows the post-loop plan over checkpointed scans, which is exactly what
executes last; the loop structure itself is visible in profile_query.py
job counts instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb_etl_spark.registry import all_queries
from pb_etl_spark.session import LOCAL_CPUS, get_spark


def main() -> None:
    args = sys.argv[1:]
    out, suffix, sf = "plans", "before", "/root/testdata/sf0.1"
    while args and args[0].startswith("--"):
        flag, val, args = args[0], args[1], args[2:]
        if flag == "--out":
            out = val
        elif flag == "--suffix":
            suffix = val
        elif flag == "--sf":
            sf = val
        else:
            raise SystemExit(f"unknown flag {flag}")
    if not args:
        raise SystemExit("usage: capture_plans.py [--out DIR] [--suffix S] NAME...")
    os.makedirs(out, exist_ok=True)
    spark = get_spark(
        "plans", master=f"local[{LOCAL_CPUS}]", shuffle_partitions=LOCAL_CPUS
    )
    queries = all_queries()
    for name in args:
        df = queries[name](spark, sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
