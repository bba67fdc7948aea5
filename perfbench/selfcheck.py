"""Small-scale self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload once untraced and once traced at ``--scale tiny``
(sf0.001 tables, a 300-row parity input) and checks that

- the last stdout line has exactly the keys correct, attempted, failed
  and metrics, and the metrics are exactly BENCHMARK.json's end-to-end
  (untraced) or per-layer (traced) names, each with its unit;
- no operation failed and every end-to-end value is positive;
- the traced and the untraced run launched the same number of Spark
  jobs, and the traced run attributed every one of them to a span.

Exits non-zero on the first workload that fails a check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(ROOT, ".bench_build", "perfbench", "traces")
SEED = 7


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(TRACES, f"{workload}-seed{SEED}-trace{trace}.json")) as fh:
        record = json.load(fh)
    return result, record


def check_result(result: dict, spec: list[dict], label: str) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{label}: metrics/units {got} != {want}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{label}: correct={result['correct']} failed={result['failed']} "
                             f"attempted={result['attempted']}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (x["name"] for x in bench["workloads"]):
        plain, plain_rec = run(w, 0)
        check_result(plain, bench["end_to_end"], f"{w} untraced")
        bad = {k: v["value"] for k, v in plain["metrics"].items() if not v["value"] > 0}
        if bad:
            raise AssertionError(f"{w}: non-positive end-to-end values {bad}")
        traced, traced_rec = run(w, 1)
        check_result(traced, bench["per_layer"], f"{w} traced")
        jobs_plain, jobs_traced = plain_rec["jobs_per_pass"], traced_rec["jobs_per_pass"]
        attributed = traced["metrics"]["exec.jobs"]["value"]
        if jobs_plain[0] != jobs_traced[0] or attributed != jobs_traced[0]:
            raise AssertionError(f"{w}: jobs untraced {jobs_plain} traced {jobs_traced} "
                                 f"attributed {attributed}")
        print(f"ok {w}: {plain['attempted']} ops, {jobs_plain[0]} jobs per pass, "
              f"{len(plain['metrics'])} end-to-end and {len(traced['metrics'])} per-layer metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
