"""Repeat the benchmark over seeds and summarise its spread.

    python3 perfbench/sweep.py --seeds 1-10 [--traced-seeds 1,2]
        [--out perfbench/baseline.json]

For each workload, runs ``run.py`` once per seed untraced (end-to-end
metrics) and once per traced seed (per-layer metrics and the per-op
detail table from the run's trace file). Reports, per metric, the
median, the quartiles (``statistics.quantiles(n=4)``), the sample count
and the spread (q3 - q1) / median, which the benchmark's bounds are
judged against, plus the tracing overhead: the median, over the traced
seeds, of the traced pass minus an untraced pass run just before it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(ROOT, ".bench_build", "perfbench", "traces")


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",") if x]


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else 0.0}


def run(workload: str, seed: int, trace: int, seconds: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall_s = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(TRACES, f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        record = json.load(fh)
    record["wall_s"] = wall_s
    return result, record


def op_table(records: list[dict]) -> dict:
    """Median over traced runs of every per-op detail number."""
    acc: dict[str, dict[str, list]] = {}
    for rec in records:
        for op in rec["ops"][0]:
            row = acc.setdefault(op["op"], {})
            for k, v in op.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    row.setdefault(k, []).append(v)
    return {name: {k: statistics.median(v) for k, v in row.items()} for name, row in acc.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seeds", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = {"host": {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "spark": __import__("pyspark").__version__,
        "master": "local[4]",
        "shuffle_partitions": 4,
        "sf": 0.01,
        "run_seconds": bench["run_seconds"],
    }, "seeds": args.seeds, "traced_seeds": args.traced_seeds, "workloads": {}}
    whys = {w["name"]: w["why"] for w in bench["workloads"]}
    for w in whys:
        plain, runs = {}, []
        for s in seeds(args.seeds):
            result, rec = run(w, s, 0, bench["run_seconds"])
            runs.append({"seed": s, "wall_s": rec["wall_s"], "correct": result["correct"], "failed": result["failed"],
                         "attempted": result["attempted"], "jobs_per_pass": rec["jobs_per_pass"],
                         **{k: v["value"] for k, v in result["metrics"].items()}})
            for k, v in result["metrics"].items():
                plain.setdefault(k, []).append(v["value"])
            print(f"{w} seed={s} " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        entry = {"why": whys[w], "end_to_end": {k: summary(v) for k, v in plain.items()}, "runs": runs}
        traced, records, overhead = {}, [], []
        for s in seeds(args.traced_seeds):
            # back to back with an untraced run of the same seed, so the
            # difference is not a drift of the host's speed between them
            plain_result, _ = run(w, s, 0, bench["run_seconds"])
            result, rec = run(w, s, 1, bench["run_seconds"])
            records.append(rec)
            overhead.append(result["metrics"]["trace.pass_s"]["value"]
                            - plain_result["metrics"]["pass_s"]["value"])
            for k, v in result["metrics"].items():
                traced.setdefault(k, []).append(v["value"])
        if records:
            entry["per_layer"] = {k: summary(v) for k, v in traced.items()}
            entry["ops"] = op_table(records)
            entry["tracing_overhead_s"] = {"median": statistics.median(overhead), "pairs": overhead}
        out["workloads"][w] = entry
        for k, v in entry["end_to_end"].items():
            print(f"{w} {k}: median {v['median']:.4g} q1 {v['q1']:.4g} q3 {v['q3']:.4g} "
                  f"n {v['n']} spread {v['spread']:.3f}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
