"""pb_etl_spark benchmark runner.

    python3 perfbench/run.py --workload {etl_dag,queries} --seed N \
        --seconds S --trace {0,1} [--scale {bench,tiny}]

Runs from the root of a source checkout. One process, one closed-loop
client: one operation at a time, on a ``local[4]`` session with 4 shuffle
partitions built by ``pb_etl_spark.session.get_spark``. The first run in a
checkout builds the fixed input tables and their DuckDB oracle results
under ``.bench_build/perfbench`` (see ``build.py``); that time is not
part of ``setup_s``.

A run sets up (imports, the seed's inputs, session start, an untimed
warm-up query), then runs
whole passes over the workload until ``--seconds`` have elapsed, checks
every operation's output, and prints as its last stdout line one JSON
object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics from a run
that attributes Spark jobs to spans. Details of every run (per-op table,
spans, result digests, problems) go to
``.bench_build/perfbench/traces/<workload>-seed<seed>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
# a pass is not started when it would likely end past this process age
MAX_AGE_S = 150.0
PARITY_ROWS = {"bench": (5_000, 2_000), "tiny": (300, 120)}


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_dag", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench")
    return ap.parse_args(argv)


def isolate_temp_dirs(run_dir: str) -> None:
    """Keep Spark's and Python's temporary files inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def start_session(run_dir: str):
    from pb_etl_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "1536m",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warm_up(spark, sf_dir: str) -> None:
    """Untimed: a fresh JVM's first jobs pay class loading, code
    generation and Arrow set-up. One small join, aggregate, window and
    sort, collected through ``toPandas`` like the workloads' results,
    moves most of that cost out of the first timed operation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n"), F.max("n_name").alias("last"))
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("n"), "r_name")))
        .orderBy("rank")
        .toPandas()
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def cache_state(spark) -> dict:
    jsc = spark.sparkContext._jsc
    storage = jsc.sc().getRDDStorageInfo()
    return {
        "persisted_rdds": len(jsc.getPersistentRDDs()),
        "storage_bytes": sum(r.memSize() + r.diskSize() for r in storage),
    }


def pass_layers(tracer, ops: list) -> dict:
    """Sum the traced layer numbers over one pass's ops."""
    out: dict[str, float] = {}
    for op in ops:
        for k, v in tracer.op_layers(op).items():
            out[k] = out.get(k, 0) + v
    return out


def op_details(tracer, op, workload: str) -> dict:
    """Flat per-op numbers: q.<name>.* or stages.* / ml.* / sources.*."""
    d = {"op": op.name, "wall_s": op.wall_s, "jobs_total": op.metrics.get("jobs_total")}
    if not tracer.traced:
        return d
    d.update(tracer.op_layers(op))
    for s in tracer.subtree(op)[1:]:
        inc = tracer.op_layers(s)
        if workload == "queries":
            key = f"q.{op.name}.{s.name}"
            d[f"{key}_s"], d[f"{key}_jobs"] = s.wall_s, inc["jobs"]
        else:
            prefix = s.name if s.kind == "layer" else f"stages.{s.name}"
            d[f"{prefix}_s"] = d.get(f"{prefix}_s", 0) + s.wall_s
            d[f"{prefix}_jobs"] = d.get(f"{prefix}_jobs", 0) + inc["jobs"]
            if s.name == "sources.write_parquet":
                d["sources.bytes_written"] = d.get("sources.bytes_written", 0) + inc["output_bytes"]
    return d


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        import pb_etl_spark
        from tests.fixtures import write_fixtures

        import build
        import workloads
        from tracing import Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pb_etl_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: pb_etl_spark resolves outside {ROOT}", file=sys.stderr)
        return 2

    t_build = time.perf_counter()
    names = workloads.QUERIES if args.workload == "queries" else []
    sf_dir, oracle_frames = build.ensure(BUILD, args.scale, names)
    build_s = time.perf_counter() - t_build

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate_temp_dirs(run_dir)

    fixture = parity_in = None
    if args.workload == "etl_dag":
        parity_in = os.path.join(run_dir, "parity_in")
        n_train, n_test = PARITY_ROWS[args.scale]
        fixture = write_fixtures(parity_in, n_train=n_train, n_test=n_test, seed=args.seed)

    t_session = time.perf_counter()
    spark = start_session(run_dir)
    session_start_s = time.perf_counter() - t_session
    try:
        warm_up(spark, sf_dir)
        warm_up_s = time.perf_counter() - t_session - session_start_s
        setup_s = process_age_s() - build_s
        tracer = Tracer(spark, traced=bool(args.trace))
        if args.workload == "etl_dag":
            wl = workloads.EtlDag(spark, tracer, sf_dir, run_dir, parity_in, fixture,
                                  os.path.join(BUILD, f"etl_expected-{args.scale}.json"), args.seed)
        else:
            wl = workloads.Queries(spark, tracer, sf_dir, oracle_frames, args.seed)

        passes = []
        t0 = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            results = wl.run_pass()
            passes.append({"results": results, "cache": cache_state(spark)})
            elapsed = time.perf_counter() - t0
            if elapsed >= args.seconds or process_age_s() + (time.perf_counter() - t_pass) > MAX_AGE_S:
                break
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        rss_mb = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(proc.pid) if proc else 0.0}
        peak_rss_mb = sum(rss_mb.values())
    finally:
        stop_session(spark)

    attempted = sum(len(p["results"]) for p in passes)
    problems = [x for p in passes for _, probs in p["results"] for x in probs]
    failed = sum(1 for p in passes for _, probs in p["results"] if probs)
    ops = [[op for op, _ in p["results"] if op is not None] for p in passes]

    def per_pass(key):
        return [sum(op.metrics.get(key, 0) for op in o) for o in ops]

    pass_s = [sum(op.wall_s for op in o) for o in ops]
    jobs = per_pass("jobs_total")

    if args.trace:
        layers = [pass_layers(tracer, o) for o in ops]

        def med(key):
            return statistics.median(x[key] for x in layers)

        job_wall = med("job_wall_s")
        metrics = {
            "session.start_s": (session_start_s, "s"),
            "driver.self_s": (med("driver_self_s"), "s"),
            "exec.job_wall_s": (job_wall, "s"),
            "exec.jobs": (med("jobs"), "count"),
            "exec.stages": (med("stages"), "count"),
            "exec.tasks": (med("tasks"), "count"),
            "exec.task_run_s": (med("task_run_s"), "s"),
            "exec.task_cpu_s": (med("task_cpu_s"), "s"),
            "exec.gc_s": (med("gc_s"), "s"),
            "exec.core_busy_ratio": (med("task_run_s") / (job_wall * CORES) if job_wall else 0.0, "ratio"),
            "exec.shuffle_read_bytes": (med("shuffle_read_bytes"), "bytes"),
            "exec.shuffle_write_bytes": (med("shuffle_write_bytes"), "bytes"),
            "exec.spill_bytes": (med("spill_bytes"), "bytes"),
            "exec.output_bytes": (med("output_bytes"), "bytes"),
            "cache.persisted_rdds_end": (passes[-1]["cache"]["persisted_rdds"], "count"),
            "cache.storage_bytes_end": (passes[-1]["cache"]["storage_bytes"], "bytes"),
            "stages.ran": (statistics.median(per_pass("ran")), "count"),
            "stages.skipped": (statistics.median(per_pass("skipped")), "count"),
            "trace.pass_s": (statistics.median(pass_s), "s"),
            "trace.remainder_s": (statistics.median(x["wall_s"] - x["children_s"] for x in layers), "s"),
        }
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(pass_s), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    record = {
        "args": vars(args),
        "build_s": build_s,
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "warm_up_s": warm_up_s,
        "pass_s": pass_s,
        "jobs_per_pass": jobs,
        "peak_rss_mb": rss_mb,
        "cache_per_pass": [p["cache"] for p in passes],
        "ops": [[op_details(tracer, op, args.workload) for op in o] for o in ops],
        "problems": problems,
        "digests": getattr(wl, "digests", {}),
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "spans": tracer.dump() if args.trace else [],
    }
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print(f"FAIL {p}")
    print(f"perfbench {args.workload} seed={args.seed} passes={len(passes)} "
          f"pass_s={[round(x, 3) for x in pass_s]} jobs={jobs}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
