"""Per-job/per-stage wall-clock profile of one registered query.

The bench (bench.py) gives one number per query; optimizing needs to know
WHERE inside the query the time goes — how many Spark jobs an invocation
launches (iterative loops with eager checkpoints launch one per round),
how long each job takes, and how many tasks each stage schedules (a
bounded 200-row frame carried in 32 partitions schedules 32 near-empty
tasks per stage — pure scheduler overhead at any scale, and 32x the task
launches the data needs).

Usage:
    python tools/profile_query.py [--sf DIR] [--cpus N] NAME [NAME ...]

Runs each query once warm (untimed), once profiled, against a session
configured exactly like bench.py's, with an event log; then summarizes
the event log: per-job wall time and the task count / total task runtime
of each stage. The sum of job wall times < the bench number means the
gap is driver-side (planning, py4j, checkpoint bookkeeping).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb_etl_spark.registry import all_queries
from pb_etl_spark.session import LOCAL_CPUS, get_spark


def profile(names: list[str], sf_dir: str, cpus: int) -> None:
    evdir = tempfile.mkdtemp(prefix="spark-ev-")
    spark = get_spark(
        "profile",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    queries = all_queries()
    # warm the JVM the way bench.py does
    spark.read.parquet(f"{sf_dir.rstrip('/')}/region.parquet").count()
    queries["semi_join"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    walls: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        spark.sparkContext.setJobDescription(f"PROFILE:{name}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls[name] = time.time() - t0
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log
    for name in names:
        print(f"\n== {name}: wall {walls[name]:.3f}s")
        _report(evdir, app_id, f"PROFILE:{name}")


def _report(evdir: str, app_id: str, marker: str) -> None:
    # Spark 4 writes a rolling event-log DIRECTORY: eventlog_v2_<appid>/events_*
    candidates = [
        os.path.join(evdir, app_id + ".inprogress"),
        os.path.join(evdir, app_id),
    ]
    v2 = os.path.join(evdir, f"eventlog_v2_{app_id}")
    lines: list[str] = []
    if os.path.isdir(v2):
        for fn in sorted(os.listdir(v2)):
            if fn.startswith("events"):
                with open(os.path.join(v2, fn)) as f:
                    lines.extend(f)
    else:
        for path in candidates:
            if os.path.exists(path):
                with open(path) as f:
                    lines.extend(f)
                break
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": props.get("spark.job.description", ""),
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:60],
                    "ntask": si["Number of Tasks"],
                    "ms": si.get("Completion Time", 0)
                    - si.get("Submission Time", si.get("Completion Time", 0)),
                }
    total = 0.0
    for jid in sorted(jobs):
        j = jobs[jid]
        if marker not in j["desc"] or "t1" not in j:
            continue
        dur = (j["t1"] - j["t0"]) / 1000.0
        total += dur
        stage_bits = []
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if s:
                stage_bits.append(f"s{sid}[{s['ntask']}t {s['ms']}ms]")
        print(f"  job {jid}: {dur:7.3f}s  {' '.join(stage_bits)}")
    print(f"  sum(job wall) = {total:.3f}s  (rest = driver-side gaps)")


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.1"
    cpus = LOCAL_CPUS
    while args and args[0].startswith("--"):
        if args[0] == "--sf":
            sf = args[1]
            args = args[2:]
        elif args[0] == "--cpus":
            cpus = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    if not args:
        raise SystemExit("usage: profile_query.py [--sf DIR] [--cpus N] NAME...")
    profile(args, sf, cpus)
