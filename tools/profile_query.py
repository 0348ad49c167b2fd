#!/usr/bin/env python
"""Stage-level profiler for bench workloads (guide §1: measure first).

Runs named bench entries (headline raw ops, ops-section workloads, or
catalog queries) through bench.py's own warm-up, entry lookup and timed
run, with the Spark event log enabled, then attributes each query's wall
time to its jobs/stages: per-stage wall, task-time sum, max task,
Python/shuffle signals.

Usage: python tools/profile_query.py [--sf DIR] [--runs 2] name ...
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = 2
    names: list[str] = []
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 1
        elif a == "--runs":
            runs = int(args[i + 1])
            i += 1
        else:
            names.append(a)
        i += 1

    evdir = "/tmp/spark-events-profile"
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    import bench
    from kafka_streams_task_spark.catalog import CATALOG
    from kafka_streams_task_spark.plans import get_spark

    spark = get_spark(
        app_name="profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )
    bench.warm_up(spark)

    raw = bench._raw_ops()
    ops = bench._ops_workloads()

    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for name in names:
        fn = bench.resolve_entry(name, ops, raw, CATALOG)
        if fn is None:
            print(f"unknown workload: {name}", file=sys.stderr)
            continue
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name}#run{r}")
            sec, cnt = bench.timed_run(spark, fn, sf_dir)
            t1 = time.time()
            spans[f"{name}#run{r}"].append((t1 - sec, t1))
            print(f"# {name} run{r}: {sec:.3f}s ({cnt} rows)", flush=True)
        spark.sparkContext.setJobDescription(None)
    spark.stop()

    # parse the event log: map jobs (by description) -> stages -> times
    # (Spark 4 writes a rolling eventlog_v2_<app> DIRECTORY of events_* files)
    logf = []
    for f in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, f)
        if os.path.isdir(p):
            logf += [
                os.path.join(p, g)
                for g in sorted(os.listdir(p))
                if g.startswith("events_")
            ]
        else:
            logf.append(p)
    job_desc: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    stage_info: dict[int, dict] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    lines = []
    for p in logf:
        with open(p) as fh:
            lines += fh.readlines()
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_desc[jid] = ev.get("Properties", {}).get("spark.job.description", "")
                job_stages[jid] = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_info[si["Stage ID"]] = {
                    "name": si.get("Stage Name", ""),
                    "sub": si.get("Submission Time", 0) / 1000.0,
                    "done": si.get("Completion Time", 0) / 1000.0,
                    "ntasks": si.get("Number of Tasks", 0),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                stage_tasks[sid].append(
                    {
                        "run": m.get("Executor Run Time", 0),
                        "cpu": m.get("Executor CPU Time", 0) / 1e6,
                        "deser": m.get("Executor Deserialize Time", 0),
                        "sched": 0,
                        "sr": (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0),
                        "sw": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Write Time", 0) / 1e6,
                        "py": sum(
                            a.get("Update", 0)
                            for a in ev.get("Task End Reason", {}).get("Accumulator Updates", [])
                            if isinstance(a, dict)
                        ),
                    }
                )

    for label, ranges in spans.items():
        t0, t1 = ranges[0]
        print(f"\n=== {label}: wall {t1 - t0:.3f}s ===")
        jids = [j for j, d in job_desc.items() if d == label]
        sids = sorted({s for j in jids for s in job_stages.get(j, []) if s in stage_info})
        rows = []
        for s in sids:
            si = stage_info[s]
            tk = stage_tasks.get(s, [])
            rows.append(
                (
                    si["sub"],
                    s,
                    si["done"] - si["sub"],
                    sum(t["run"] for t in tk) / 1000.0,
                    sum(t["cpu"] for t in tk) / 1000.0,
                    max((t["run"] for t in tk), default=0) / 1000.0,
                    si["ntasks"],
                    si["name"].split("(")[0].strip()[:60],
                )
            )
        rows.sort()
        gap_total = 0.0
        prev_end = t0
        for sub, s, wall, run, cpu, mx, nt, nm in rows:
            gap = sub - prev_end
            if gap > 0.02:
                gap_total += gap
            prev_end = max(prev_end, sub + wall)
            print(
                f"  stage {s:4d} wall={wall:6.3f} taskSum={run:7.3f} cpu={cpu:7.3f} "
                f"maxTask={mx:6.3f} n={nt:3d} gap_before={gap:6.3f}  {nm}"
            )
        print(f"  driver/planning gaps (not inside stages): {gap_total:.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
