"""Benchmark of the weather -> hotels topology: streaming capacity, open-loop
streaming latency and batch enrichment.

    python3 perfbench/run.py --workload stream_bulk --seed 1 --seconds 10 --trace 0

Generates the workload's seeded inputs (cached per seed, untimed), runs the
workload in a fresh engine process, samples that process group's memory from
/proc, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("stream_bulk", "stream_trickle", "batch_enrich")
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "latency_p50_s": "s", "rows_per_s": "rows/s"}
LAYER_UNITS = {
    "first_run_s": "s", "peak_rss_mb": "MB", "session.get_spark_s": "s",
    "session.first_job_s": "s", "self.setup_other_s": "s",
    "source.latestOffset_ms": "ms", "source.getBatch_ms": "ms",
    "source.backlog_files_max": "count", "gen.lag_max_s": "s",
    "stream.addBatch_ms": "ms", "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms", "stream.commitOffsets_ms": "ms",
    "self.trigger_other_ms": "ms",
    "rollup.groups_per_trigger": "count", "rollup.rows_out_per_row_in": "ratio",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.trigger_growth": "ratio",
    "python.rows_received": "count", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes", "python.stage_task_ms": "ms",
    "jvm.task_run_ms": "ms", "jvm.task_cpu_ms": "ms", "jvm.gc_ms": "ms",
    "jvm.max_task_ms": "ms", "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "driver.jobs": "count", "driver.stages": "count", "driver.gap_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "weather.read_s": "s", "weather.rekey_s": "s", "weather.daily_avg_s": "s",
    "weather.by_geohash_s": "s", "weather.enrich_s": "s", "app.write_s": "s",
}
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE_TIMEOUT_S = 160


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field):
                return int(line.split()[1])
    return 0


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def process_group(pgid: int) -> list[int]:
    """Live processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(name))
    return out


def group_memory_bytes(pgid: int) -> int:
    """Memory of the engine's process group: the JVM's peak RSS (``VmHWM``;
    it shares no pages) plus the current PSS of every Python process (PSS
    splits the pages that forked workers share, so each counts once)."""
    total = 0
    for pid in process_group(pgid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            total += _status_kb(pid, "VmHWM:") if java else _pss_kb(pid)
        except OSError:
            pass
    return total * 1024


class MemorySampler(threading.Thread):
    """Samples the engine process group's memory until stopped; keeps the peak."""

    def __init__(self, pgid: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.pgid, self.period, self.peak = pgid, period, 0
        self.stop_event = threading.Event()

    def run(self):
        while not self.stop_event.wait(self.period):
            self.peak = max(self.peak, group_memory_bytes(self.pgid))


def end_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the group to end (the JVM exits once its
    Python driver has gone); kill what is left after ``grace_s``."""
    deadline = time.time() + grace_s
    while process_group(pgid):
        if time.time() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.time() + grace_s
        time.sleep(0.05)


def engine_env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    cpus = str(min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        # Python workers import the package from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_streams_task_spark")):
        print("engine package kafka_streams_task_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    from perfbench import gen

    cache = os.path.join(WORK, "cache")
    t = time.time()
    manifest = gen.prepare(cache, args.workload, args.seed, args.seconds)
    gen.prune_cache(cache)
    gen_s = time.time() - t

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        return run_engine(args, manifest, run_dir, gen_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_engine(args, manifest, run_dir, gen_s) -> int:
    manifest_path = os.path.join(run_dir, "manifest.json")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    result_path = os.path.join(run_dir, "result.json")
    work = os.path.join(run_dir, "engine")
    os.makedirs(work)
    env = engine_env(run_dir)
    cpu0 = cpu_times()
    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.engine", args.workload, str(args.seconds),
         str(args.trace), repr(t_spawn), manifest_path, work, result_path],
        cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
    sampler = MemorySampler(proc.pid)
    sampler.start()
    rc = None
    try:
        rc = proc.wait(timeout=ENGINE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sampler.stop_event.set()
        sampler.join()
        end_group(proc.pid)
    engine_s = time.time() - t_spawn
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    if rc != 0:
        print(f"engine process failed (exit {rc})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    res["layers"]["peak_rss_mb"] = sampler.peak / 2**20
    if args.trace and os.path.exists(os.path.join(work, "spans.json")):
        keep = os.path.join(WORK, "last_trace")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        shutil.copy(os.path.join(work, "spans.json"), keep)
    for p in res["problems"]:
        print("MISMATCH", p, file=sys.stderr)
    wanted = LAYER_UNITS if args.trace else E2E_UNITS
    values = res["layers"] if args.trace else res["e2e"]
    receipt = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "pyspark": importlib.metadata.version("pyspark"),
        "python": platform.python_version(), "e2e": res["e2e"],
        "peak_rss_mb": res["layers"]["peak_rss_mb"], "notes": res["notes"],
        "ops_s": res["ops_s"], "gen_s": gen_s, "engine_s": engine_s,
        "host_steal_pct": 100 * cpu[7] / sum(cpu[:8]),
    }
    print("receipt " + json.dumps(receipt))
    failed = int(res["failed"])
    print(json.dumps({
        "correct": failed == 0 and not res["problems"],
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
