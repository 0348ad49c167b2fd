#!/usr/bin/env python
"""Same-host A/B trial runner for the bench receipt protocol
(BENCH_BASELINE_r1.md): run N trials of named bench entries from a
given repo root (the current tree or a freeze-point worktree) and print
one JSON line with the raw trials plus the CPU calibration probe measured
in the same session.

The harness (session warm-up, calibration probe, entry lookup, timed run)
is always this tree's bench.py, so both sides of an A/B are timed the same
way; the workloads and the engine package come from --root.

Usage:
  python tools/ab_trials.py --root . --trials 6 warc_parse cms_freq
  python tools/ab_trials.py --root /tmp/wt_r9 --trials 6 snapshot_diff

Run each root in a separate process (both roots define a `bench` module).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_harness():
    """This tree's bench.py, under a name that leaves `bench` to --root."""
    spec = importlib.util.spec_from_file_location(
        "bench_harness", os.path.join(HERE, "bench.py")
    )
    harness = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(harness)
    return harness


def main() -> int:
    args = sys.argv[1:]
    root, trials, ops = None, 6, []
    i = 0
    while i < len(args):
        if args[i] in ("--root", "--trials"):
            if i + 1 >= len(args):
                print(f"{args[i]} requires a value\n{__doc__}", file=sys.stderr)
                return 2
            if args[i] == "--root":
                root = args[i + 1]
            else:
                try:
                    trials = int(args[i + 1])
                except ValueError:
                    print(f"--trials must be an int\n{__doc__}", file=sys.stderr)
                    return 2
            i += 2
        else:
            ops.append(args[i])
            i += 1
    if not root or not ops:
        print(__doc__, file=sys.stderr)
        return 2

    # importing bench.py puts its own directory first on sys.path, so the
    # harness is loaded before --root goes in front of it
    harness = _load_harness()
    sys.path.insert(0, os.path.abspath(root))
    import bench  # the root's own bench module (freeze-point or current)

    import kafka_streams_task_spark as engine

    engine_root = os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__)))
    if os.path.realpath(engine_root) != os.path.realpath(root):
        print(f"engine loaded from {engine_root}, not --root {root}", file=sys.stderr)
        return 2
    print(f"# engine: {engine_root}; workloads: {bench.__file__}", file=sys.stderr)

    from kafka_streams_task_spark.catalog import CATALOG
    from kafka_streams_task_spark.plans import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.path.abspath(sf_dir)
    # Python workers import the engine from the session's working
    # directory, not from this process's sys.path
    os.chdir(root)
    spark = get_spark(app_name="ab_trials")
    harness.warm_up(spark)
    calib = min(harness._calib_once(spark), harness._calib_once(spark))

    workloads = bench._ops_workloads()
    raw = bench._raw_ops() if hasattr(bench, "_raw_ops") else {}
    out: dict[str, list[float]] = {}
    for name in ops:
        fn = harness.resolve_entry(name, workloads, raw, CATALOG)
        if fn is None:
            print(f"# {name}: not in this root's bench", file=sys.stderr)
            continue
        runs = [harness.timed_run(spark, fn, sf_dir)[0] for _ in range(trials)]
        out[name] = runs
        print(f"# {name}: {runs} (min {min(runs)})", file=sys.stderr)

    print(json.dumps({"root": root, "calib_sec": calib, "trials": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
