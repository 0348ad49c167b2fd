"""One benchmark run in a fresh process: set up a session, warm up, run one
workload for the given seconds, check its outputs against the reference and
write the result as JSON.

Usage (``perfbench/run.py`` starts it; the inputs come from ``gen.prepare``):
python3 -m perfbench.engine WORKLOAD SECONDS TRACE T_SPAWN MANIFEST WORK_DIR RESULT
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen, trace
from perfbench.reference import HOTEL_COLS, compare, expected_enrichment
from perfbench.stats import match_files_to_batches, median, percentile


def flatten_enriched(table: pa.Table) -> pd.DataFrame:
    """Enriched output as one row per ``avgWeathers`` entry: hotel columns,
    ``pos`` (index within the list), ``date``, ``tmp_f``, ``tmp_c``."""
    lists = table["avgWeathers"].combine_chunks()
    lengths = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    flat = table.select(HOTEL_COLS).to_pandas()
    flat = flat.loc[flat.index.repeat(lengths)].reset_index(drop=True)
    w = pc.list_flatten(lists)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    return flat.assign(
        pos=np.arange(len(flat)) - starts,
        date=w.field("date").to_numpy(zero_copy_only=False),
        tmp_f=w.field("tmp_f").to_numpy(zero_copy_only=False),
        tmp_c=w.field("tmp_c").to_numpy(zero_copy_only=False),
    )


def progress_times(progress):
    """Start and end (epoch seconds) and duration of each micro-batch."""
    start = [dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
             for p in progress]
    dur = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    return start, [s + d for s, d in zip(start, dur)], dur


class Run:
    def __init__(self, workload, seconds, traced, t_spawn, manifest, work):
        self.workload = workload
        self.seconds = seconds
        self.traced = traced
        self.t_spawn = t_spawn
        self.m = manifest
        self.work = work
        self.tracer = trace.Tracer(os.path.basename(work), traced)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.ops_s: list[float] = []
        self.notes: dict = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        # operation index -> (start, end) epoch seconds, for measured operations
        self.op_spans: dict[int, tuple[float, float]] = {}
        # streaming batch id -> operation index, for measured micro-batches
        self.batch_op: dict[int, int] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self):
        conf = {}
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false"}
        with self.tracer.span("setup", start=self.t_spawn):
            with self.tracer.span("session.get_spark"):
                from kafka_streams_task_spark.plans import get_spark

                self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            with self.tracer.span("session.first_job"):
                self.spark.range(1).count()
        self.e2e["setup_s"] = time.time() - self.t_spawn
        self.layers["session.get_spark_s"] = sum(self.tracer.durations("session.get_spark"))
        self.layers["session.first_job_s"] = sum(self.tracer.durations("session.first_job"))

    def finish(self, result_path):
        self.spark.stop()
        if self.traced:
            self.event_log_layers()
            self.tracer.dump(os.path.join(self.work, "spans.json"))
            self.layers["self.setup_other_s"] = self.tracer.self_times().get("setup", 0.0)
        with open(result_path, "w") as f:
            json.dump({"attempted": self.attempted, "failed": self.failed,
                       "problems": self.problems[:20], "e2e": self.e2e, "ops_s": self.ops_s,
                       "notes": self.notes,
                       "layers": self.layers}, f)

    # -- streaming ----------------------------------------------------------
    def start_stream(self):
        from kafka_streams_task_spark.schemas import HOTELS_RAW, WEATHER_RAW
        from kafka_streams_task_spark.sources.files import read_json_stream
        from kafka_streams_task_spark.streaming.topology import weather_hotels_stream

        self.watch_dir = os.path.join(self.work, "in")
        self.stage_dir = os.path.join(self.work, "stage")
        os.makedirs(self.watch_dir)
        os.makedirs(self.stage_dir)
        self.stage(0)
        hotels = self.spark.read.schema(HOTELS_RAW).json(self.m["hotels_json"])
        weather = read_json_stream(self.spark, self.watch_dir, WEATHER_RAW, max_files_per_trigger=1)
        self.sink = "enriched_" + os.path.basename(self.work).replace("-", "_")
        q = (
            weather_hotels_stream(weather, hotels)
            .writeStream.format("memory").queryName(self.sink).outputMode("update")
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .start()
        )
        q.processAllAvailable()
        # warm-up: the backfill trigger above, then the next files closed-loop
        for k in range(1, gen.WARMUP_OPS):
            self.stage(k)
            q.processAllAvailable()
        return q

    def stage(self, k: int) -> float:
        """Write file ``k`` outside the watched directory and rename it in;
        returns the time it was due."""
        name = self.m["files"][k]
        with open(os.path.join(self.m["weather_dir"], name), "rb") as f:
            data = f.read()
        staged = os.path.join(self.stage_dir, name)
        with open(staged, "wb") as f:
            f.write(data)
        due = time.time()
        os.rename(staged, os.path.join(self.watch_dir, name))
        return due

    def run_stream_bulk(self):
        """Closed loop: the next file is staged as soon as the previous
        micro-batch has committed."""
        q = self.start_stream()
        dues = {}
        deadline = time.time() + self.seconds
        k = gen.WARMUP_OPS
        while k < len(self.m["files"]) and time.time() < deadline:
            dues[k] = self.stage(k)
            q.processAllAvailable()
            k += 1
        self.end_stream(q, dues)

    def run_stream_trickle(self):
        """Open loop: a separate publisher process moves one small file in per
        period, whether or not the engine keeps up."""
        q = self.start_stream()
        src = os.path.join(self.work, "publish")
        os.makedirs(src)
        first = gen.WARMUP_OPS
        for name in self.m["files"][first:]:
            os.symlink(os.path.join(self.m["weather_dir"], name), os.path.join(src, name))
        log = os.path.join(self.work, "publisher.jsonl")
        pub = subprocess.Popen(
            [sys.executable, "-m", "perfbench.publisher", src, self.stage_dir,
             self.watch_dir, repr(time.time() + 0.2), repr(gen.TRICKLE_PERIOD_S), log])
        try:
            rc = pub.wait(timeout=self.seconds + 60)
        finally:
            if pub.poll() is None:
                pub.kill()
                pub.wait()
        if rc != 0:
            raise RuntimeError(f"publisher exited with {rc}")
        q.processAllAvailable()
        with open(log) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        self.layers["gen.lag_max_s"] = max(r["published"] - r["due"] for r in recs)
        self.end_stream(q, {first + i: r["due"] for i, r in enumerate(recs)},
                        published=[r["published"] for r in recs])

    def end_stream(self, q, dues: dict[int, float], published=None):
        """Metrics over the measured micro-batches (those consuming the files
        in ``dues``), then the output check."""
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        q.stop()
        n_files = max(dues) + 1
        batch_rows = [p["numInputRows"] for p in progress]
        try:
            file_batch = match_files_to_batches(self.m["file_rows"][:n_files], batch_rows)
        except ValueError as e:
            self.attempted, self.failed = max(1, len(progress)), max(1, len(progress))
            self.problems.append(f"files vs batches: {e}")
            return
        start, end, dur = progress_times(progress)
        measured = sorted({file_batch[k] for k in dues})
        self.attempted = len(progress)
        self.op_spans = {i: (start[i], end[i]) for i in measured}
        self.ops_s = [dur[i] for i in measured]
        self.e2e["op_p50_s"] = median(self.ops_s)
        latency = [end[file_batch[k]] - due for k, due in dues.items()]
        self.e2e["latency_p50_s"] = median(latency)
        self.notes = {"latency_samples": len(latency), "latency_p90_s": percentile(latency, 90)}
        self.e2e["rows_per_s"] = median([batch_rows[i] / dur[i] for i in measured])
        self.layers["first_run_s"] = dur[0]
        # the output is checked once, at the end: a mismatch fails every trigger
        self.problems += self.check_stream(n_files)
        if self.problems:
            self.failed = self.attempted
        if self.traced:
            self.stream_layers([progress[i] for i in measured], start, file_batch,
                               measured, dues, published)

    def check_stream(self, n_files: int) -> list[str]:
        """The last emitted ``avgWeathers`` of each hotel against the reference
        over every consumed file.  The memory sink keeps rows in commit order
        and collecting its scan preserves that order."""
        table = self.spark.table(self.sink).toArrow()
        ids = pd.Series(table["id"].to_numpy(zero_copy_only=False))
        last = ids.index.to_series().groupby(ids.values).max().sort_values().to_numpy()
        rows = pd.read_parquet(self.m["rows_parquet"])
        expected = expected_enrichment(rows[rows["file"] < n_files],
                                       pd.read_parquet(self.m["hotels_parquet"]))
        return compare(expected, flatten_enriched(table.take(last)))

    def stream_layers(self, steady, start, file_batch, measured, dues, published):
        L = self.layers

        def dm(key):
            return median([p["durationMs"].get(key, 0) for p in steady])

        L["source.latestOffset_ms"] = dm("latestOffset")
        L["source.getBatch_ms"] = dm("getBatch")
        L["stream.addBatch_ms"] = dm("addBatch")
        L["stream.queryPlanning_ms"] = dm("queryPlanning")
        L["stream.walCommit_ms"] = dm("walCommit")
        L["stream.commitOffsets_ms"] = dm("commitOffsets")
        L["self.trigger_other_ms"] = median([
            p["durationMs"]["triggerExecution"]
            - sum(v for k, v in p["durationMs"].items() if k != "triggerExecution")
            for p in steady])
        states = [p["stateOperators"][0] for p in steady]
        L["rollup.groups_per_trigger"] = median([s["numRowsUpdated"] for s in states])
        L["rollup.rows_out_per_row_in"] = (
            sum(p["sink"].get("numOutputRows", 0) for p in steady)
            / sum(p["numInputRows"] for p in steady))
        L["state.rows_total"] = states[-1]["numRowsTotal"]
        L["state.memory_bytes"] = states[-1]["memoryUsedBytes"]
        L["state.commit_ms"] = median([s.get("commitTimeMs", 0) for s in states])
        durs = [p["durationMs"]["triggerExecution"] for p in steady]
        tenth = max(1, len(durs) // 10)
        L["state.trigger_growth"] = median(durs[-tenth:]) / median(durs[:tenth])
        if published is not None:
            # files published but not yet consumed, seen at each batch start
            L["source.backlog_files_max"] = max(
                sum(1 for t in published if t <= start[i])
                - sum(1 for k in dues if file_batch[k] < i)
                for i in measured)
        self.batch_op = {p["batchId"]: i for i, p in zip(measured, steady)}
        for i in measured:
            self.tracer.add("trigger", *self.op_spans[i])

    # -- batch --------------------------------------------------------------
    def run_batch_enrich(self):
        """Closed loop, one client: ``app.run_batch`` to a fresh parquet
        directory per execution."""
        from kafka_streams_task_spark.app import run_batch

        sc = self.spark.sparkContext
        outs, walls, frames = [], [], []
        deadline = None
        i = 0
        while deadline is None or time.time() < deadline:
            out_path = os.path.join(self.work, f"out{i}")
            sc.setJobGroup(f"perfbench-op{i}", "batch_enrich execution", False)
            t = time.time()
            with self.tracer.span("op"):
                frames.append(run_batch(self.spark, self.m["weather_dir"],
                                        self.m["hotels_json"], out_path))
            self.op_spans[i] = (t, time.time())
            walls.append(time.time() - t)
            outs.append(out_path)
            i += 1
            if i == gen.WARMUP_OPS:
                deadline = time.time() + self.seconds
        sc.setJobGroup("perfbench-check", "output check", False)
        measured = self.ops_s = walls[gen.WARMUP_OPS:]
        self.op_spans = {k: v for k, v in self.op_spans.items() if k >= gen.WARMUP_OPS}
        self.attempted = len(walls)
        self.e2e["op_p50_s"] = median(measured)
        self.e2e["latency_p50_s"] = median(measured)
        self.e2e["rows_per_s"] = sum(self.m["file_rows"]) / median(measured)
        self.layers["first_run_s"] = walls[0]
        expected = expected_enrichment(pd.read_parquet(self.m["rows_parquet"]),
                                       pd.read_parquet(self.m["hotels_parquet"]))
        for i, path in enumerate(outs):
            flat = flatten_enriched(pq.read_table(path))
            problems = compare(expected, flat)
            if flat.duplicated(["id", "pos"]).any():
                problems.append("duplicate hotel rows")
            self.problems += [f"execution {i}: {p}" for p in problems]
            self.failed += bool(problems)
        if self.traced:
            self.batch_layers(frames[gen.WARMUP_OPS:], median(measured))

    def batch_layers(self, frames, op_p50_s):
        from kafka_streams_task_spark.operators.weather import (
            enrich_hotels, hotels_rekey, weather_by_geohash, weather_daily_avg, weather_rekey)
        from kafka_streams_task_spark.schemas import HOTELS_RAW, WEATHER_RAW

        phases = [trace.catalyst_phases(df) for df in frames]
        for name in ("analysis", "optimization", "planning"):
            self.layers[f"catalyst.{name}_ms"] = median([p[name] for p in phases])
        # stage spans: each prefix of the topology runs to a noop sink; the
        # differences of successive prefixes are the stages' own times
        sp = self.spark
        sp.sparkContext.setJobGroup("perfbench-stages", "stage prefixes", False)

        def prefixes():
            w = sp.read.schema(WEATHER_RAW).json(self.m["weather_dir"])
            yield "weather.read_s", w
            k = weather_rekey(w)
            yield "weather.rekey_s", k
            d = weather_daily_avg(k)
            yield "weather.daily_avg_s", d
            g = weather_by_geohash(d)
            yield "weather.by_geohash_s", g
            h = sp.read.schema(HOTELS_RAW).json(self.m["hotels_json"])
            yield "weather.enrich_s", enrich_hotels(hotels_rekey(h), g)

        times: dict[str, list[float]] = {}
        for _ in range(3):
            for name, df in prefixes():
                t = time.time()
                with self.tracer.span(name):
                    df.write.format("noop").mode("overwrite").save()
                times.setdefault(name, []).append(time.time() - t)
        prev = 0.0
        for name, ts in times.items():
            self.layers[name] = median(ts) - prev
            prev = median(ts)
        self.layers["app.write_s"] = op_p50_s - prev

    # -- event log ----------------------------------------------------------
    def event_log_layers(self):
        """JVM, shuffle, driver and Python-lane figures of the measured
        operations, as medians over operations."""
        if self.workload == "batch_enrich":
            def op_of_job(props):
                g = props.get("spark.jobGroup.id", "")
                return int(g[len("perfbench-op"):]) if g.startswith("perfbench-op") else None
        else:
            def op_of_job(props):
                b = props.get("streaming.sql.batchId")
                return self.batch_op.get(int(b)) if b is not None else None
        per_op = trace.event_log_layers(os.path.join(self.work, "eventlog"), op_of_job)
        per_op = {op: v for op, v in per_op.items() if op in self.op_spans}
        for key, name in [("jobs", "driver.jobs"), ("stages", "driver.stages"),
                          ("task_run_ms", "jvm.task_run_ms"), ("task_cpu_ms", "jvm.task_cpu_ms"),
                          ("gc_ms", "jvm.gc_ms"), ("max_task_ms", "jvm.max_task_ms"),
                          ("shuffle_write_bytes", "shuffle.write_bytes"),
                          ("shuffle_read_bytes", "shuffle.read_bytes"),
                          ("py_rows_received", "python.rows_received"),
                          ("py_bytes_sent", "python.bytes_sent"),
                          ("py_bytes_received", "python.bytes_received"),
                          ("py_stage_task_ms", "python.stage_task_ms")]:
            self.layers[name] = median([v[key] for v in per_op.values()])
        self.layers["driver.gap_ms"] = median([
            trace.uncovered_ms(self.op_spans[op][0] * 1000, self.op_spans[op][1] * 1000,
                               v["job_intervals"])
            for op, v in per_op.items()])


def main(argv: list[str]) -> int:
    workload, seconds, traced, t_spawn, manifest, work, result = argv
    with open(manifest) as f:
        m = json.load(f)
    run = Run(workload, int(seconds), traced == "1", float(t_spawn), m, work)
    run.setup()
    getattr(run, "run_" + workload)()
    run.finish(result)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
