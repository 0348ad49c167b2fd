"""Structured Streaming tests: the canonical topology and changelog views
driven through real streaming queries (file source, availableNow trigger,
memory sink) — the engine's TopologyTestDriver equivalent
(WeatherStreamsTest.java:57). maxFilesPerTrigger=1 forces multiple
micro-batches, so cross-batch state accumulation is actually exercised.
"""

from __future__ import annotations

import json
import shutil
import tempfile
import uuid

import pytest

from kafka_streams_task_spark.functions.geohash import geohash_encode
from kafka_streams_task_spark.schemas import HOTELS_RAW, WEATHER_RAW
from kafka_streams_task_spark.sources.files import read_json_stream


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(df, name: str, tmpdir: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


GH = geohash_encode(51.51, -0.07, 4)


def _write_weather_batches(tmpdir: str) -> str:
    """Two files = two micro-batches; day-1 average only correct if state
    carries across batches."""
    src = f"{tmpdir}/weather_in"
    import os

    os.makedirs(src)
    batch1 = [
        {"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01", "avg_tmpr_f": 70.0, "avg_tmpr_c": 30.0},
        {"lat": 10.0, "lng": 10.0, "wthr_date": "2020-01-01", "avg_tmpr_f": 99.0, "avg_tmpr_c": 37.0},
    ]
    batch2 = [
        {"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01", "avg_tmpr_f": 72.0, "avg_tmpr_c": 32.0},
        {"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-02", "avg_tmpr_f": 72.0, "avg_tmpr_c": 32.0},
    ]
    import time as _time

    now = _time.time()
    for i, batch in enumerate([batch1, batch2]):
        path = f"{src}/b{i}.json"
        with open(path, "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")
        # FileStreamSource orders batches by modification time: make it explicit
        os.utime(path, (now + 30 * i, now + 30 * i))
    return src


def test_weather_rollup_stream(spark, tmpdir):
    """Cross-batch stateful rollup: final emission for the hotel cell must
    average day-1 across both micro-batches (70, 72 -> 71) — the golden
    semantics of testAggregateWeather (WeatherStreamsTest.java:205-216)."""
    from kafka_streams_task_spark.streaming import weather_rollup_stream

    src = _write_weather_batches(tmpdir)
    stream = read_json_stream(spark, src, WEATHER_RAW, max_files_per_trigger=1)
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(weather_rollup_stream(stream), name, tmpdir)

    rows = spark.sql(f"SELECT * FROM {name}").collect()
    # update-mode changelog: the LAST emission per key is the current state
    last = {}
    for r in rows:
        last[r.geohash] = r.weatherList
    assert GH in last
    final = [(w.tmp_f, w.tmp_c, w.date) for w in last[GH]]
    assert final == [(71.0, 31.0, "2020-01-01"), (72.0, 32.0, "2020-01-02")]
    # the intermediate emission (batch 1: avg of just 70.0) must also exist —
    # continuous update semantics
    gh_emissions = [r for r in rows if r.geohash == GH]
    assert len(gh_emissions) == 2
    assert [(w.tmp_f, w.date) for w in gh_emissions[0].weatherList] == [(70.0, "2020-01-01")]


def test_weather_hotels_stream_end_to_end(spark, tmpdir):
    """Full streaming topology incl. stream-static enrichment join."""
    from kafka_streams_task_spark.streaming import weather_hotels_stream

    src = _write_weather_batches(tmpdir)
    hotels = spark.createDataFrame(
        [("42", "TestHotel", "GB", "London", "A", "51.51", "-0.07", GH),
         ("7", "NoWeather", "US", "Nowhere", "B", "1", "1", "zzzz")],
        schema=HOTELS_RAW,
    )
    stream = read_json_stream(spark, src, WEATHER_RAW, max_files_per_trigger=1)
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    _run_to_memory(weather_hotels_stream(stream, hotels), name, tmpdir)

    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert all(r.hash == GH for r in rows)  # inner join: only matched hotel
    last = rows[-1]
    assert last.name == "TestHotel"
    assert [(w.tmp_f, w.tmp_c, w.date) for w in last.avgWeathers] == [
        (71.0, 31.0, "2020-01-01"),
        (72.0, 32.0, "2020-01-02"),
    ]


def test_latest_per_key_stream(spark, tmpdir):
    """A6 streaming changelog: last write wins across micro-batches."""
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming import latest_per_key_stream

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("offset", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    import time as _time

    src = f"{tmpdir}/events_in"
    os.makedirs(src)
    now = _time.time()
    with open(f"{src}/b0.json", "w") as f:
        f.write('{"k": "k1", "offset": 1, "v": "a"}\n')
        f.write('{"k": "k2", "offset": 1, "v": "x"}\n')
    with open(f"{src}/b1.json", "w") as f:
        f.write('{"k": "k1", "offset": 3, "v": "c"}\n')
    with open(f"{src}/b2.json", "w") as f:
        f.write('{"k": "k1", "offset": 2, "v": "b"}\n')  # stale: must NOT win
    for i in range(3):
        os.utime(f"{src}/b{i}.json", (now + 30 * i, now + 30 * i))

    stream = read_json_stream(spark, src, schema, max_files_per_trigger=1)
    name = f"latest_{uuid.uuid4().hex[:8]}"
    _run_to_memory(latest_per_key_stream(stream, "k", "offset"), name, tmpdir)

    rows = spark.sql(f"SELECT * FROM {name}").collect()
    last = {}
    for r in rows:
        last[r.k] = r.v
    assert last == {"k1": "c", "k2": "x"}


# ---------------------------------------------------------------------------
# Streaming dedup (ingest tier of the dedup family — streaming/dedup.py)
# ---------------------------------------------------------------------------


def _write_doc_batches(tmpdir: str) -> str:
    """Two micro-batches with intra- and cross-batch duplicate text."""
    import os
    import time as _time

    src = f"{tmpdir}/docs_in"
    os.makedirs(src)
    b1 = [
        {"doc_id": 1, "text": "alpha beta gamma", "ts": "2020-01-01 10:00:00"},
        {"doc_id": 2, "text": "alpha beta gamma", "ts": "2020-01-01 10:00:05"},
        {"doc_id": 3, "text": "delta epsilon", "ts": "2020-01-01 10:00:10"},
    ]
    b2 = [
        {"doc_id": 4, "text": "alpha beta gamma", "ts": "2020-01-01 10:00:20"},
        {"doc_id": 5, "text": "zeta eta", "ts": "2020-01-01 10:00:30"},
    ]
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b1))
    _time.sleep(0.01)
    with open(f"{src}/b2.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b2))
    return src


def _read_doc_stream(spark, src: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def test_streaming_dedup_exact_cross_batch(spark, tmpdir):
    """First occurrence of each distinct text survives — including across
    micro-batch boundaries (doc 4 duplicates batch-1 text)."""
    from kafka_streams_task_spark.streaming.dedup import streaming_dedup_exact

    stream = _read_doc_stream(spark, _write_doc_batches(tmpdir))
    out = streaming_dedup_exact(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_exact_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_dx")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM dedup_exact_stream").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 3, 5]


def test_streaming_dedup_watermarked_bounded_state(spark, tmpdir):
    """Within-watermark duplicates collapse; the survivors are the first
    arrival per distinct text. (State eviction past the watermark is the
    engine's own contract — what we pin is the dedup semantics and that
    the query runs with a real watermark + availableNow triggers.)"""
    from kafka_streams_task_spark.streaming.dedup import (
        streaming_dedup_watermarked,
    )

    stream = _read_doc_stream(spark, _write_doc_batches(tmpdir))
    out = streaming_dedup_watermarked(stream, time_col="ts", delay="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wm_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_dw")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM dedup_wm_stream").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 3, 5]


def test_text_quality_surface_on_stream(spark, tmpdir):
    """The quality-filter feature set (quality score, repetition ratio, PII
    flags) is pure codegen, so it must run unchanged on a document STREAM —
    ingest-time filtering parity with the batch catalog query."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_streams_task_spark.functions.text import (
        gopher_quality_columns,
        pii_flags,
        quality_score,
        repetition_ratio,
    )

    src = f"{tmpdir}/q_in"
    os.makedirs(src)
    with open(f"{src}/b.json", "w") as f:
        f.write(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": "reach me at bob@mail.com now"},
                    {"doc_id": 2, "text": "spam spam spam spam spam spam"},
                    {"doc_id": 3, "text": "a perfectly ordinary sentence with the usual words"},
                ]
            )
        )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    def quality_select(df):
        return df.select(
            "doc_id",
            quality_score("text").alias("quality"),
            F.round(repetition_ratio("text"), 4).alias("rep"),
            *pii_flags("text"),
            *gopher_quality_columns("text"),
        )

    stream = spark.readStream.schema(schema).json(src)
    out = quality_select(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("quality_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_q")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql("SELECT * FROM quality_stream").collect()}
    assert got[1]["has_email"] == 1 and got[3]["has_email"] == 0
    assert got[2]["rep"] > 0.7 and got[3]["rep"] == 0.0
    assert all(0.0 <= got[i]["quality"] <= 1.0 for i in (1, 2, 3))
    # exact stream/batch parity across the whole feature set, Gopher included
    batch = {
        r["doc_id"]: r
        for r in quality_select(spark.read.schema(schema).json(src)).collect()
    }
    assert got == batch
    assert all(got[i]["gopher_pass"] == 0 for i in (1, 2, 3))  # all < 50 words


def test_weather_rollup_checkpoint_restart(spark, tmpdir):
    """Checkpoint recovery of the chained stateful aggregation: drain
    batch 1, STOP the query, deliver batch 2, restart a NEW query instance
    on the SAME checkpoint — the recovered state must still hold batch-1's
    contribution, so day-1 averages 70 and 72 to 71. This is the restart
    half of the §2.6 exactly-once claim (the reference gets it from Kafka
    Streams' changelog-topic state restore)."""
    import os
    import time as _time

    from kafka_streams_task_spark.streaming import weather_rollup_stream

    src = f"{tmpdir}/weather_ckpt_in"
    os.makedirs(src)
    ckpt = f"{tmpdir}/ckpt_restart"
    name = f"rollup_restart_{uuid.uuid4().hex[:8]}"

    def deliver(fname: str, recs, mtime: float):
        path = f"{src}/{fname}"
        with open(path, "w") as f:
            for rec in recs:
                f.write(json.dumps(rec) + "\n")
        os.utime(path, (mtime, mtime))

    out_dir = f"{tmpdir}/rollup_out"

    def run_instance():
        # memory sink can't recover from a checkpoint; foreachBatch + parquet
        # append is the recovery-capable sink (same shape as production's
        # rollup_via_foreach_batch)
        from pyspark.sql import functions as F

        def emit(batch_df, batch_id: int):
            batch_df.withColumn("_b", F.lit(batch_id)).write.mode("append").parquet(out_dir)

        stream = read_json_stream(spark, src, WEATHER_RAW, max_files_per_trigger=1)
        q = (
            weather_rollup_stream(stream)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    now = _time.time()
    deliver(
        "b0.json",
        [{"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01",
          "avg_tmpr_f": 70.0, "avg_tmpr_c": 30.0}],
        now,
    )
    run_instance()  # instance 1: sees only batch 1, then stops

    deliver(
        "b1.json",
        [{"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01",
          "avg_tmpr_f": 72.0, "avg_tmpr_c": 32.0}],
        now + 30,
    )
    run_instance()  # instance 2: same checkpoint, must restore state

    rows = spark.read.parquet(out_dir).orderBy("_b").collect()
    assert rows[-1]["_b"] > 0, "restarted instance processed no new batch"
    final = [r for r in rows if r.geohash == GH][-1].weatherList
    # 71 = avg(70, 72): loses batch 1's state -> 72; replays batch 1 after
    # restart (double-count) -> avg(70, 70, 72) = 70.67. Both are caught.
    assert [(w.tmp_f, w.tmp_c, w.date) for w in final] == [(71.0, 31.0, "2020-01-01")]

    # The recovered streaming state must equal the BATCH recompute over
    # everything ever delivered (VERDICT r4 done-criterion: no loss, no
    # double-count, proven against the engine's own batch path rather than
    # a hand-computed constant).
    from kafka_streams_task_spark.operators.weather import (
        weather_by_geohash,
        weather_daily_avg,
        weather_rekey,
    )

    batch_all = spark.read.schema(WEATHER_RAW).json(src)
    expect = {
        r.geohash: [(w.tmp_f, w.tmp_c, w.date) for w in r.weatherList]
        for r in weather_by_geohash(weather_daily_avg(weather_rekey(batch_all))).collect()
    }
    last = {r.geohash: r.weatherList for r in rows}  # rows ordered by _b
    got = {gh: [(w.tmp_f, w.tmp_c, w.date) for w in wl] for gh, wl in last.items()}
    assert got == expect


def test_rollup_state_ttl_drops_idle_cell(spark, tmpdir):
    """Drive the ProcessingTimeTimeout branch (_make_rollup_fn: hasTimedOut
    -> state.remove()): a cell idle past state_ttl_ms is dropped during a
    later batch, and a subsequent record for it rebuilds state from scratch
    (its emission shows only the new data, NOT an average with pre-TTL
    rows). The test polls the memory sink rather than calling
    processAllAvailable(): with a processing-time timeout the engine keeps
    scheduling timer-only batches to evict expired state, so
    processAllAvailable's no-new-data condition never settles."""
    import os
    import time

    from kafka_streams_task_spark.streaming import weather_rollup_stream

    src = f"{tmpdir}/weather_ttl_in"
    os.makedirs(src)

    def write_batch(i, recs):
        with open(f"{src}/b{i}.json", "w") as f:
            for rec in recs:
                f.write(json.dumps(rec) + "\n")

    write_batch(0, [{"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01",
                     "avg_tmpr_f": 70.0, "avg_tmpr_c": 30.0}])
    stream = read_json_stream(spark, src, WEATHER_RAW)
    name = f"ttl_{uuid.uuid4().hex[:8]}"
    q = (
        weather_rollup_stream(stream, state_ttl_ms=1000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .start()
    )

    def wait_for(pred, what, timeout_s=90):
        for _ in range(timeout_s * 2):
            assert q.exception() is None, q.exception()
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            if pred(rows):
                return rows
            time.sleep(0.5)
        raise AssertionError(f"timed out waiting for {what}: {rows}")

    try:
        wait_for(lambda rs: any(r.geohash == GH for r in rs), "batch 0")
        time.sleep(3)  # let cell A's 1s processing-time timer expire
        # batch 1: a different cell; processing it fires A's timeout branch
        write_batch(1, [{"lat": 10.0, "lng": 10.0, "wthr_date": "2020-01-01",
                         "avg_tmpr_f": 99.0, "avg_tmpr_c": 37.0}])
        wait_for(lambda rs: any(r.geohash != GH for r in rs), "batch 1")
        time.sleep(1)
        # batch 2: cell A returns — state must have been rebuilt empty
        write_batch(2, [{"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01",
                         "avg_tmpr_f": 90.0, "avg_tmpr_c": 40.0}])
        rows = wait_for(
            lambda rs: sum(1 for r in rs if r.geohash == GH) >= 2, "batch 2"
        )
    finally:
        q.stop()

    a_emissions = [r.weatherList for r in rows if r.geohash == GH]
    assert [(w.tmp_f, w.date) for w in a_emissions[0]] == [(70.0, "2020-01-01")]
    # fresh state: 90.0 alone, not avg(70, 90) = 80.0
    assert [(w.tmp_f, w.date) for w in a_emissions[-1]] == [(90.0, "2020-01-01")]


def test_repetition_filter_on_stream(spark, tmpdir):
    """The r5 Gopher repetition family is zero-shuffle codegen, so it runs
    unchanged as an ingest-time STREAMING filter: a looping/templated doc
    is rejected at the stream boundary while clean prose passes — batch
    parity asserted against the same rows."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_streams_task_spark.functions.text import gopher_repetition_columns

    rows = [
        {"doc_id": 1, "text": "the cat sat on the mat while the dog slept by the door"},
        {"doc_id": 2, "text": "buy now buy now buy now buy now buy now buy now buy now"},
        {"doc_id": 3, "text": "plain boring text with no repeats at all in it anywhere"},
    ]
    src = f"{tmpdir}/rep_in"
    os.makedirs(src)
    with open(f"{src}/b.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def gate(df):
        return df.select("doc_id", *gopher_repetition_columns(F.col("text"))).filter(
            "repetition_pass = 1"
        )

    stream = spark.readStream.schema(schema).json(src)
    _run_to_memory(gate(stream), "rep_gate", tmpdir)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM rep_gate").collect()}
    assert got == {1, 3}  # the ad-loop doc is rejected at ingest

    batch = spark.read.schema(schema).json(src)
    want = {r["doc_id"] for r in gate(batch).collect()}
    assert got == want  # streaming/batch parity


def test_streaming_dedup_near_cross_batch(spark, tmpdir):
    """Near-dup dedup at ingest against the durable LSH band index:
    within-batch near-copies drop (smaller id survives), a later batch's
    near-copy of an INDEXED doc drops on arrival, and the committed index
    holds only survivors' bands."""
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.dedup import streaming_dedup_near

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles hang on the wall and a river runs quietly past "
        "the old stone mill at dawn carrying leaves and cold clear water"
    )
    other = (
        "completely different content about compilers register allocation "
        "and graph coloring with spill heuristics live ranges interference "
        "edges and loop nesting depth guiding the priority function choices"
    )
    near = base.replace("seventeen", "eighteen")   # near-dup of base
    near2 = base.replace("dawn", "dusk")           # near-dup, later batch
    src = f"{tmpdir}/near_in"
    os.makedirs(src)
    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in [
            {"doc_id": 1, "text": base},
            {"doc_id": 2, "text": other},
            {"doc_id": 3, "text": near},      # same-batch near-dup of 1
        ]))
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in [
            {"doc_id": 10, "text": near2},    # cross-batch near-dup of indexed 1
            {"doc_id": 11, "text": "short unrelated note on tea kettles and whistling steam"},
        ]))
    # the file source orders batches by modification time: force b0 first
    os.utime(f"{src}/b0.json", (1000000000, 1000000000))
    os.utime(f"{src}/b1.json", (1000000100, 1000000100))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    index_dir = f"{tmpdir}/near_index"
    q = streaming_dedup_near(stream, index_dir, f"{tmpdir}/near_ckpt")
    q.awaitTermination(180)

    kept = spark.read.parquet(f"{index_dir}/kept")
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {1, 2, 10, 11} - {10}  # 3 dropped in-batch, 10 vs index
    assert kept_ids == {1, 2, 11}

    # the index holds exactly the survivors' bands
    from kafka_streams_task_spark.streaming.state import committed_versions

    versions = committed_versions(spark, index_dir, "bands_v")
    assert len(versions) == 2
    idx = spark.read.parquet(*[f"{index_dir}/bands_v{v}" for v in versions])
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == kept_ids

    # replaying the same input on the same index dir adds nothing (the
    # shard-commit check makes redelivery a no-op)
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    q2 = streaming_dedup_near(stream2, index_dir, f"{tmpdir}/near_ckpt")
    q2.awaitTermination(180)
    assert {r["doc_id"] for r in spark.read.parquet(f"{index_dir}/kept").collect()} == kept_ids


def test_streaming_dedup_near_rejects_foreign_checkpoint(spark, tmpdir):
    """An index dir is bound to its checkpoint for life: starting a NEW
    checkpoint against an existing index would replay batch ids 0..N and
    silently skip real batches — it must raise up front instead."""
    import os

    import pytest as _pytest
    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.dedup import streaming_dedup_near

    src = f"{tmpdir}/bind_in"
    os.makedirs(src)
    with open(f"{src}/b.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "one lone doc"}))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    index_dir = f"{tmpdir}/bind_index"
    stream = spark.readStream.schema(schema).json(src)
    q = streaming_dedup_near(stream, index_dir, f"{tmpdir}/bind_ckpt_a")
    q.awaitTermination(120)

    stream2 = spark.readStream.schema(schema).json(src)
    with _pytest.raises(ValueError, match="bound to checkpoint"):
        streaming_dedup_near(stream2, index_dir, f"{tmpdir}/bind_ckpt_B")


def test_streaming_cdc_materialized_view(spark, tmpdir):
    """Streaming CDC apply: latest-wins across batches, delete tombstones
    persist (a STALE late update must not resurrect or overwrite), and
    replaying the same input is a no-op."""
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.cdc import (
        read_cdc_view,
        streaming_apply_changes,
    )

    src = f"{tmpdir}/cdc_in"
    os.makedirs(src)
    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in [
            {"k": 1, "v": "a1", "op": "U", "version": 1},
            {"k": 1, "v": "a2", "op": "U", "version": 2},   # in-batch supersede
            {"k": 2, "v": "b1", "op": "U", "version": 1},
            {"k": 3, "v": "c1", "op": "U", "version": 5},
        ]))
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in [
            {"k": 2, "v": None, "op": "D", "version": 9},   # delete
            {"k": 3, "v": "stale", "op": "U", "version": 3},  # LATE stale update
            {"k": 4, "v": "d1", "op": "U", "version": 1},
        ]))
    with open(f"{src}/b2.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in [
            {"k": 2, "v": "b-stale", "op": "U", "version": 4},  # loses to tombstone v9
            {"k": 1, "v": None, "op": "D", "version": 7},       # delete k=1
            {"k": 1, "v": "a9", "op": "U", "version": 8},       # resurrect above
        ]))
    for i, name in enumerate(["b0.json", "b1.json", "b2.json"]):
        os.utime(f"{src}/{name}", (1000000000 + i * 100,) * 2)

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("version", T.LongType()),
    ])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    state_dir = f"{tmpdir}/cdc_state"
    q = streaming_apply_changes(stream, state_dir, f"{tmpdir}/cdc_ckpt", ["k"])
    q.awaitTermination(180)

    view = {r.k: (r.v, r.version) for r in read_cdc_view(spark, state_dir).collect()}
    assert view == {
        1: ("a9", 8),   # deleted then resurrected at a higher version
        3: ("c1", 5),   # stale v3 lost to the standing v5
        4: ("d1", 1),
        # 2 absent: v9 tombstone beats the late v4 upsert
    }

    # replay on the same checkpoint+state: batch ids redeliver, no change
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    q2 = streaming_apply_changes(stream2, state_dir, f"{tmpdir}/cdc_ckpt", ["k"])
    q2.awaitTermination(180)
    view2 = {r.k: (r.v, r.version) for r in read_cdc_view(spark, state_dir).collect()}
    assert view2 == view

    # a FRESH checkpoint against the bound state dir must be refused
    import pytest as _pytest

    stream3 = spark.readStream.schema(schema).json(src)
    with _pytest.raises(ValueError, match="bound to checkpoint"):
        streaming_apply_changes(stream3, state_dir, f"{tmpdir}/cdc_ckpt_other", ["k"])

    # r7 (VERDICT r6 item 7): batch-equivalence invariant — the streaming
    # view's final state must equal the BATCH apply_changes of the same
    # change log over an empty snapshot, however the log was micro-batched.
    from kafka_streams_task_spark.operators.merge import apply_changes

    empty = spark.createDataFrame([], "k long, v string")
    all_changes = spark.read.schema(schema).json(src)
    batch = {r.k: r.v for r in apply_changes(empty, all_changes, ["k"]).collect()}
    assert batch == {k: v for k, (v, _ver) in view.items()}


def test_streaming_cdc_tombstone_compaction(spark, tmpdir):
    """With a tombstone watermark, compacted deletes leave the state
    (bounded growth); the view is unchanged. Without it (default), the
    tombstone is retained and still beats a later stale upsert."""
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.cdc import (
        read_cdc_view,
        streaming_apply_changes,
    )

    rows_b0 = [
        {"k": 1, "v": "a", "op": "U", "version": 10},
        {"k": 2, "v": "b", "op": "U", "version": 10},
        {"k": 2, "v": None, "op": "D", "version": 11},  # old tombstone
    ]
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("version", T.LongType()),
    ])

    for name, wm, expect_tombstones in (
        ("keep", None, 1),
        ("compact", 100, 0),
    ):
        src = f"{tmpdir}/tomb_in_{name}"
        os.makedirs(src)
        with open(f"{src}/b0.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows_b0))
        stream = spark.readStream.schema(schema).json(src)
        state_dir = f"{tmpdir}/tomb_state_{name}"
        q = streaming_apply_changes(
            stream, state_dir, f"{tmpdir}/tomb_ckpt_{name}", ["k"],
            tombstone_min_version=wm,
        )
        q.awaitTermination(120)
        view = {r.k: r.v for r in read_cdc_view(spark, state_dir).collect()}
        assert view == {1: "a"}, name
        from kafka_streams_task_spark.streaming.state import committed_versions

        last = committed_versions(spark, state_dir, "state_v")[-1]
        state = spark.read.parquet(f"{state_dir}/state_v{last}")
        n_tomb = state.filter("_op = 'D'").count()
        assert n_tomb == expect_tombstones, name


def test_streaming_dedup_near_compacts_index_shards(spark, tmpdir):
    """``compact_every=2``: shards merge into one ``bands_vcompact_{N}``
    root as the stream runs (advice r9: unbounded per-batch root count),
    dedup keeps working ACROSS the compaction boundary (a later batch's
    near-copy of a doc whose shard was compacted away still drops), and
    replaying the drained input is a no-op via the covered-id check."""
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.dedup import streaming_dedup_near
    from kafka_streams_task_spark.streaming.state import (
        committed_index_state,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles hang on the wall and a river runs quietly past "
        "the old stone mill at dawn carrying leaves and cold clear water"
    )
    filler = [
        "compilers allocate registers by coloring interference graphs "
        "with spill heuristics guiding priorities across live ranges",
        "tea kettles whistle when steam escapes the narrow spout at a "
        "resonant frequency set by the chamber geometry and the flow",
        "orchards in late autumn shed their leaves onto the damp grass "
        "while starlings gather in loud flocks above the cider press",
    ]
    src = f"{tmpdir}/cmp_in"
    os.makedirs(src)
    batches = [
        [{"doc_id": 1, "text": base}],
        [{"doc_id": 2, "text": filler[0]}],
        [{"doc_id": 3, "text": filler[1]}],
        # near-copy of doc 1, whose shard was compacted two rounds ago
        [{"doc_id": 4, "text": base.replace("dawn", "dusk")},
         {"doc_id": 5, "text": filler[2]}],
    ]
    for i, rows in enumerate(batches):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    index_dir = f"{tmpdir}/cmp_index"
    q = streaming_dedup_near(
        stream, index_dir, f"{tmpdir}/cmp_ckpt", compact_every=2
    )
    q.awaitTermination(240)

    kept_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{index_dir}/kept").collect()
    }
    assert kept_ids == {1, 2, 3, 5}  # 4 dropped against the COMPACTED index

    # the index collapsed to one compact root covering batch 3, with at
    # most compact_every-1 live shards on top (here: zero)
    compact_path, hi, live = committed_index_state(spark, index_dir, "bands_v")
    assert compact_path is not None and hi == 3 and live == []
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(compact_path).select("doc_id").distinct().collect()
    }
    assert idx_ids == kept_ids

    # replay on the same checkpoint: every batch id is <= hi → no-op
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    q2 = streaming_dedup_near(
        stream2, index_dir, f"{tmpdir}/cmp_ckpt", compact_every=2
    )
    q2.awaitTermination(240)
    assert {
        r["doc_id"] for r in spark.read.parquet(f"{index_dir}/kept").collect()
    } == kept_ids


def test_compact_index_shards_unit(spark, tmpdir):
    """Direct contract of the compaction helper: merges compact root +
    live shards, deletes covered dirs, ignores uncommitted (_SUCCESS-less)
    dirs, and treats shard 0 as a real coverable version (the
    never-compacted sentinel is hi=-1, not 0 — batch ids start at 0)."""
    import os
    import shutil

    from kafka_streams_task_spark.streaming.state import (
        committed_index_state,
        compact_index_shards,
    )

    root = f"{tmpdir}/unit_idx"
    df = lambda v: spark.createDataFrame([(v,)], "doc_id bigint")  # noqa: E731
    # empty index: nothing to merge
    assert compact_index_shards(spark, root, "bands_v") is None
    # only shard 0: compacts to compact_0 without losing the row
    df(0).write.parquet(f"{root}/bands_v0")
    p0 = compact_index_shards(spark, root, "bands_v")
    assert p0 == f"{root}/bands_vcompact_0"
    assert [r["doc_id"] for r in spark.read.parquet(p0).collect()] == [0]
    assert committed_index_state(spark, root, "bands_v") == (p0, 0, [])
    # shards 1..2 committed on top + one CRASHED shard (no _SUCCESS)
    df(1).write.parquet(f"{root}/bands_v1")
    df(2).write.parquet(f"{root}/bands_v2")
    df(9).write.parquet(f"{root}/bands_v9")
    os.remove(f"{root}/bands_v9/_SUCCESS")
    p = compact_index_shards(spark, root, "bands_v")
    assert p == f"{root}/bands_vcompact_2"
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(p).collect()
    ) == [0, 1, 2]
    # covered shards deleted; crashed shard untouched
    assert not os.path.exists(f"{root}/bands_v0")
    assert os.path.exists(f"{root}/bands_v9")
    cp, hi, live = committed_index_state(spark, root, "bands_v")
    assert (cp, hi, live) == (p, 2, [])
    # a later shard stacks on top; recompaction folds it in and removes
    # the older compact dir
    df(3).write.parquet(f"{root}/bands_v3")
    cp, hi, live = committed_index_state(spark, root, "bands_v")
    assert (hi, live) == (2, [3])
    p2 = compact_index_shards(spark, root, "bands_v")
    assert p2 == f"{root}/bands_vcompact_3"
    assert not os.path.exists(p)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(p2).collect()
    ) == [0, 1, 2, 3]
    shutil.rmtree(root)


def test_streaming_dedup_contained_batch_equivalence_and_cross_batch(spark, tmpdir):
    """r12 (VERDICT r11 item 6): containment dedup at ingest. Batch 0 is
    the chain decision corpus (A⊂B⊂C + mutual pair + disjoint): one batch
    through the streaming tier must keep EXACTLY drop_contained_documents'
    survivors (stream == batch equivalence). Batch 1 pins the cross-batch
    contract: a new doc contained in an indexed doc drops on arrival; a
    new SUPERSET of an indexed doc is kept and the landed doc is never
    retracted (the documented conservative asymmetry)."""
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.dedup import drop_contained_documents
    from kafka_streams_task_spark.streaming.dedup import streaming_dedup_contained

    b0 = [
        {"doc_id": 11, "text": "w1 w2 w3 w4 w5 w6"},
        {"doc_id": 12, "text": "w1 w2 w3 w4 w5 w6 y1 y2 y3 y4"},
        {"doc_id": 13, "text": "w1 w2 w3 w4 w5 w6 y1 y2 y3 y4 z1 z2 z3 z4"},
        {"doc_id": 14, "text": "m1 m2 m3 m4 m5"},
        {"doc_id": 15, "text": "m1 m2 m3 m4 m5"},
        {"doc_id": 16, "text": "q1 q2 q3 q4 q5"},
    ]
    b1 = [
        # every shingle of 20 sits inside indexed 13 -> drops on arrival
        {"doc_id": 20, "text": "w1 w2 w3 w4 w5 w6 y1 y2"},
        # SUPERSET of indexed 16: kept, and 16 is never retracted
        {"doc_id": 21, "text": "q1 q2 q3 q4 q5 r1 r2 r3 r4 r5 r6 r7"},
        {"doc_id": 22, "text": "s1 s2 s3 s4 s5"},
    ]
    src = f"{tmpdir}/cont_in"
    os.makedirs(src)
    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b0))
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b1))
    os.utime(f"{src}/b0.json", (1000000000, 1000000000))
    os.utime(f"{src}/b1.json", (1000000100, 1000000100))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    index_dir = f"{tmpdir}/cont_index"
    q = streaming_dedup_contained(stream, index_dir, f"{tmpdir}/cont_ckpt")
    q.awaitTermination(180)

    kept = spark.read.parquet(f"{index_dir}/kept")
    batch0_kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{index_dir}/kept/batch_id=0").collect()
    }
    # stream == batch on the same rows
    batch_survivors = {
        r["doc_id"]
        for r in drop_contained_documents(
            spark.createDataFrame(
                [(d["doc_id"], d["text"]) for d in b0], "doc_id long, text string"
            )
        ).collect()
    }
    assert batch0_kept == batch_survivors == {13, 14, 16}

    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {13, 14, 16, 21, 22}  # 20 dropped vs index; 16 not retracted

    # the index holds exactly the survivors' postings
    from kafka_streams_task_spark.streaming.state import committed_versions

    versions = committed_versions(spark, index_dir, "shpost_v")
    assert len(versions) == 2
    idx = spark.read.parquet(*[f"{index_dir}/shpost_v{v}" for v in versions])
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == kept_ids

    # redelivery is a no-op
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    q2 = streaming_dedup_contained(stream2, index_dir, f"{tmpdir}/cont_ckpt")
    q2.awaitTermination(180)
    assert {r["doc_id"] for r in spark.read.parquet(f"{index_dir}/kept").collect()} == kept_ids


def test_streaming_dedup_embedding_cross_batch(spark, tmpdir):
    """r12: embedding near-dup dedup at ingest. Within-batch exact copy
    drops (smaller id survives); a later batch's near-copy (cos ~0.999)
    of an INDEXED vector drops on arrival; an orthogonal vector lands;
    the committed index stores each survivor's vector exactly once (on
    its tbl==0 row); replay is a no-op."""
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.dedup import streaming_dedup_embedding

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    near = [1.0, 0.01] + [0.0] * (dim - 2)       # cosine ~0.99995 with base
    ortho = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    other = [0.0] * (dim - 1) + [1.0]
    b0 = [
        {"vec_id": 1, "embedding": base},
        {"vec_id": 2, "embedding": base},        # exact copy -> drops vs 1
        {"vec_id": 3, "embedding": other},
    ]
    b1 = [
        {"vec_id": 10, "embedding": near},       # near-dup of indexed 1 -> drops
        {"vec_id": 11, "embedding": ortho},      # novel -> kept
    ]
    src = f"{tmpdir}/emb_in"
    os.makedirs(src)
    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b0))
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b1))
    os.utime(f"{src}/b0.json", (1000000000, 1000000000))
    os.utime(f"{src}/b1.json", (1000000100, 1000000100))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    index_dir = f"{tmpdir}/emb_index"
    q = streaming_dedup_embedding(
        stream, index_dir, f"{tmpdir}/emb_ckpt", threshold=0.99
    )
    q.awaitTermination(180)

    kept = spark.read.parquet(f"{index_dir}/kept")
    kept_ids = {r["vec_id"] for r in kept.collect()}
    assert kept_ids == {1, 3, 11}

    from kafka_streams_task_spark.streaming.state import committed_versions

    versions = committed_versions(spark, index_dir, "evec_v")
    assert len(versions) == 2
    idx = spark.read.parquet(*[f"{index_dir}/evec_v{v}" for v in versions])
    assert {r["vec_id"] for r in idx.select("vec_id").distinct().collect()} == kept_ids
    # each survivor's vector stored exactly once (tbl==0 row only)
    vec_rows = idx.filter(idx.embedding.isNotNull()).collect()
    assert len(vec_rows) == len(kept_ids)
    assert all(r["tbl"] == 0 for r in vec_rows)

    # replay no-op
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    q2 = streaming_dedup_embedding(
        stream2, index_dir, f"{tmpdir}/emb_ckpt", threshold=0.99
    )
    q2.awaitTermination(180)
    assert {r["vec_id"] for r in spark.read.parquet(f"{index_dir}/kept").collect()} == kept_ids


def test_versioned_fold_bounds_versions_and_heals_uncommitted(spark, tmpdir):
    """The shared foreachBatch state primitive, driven with a trivial
    summing step over one-row micro-batches: the fold is exact, only the
    newest two versions stay on disk (so ``step`` never sees more than
    two), and a half-written next version left by a crash is overwritten
    and committed when the stream resumes on the same checkpoint."""
    import os

    from pyspark.sql import functions as F

    from kafka_streams_task_spark.streaming.state import (
        committed_versions,
        versioned_fold,
    )

    src, state, ckpt = f"{tmpdir}/fold_in", f"{tmpdir}/fold_state", f"{tmpdir}/fold_ckpt"
    os.makedirs(src)

    def add_file(i: int) -> None:
        path = f"{src}/b{i:02d}.json"
        with open(path, "w") as f:
            f.write(json.dumps({"v": i + 1}))
        os.utime(path, (1000000000 + 100 * i,) * 2)

    seen = []

    def step(spark, batch_df, prev):
        seen.append(len(committed_versions(spark, state, "sum_v")))
        total = batch_df.agg(F.sum("v").alias("total"))
        if prev is None:
            return total
        return prev.unionByName(total).agg(F.sum("total").alias("total"))

    def run() -> None:
        stream = (
            spark.readStream.schema("v long").option("maxFilesPerTrigger", 1).json(src)
        )
        versioned_fold(stream, state, ckpt, "sum_v", step).awaitTermination(120)

    def total() -> int:
        v = committed_versions(spark, state, "sum_v")[-1]
        return spark.read.parquet(f"{state}/sum_v{v}").collect()[0]["total"]

    def version_dirs() -> list[str]:
        return sorted(d for d in os.listdir(state) if d.startswith("sum_v"))

    for i in range(12):
        add_file(i)
    run()
    assert total() == sum(range(1, 13))
    assert len(seen) == 12 and max(seen) <= 2, seen
    assert version_dirs() == ["sum_v10", "sum_v11"]

    os.makedirs(f"{state}/sum_v12")
    with open(f"{state}/sum_v12/part-half-written.parquet", "w") as f:
        f.write("not parquet")  # crash artifact: dir exists, no _SUCCESS
    add_file(12)
    run()
    assert total() == sum(range(1, 14))
    assert os.path.exists(f"{state}/sum_v12/_SUCCESS")
    assert version_dirs() == ["sum_v11", "sum_v12"]
