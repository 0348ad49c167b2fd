"""MyStream-variant tests: staged pipeline with materialized seams and the
foreachBatch two-level-agg alternative."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from kafka_streams_task_spark.functions.geohash import geohash_encode
from kafka_streams_task_spark.schemas import HOTELS_RAW, WEATHER_RAW

GH = geohash_encode(51.51, -0.07, 4)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="decoupled_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _weather_df(spark):
    rows = [
        (51.51, -0.07, "2020-01-01", 70.0, 30.0),
        (51.51, -0.07, "2020-01-01", 72.0, 32.0),
        (51.51, -0.07, "2020-01-02", 72.0, 32.0),
        (10.0, 10.0, "2020-01-01", 99.0, 37.0),
    ]
    return spark.createDataFrame(
        [dict(zip(("lat", "lng", "wthr_date", "avg_tmpr_f", "avg_tmpr_c"), r)) for r in rows],
        WEATHER_RAW,
    )


def _hotels_df(spark):
    return spark.createDataFrame(
        [
            ("42", "TestHotel", "GB", "London", "A", "51.51", "-0.07", GH),
            ("42", "TestHotel Renamed", "GB", "London", "A2", "51.51", "-0.07", GH),
            ("7", "NoWeather", "US", "Nowhere", "B", "1", "1", "zzzz"),
        ],
        HOTELS_RAW,
    )


def test_decoupled_pipeline_matches_canonical(spark, tmpdir):
    """Three stages over parquet seams == the single-DAG topology; the
    address table takes the LATEST record per hash (KTable semantics,
    MyStream.java:166) and the left join keeps weatherless hotels."""
    from kafka_streams_task_spark.streaming.decoupled import run_decoupled_pipeline

    out = run_decoupled_pipeline(spark, _weather_df(spark), _hotels_df(spark), tmpdir, how="left")
    rows = {r.hash: r for r in out.collect()}
    assert rows[GH].name == "TestHotel Renamed"  # last write wins
    assert [(w.tmp_f, w.tmp_c, w.date) for w in rows[GH].avgWeathers] == [
        (71.0, 31.0, "2020-01-01"),
        (72.0, 32.0, "2020-01-02"),
    ]
    assert rows["zzzz"].avgWeathers == []  # left join keeps unmatched

    # seams are inspectable (the reference's intermediate-topic property)
    daily = spark.read.parquet(f"{tmpdir}/weather_hash").collect()
    assert {(r.geohash, r.wthr_date) for r in daily} >= {(GH, "2020-01-01"), (GH, "2020-01-02")}


def test_continuous_left_outer_topology(spark, tmpdir):
    """Continuous stream-stream left-outer form of MyStream's KTable-KTable
    leftJoin (MyStream.java:168-173): windowed weather agg + windowed
    latest-address agg joined on window equality; a weatherless hotel emits
    exactly once with an EMPTY list after the watermark closes its window
    (Address.java:37-41 null-guard)."""
    import os
    import time
    import uuid

    from pyspark.sql import types as T

    from kafka_streams_task_spark.sources.files import read_json_stream
    from kafka_streams_task_spark.streaming.decoupled import enrich_continuous_left

    w_schema = T.StructType(
        [T.StructField("ts", T.TimestampType())] + list(WEATHER_RAW.fields)
    )
    h_schema = T.StructType(
        [T.StructField("ts", T.TimestampType())] + list(HOTELS_RAW.fields)
    )
    w_src, h_src = f"{tmpdir}/w_in", f"{tmpdir}/h_in"
    os.makedirs(w_src)
    os.makedirs(h_src)

    w_batches = [
        [
            {"ts": "2024-01-01 10:00:00", "lat": 51.51, "lng": -0.07,
             "wthr_date": "2020-01-01", "avg_tmpr_f": 70.0, "avg_tmpr_c": 30.0},
            {"ts": "2024-01-01 10:20:00", "lat": 51.51, "lng": -0.07,
             "wthr_date": "2020-01-01", "avg_tmpr_f": 72.0, "avg_tmpr_c": 32.0},
        ],
        # far-future row advances the weather watermark past the 10:00 window
        [{"ts": "2024-01-01 18:00:00", "lat": 10.0, "lng": 10.0,
          "wthr_date": "2020-01-05", "avg_tmpr_f": 99.0, "avg_tmpr_c": 37.0}],
    ]
    h_batches = [
        [
            {"ts": "2024-01-01 10:05:00", "Id": "42", "Name": "TestHotel",
             "Country": "GB", "City": "London", "Address": "A",
             "Latitude": "51.51", "Longitude": "-0.07", "Hash": GH},
            {"ts": "2024-01-01 10:06:00", "Id": "42", "Name": "TestHotel Renamed",
             "Country": "GB", "City": "London", "Address": "A2",
             "Latitude": "51.51", "Longitude": "-0.07", "Hash": GH},
            {"ts": "2024-01-01 10:05:00", "Id": "7", "Name": "NoWeather",
             "Country": "US", "City": "Nowhere", "Address": "B",
             "Latitude": "1", "Longitude": "1", "Hash": "zzzz"},
        ],
        [{"ts": "2024-01-01 18:00:00", "Id": "9", "Name": "Future",
          "Country": "US", "City": "X", "Address": "C",
          "Latitude": "2", "Longitude": "2", "Hash": "yyyy"}],
    ]
    now = time.time()
    for src, batches in ((w_src, w_batches), (h_src, h_batches)):
        for i, b in enumerate(batches):
            with open(f"{src}/b{i}.json", "w") as f:
                for rec in b:
                    f.write(json.dumps(rec) + "\n")
            os.utime(f"{src}/b{i}.json", (now + 30 * i, now + 30 * i))

    out = enrich_continuous_left(
        read_json_stream(spark, w_src, w_schema, max_files_per_trigger=1),
        read_json_stream(spark, h_src, h_schema, max_files_per_trigger=1),
    )
    name = f"cont_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_cont")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r.hash: r for r in spark.sql(f"SELECT * FROM {name}").collect()}

    # matched hotel: latest record per key won, weather averaged per date
    assert rows[GH].name == "TestHotel Renamed"
    assert [(w.tmp_f, w.tmp_c, w.date) for w in rows[GH].avgWeathers] == [
        (71.0, 31.0, "2020-01-01")
    ]
    # weatherless hotel emitted once, with the empty-list null-guard
    assert rows["zzzz"].name == "NoWeather"
    assert list(rows["zzzz"].avgWeathers) == []
    # unclosed far-future window did not emit
    assert "yyyy" not in rows


def test_foreach_batch_rollup(spark, tmpdir):
    """foreachBatch state-merge variant accumulates across micro-batches."""
    import os
    import time

    from kafka_streams_task_spark.sources.files import read_json_stream
    from kafka_streams_task_spark.streaming.decoupled import rollup_via_foreach_batch

    src = f"{tmpdir}/in"
    os.makedirs(src)
    batches = [
        [{"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01", "avg_tmpr_f": 70.0, "avg_tmpr_c": 30.0}],
        [{"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01", "avg_tmpr_f": 72.0, "avg_tmpr_c": 32.0},
         {"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-02", "avg_tmpr_f": 72.0, "avg_tmpr_c": 32.0}],
    ]
    now = time.time()
    for i, b in enumerate(batches):
        with open(f"{src}/b{i}.json", "w") as f:
            for rec in b:
                f.write(json.dumps(rec) + "\n")
        os.utime(f"{src}/b{i}.json", (now + 30 * i, now + 30 * i))

    stream = read_json_stream(spark, src, WEATHER_RAW, max_files_per_trigger=1)
    q = rollup_via_foreach_batch(stream, f"{tmpdir}/state", f"{tmpdir}/ckpt")
    q.awaitTermination(180)

    rollup = {r.geohash: r.weatherList for r in spark.read.parquet(f"{tmpdir}/state/rollup").collect()}
    got = [(w.tmp_f, w.tmp_c, w.date) for w in rollup[GH]]
    assert got == [(71.0, 31.0, "2020-01-01"), (72.0, 32.0, "2020-01-02")]

    # the state dir is bound to its checkpoint: under a fresh checkpoint
    # batch ids restart at 0 and real batches would be mistaken for
    # redeliveries, so reuse is refused up front
    stream2 = read_json_stream(spark, src, WEATHER_RAW, max_files_per_trigger=1)
    with pytest.raises(ValueError, match="bound to checkpoint"):
        rollup_via_foreach_batch(stream2, f"{tmpdir}/state", f"{tmpdir}/ckpt2")

    # genuine redelivery on the SAME checkpoint: dropping batch 1's commit
    # marker makes the restart replay it. Its deltas are already in the
    # state, so the merge is skipped and the rollup (deleted here to
    # simulate a crash before the publish) is republished unchanged.
    os.remove(f"{tmpdir}/ckpt/commits/1")
    crc = f"{tmpdir}/ckpt/commits/.1.crc"
    if os.path.exists(crc):
        os.remove(crc)
    shutil.rmtree(f"{tmpdir}/state/rollup")
    stream3 = read_json_stream(spark, src, WEATHER_RAW, max_files_per_trigger=1)
    q3 = rollup_via_foreach_batch(stream3, f"{tmpdir}/state", f"{tmpdir}/ckpt")
    q3.awaitTermination(180)
    rollup3 = {r.geohash: r.weatherList for r in spark.read.parquet(f"{tmpdir}/state/rollup").collect()}
    got3 = [(w.tmp_f, w.tmp_c, w.date) for w in rollup3[GH]]
    assert got3 == got  # unchanged: redelivered deltas not re-merged
