"""Batch file-format sources: JSON/CSV reads with explicit schemas must
round-trip the same rows as the parquet original (S-family completeness —
the reference is Kafka-only; the engine exposes Spark's format scans)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_task_spark.schemas import load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="src_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_json_csv_roundtrip(spark, sf_dir, tmpdir):
    orig = load_table(spark, sf_dir, "customer").orderBy("c_custkey")
    orig.write.mode("overwrite").json(f"{tmpdir}/j")
    orig.write.mode("overwrite").option("header", True).csv(f"{tmpdir}/c")

    schema = orig.schema
    back_j = spark.read.schema(schema).json(f"{tmpdir}/j")
    back_c = spark.read.schema(schema).option("header", True).csv(f"{tmpdir}/c")

    base = [tuple(r) for r in orig.collect()]
    assert sorted(tuple(r) for r in back_j.collect()) == sorted(base)
    assert sorted(tuple(r) for r in back_c.collect()) == sorted(base)


def test_json_permissive_corrupt_records(spark, tmpdir):
    """PERMISSIVE mode tolerates malformed lines (the engine's lenient-serde
    stance, serdes/PojoDeserializer.java:11 analogue) and can surface them
    via columnNameOfCorruptRecord."""
    import os

    from pyspark.sql import types as T

    os.makedirs(f"{tmpdir}/in")
    with open(f"{tmpdir}/in/data.json", "w") as f:
        f.write('{"a": 1, "b": "x"}\n')
        f.write("THIS IS NOT JSON\n")
        f.write('{"a": 2, "b": "y"}\n')
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(f"{tmpdir}/in")
    )
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r._corrupt is None]
    bad = [r for r in rows if r._corrupt is not None]
    assert {r.a for r in good} == {1, 2} and len(bad) == 1


def test_app_batch_mode(spark, tmpdir):
    """The app entry point (batch file mode) runs the canonical topology
    end-to-end, mirroring WeatherHotelsApp.main on files."""
    import json
    import os

    from kafka_streams_task_spark.app import run_batch
    from kafka_streams_task_spark.functions.geohash import geohash_encode

    gh = geohash_encode(51.51, -0.07, 4)
    os.makedirs(f"{tmpdir}/w")
    os.makedirs(f"{tmpdir}/h")
    with open(f"{tmpdir}/w/a.json", "w") as f:
        for rec in [
            {"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01", "avg_tmpr_f": 70.0, "avg_tmpr_c": 30.0},
            {"lat": 51.51, "lng": -0.07, "wthr_date": "2020-01-01", "avg_tmpr_f": 72.0, "avg_tmpr_c": 32.0},
        ]:
            f.write(json.dumps(rec) + "\n")
    with open(f"{tmpdir}/h/a.json", "w") as f:
        f.write(json.dumps({"Id": "42", "Name": "H", "Country": "GB", "City": "L",
                            "Address": "A", "Latitude": "51.51", "Longitude": "-0.07",
                            "Hash": gh}) + "\n")
    out = run_batch(spark, f"{tmpdir}/w", f"{tmpdir}/h", f"{tmpdir}/out")
    rows = spark.read.parquet(f"{tmpdir}/out").collect()
    assert len(rows) == 1
    assert [(w.tmp_f, w.date) for w in rows[0].avgWeathers] == [(71.0, "2020-01-01")]


@pytest.mark.parametrize(
    "argv",
    [
        ["--mode", "batch", "--weather-path", "/w"],
        ["--mode", "stream", "--join", "left"],
    ],
)
def test_app_usage_errors_exit_before_session(monkeypatch, argv):
    """Usage errors exit before a JVM starts: batch mode without both input
    paths, and stream mode with a left join, which the stream-static
    topology cannot express (it used to run the inner join silently)."""
    from kafka_streams_task_spark import app

    def no_session(**_kw):
        raise AssertionError("get_spark called on a usage error")

    monkeypatch.setattr(app, "get_spark", no_session)
    with pytest.raises(SystemExit):
        app.main(argv)


def test_orc_roundtrip(spark, sf_dir, tmpdir):
    """ORC is the second columnar format Spark ships natively; same
    round-trip contract as parquet/JSON/CSV."""
    orig = load_table(spark, sf_dir, "nation")
    orig.write.mode("overwrite").orc(f"{tmpdir}/o")
    back = spark.read.orc(f"{tmpdir}/o")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orig.collect()))


def test_partitioned_write_prunes(spark, sf_dir, tmpdir):
    """Hive-style partitionBy layout + partition pruning — the table-layout
    primitive that turns a 100 TB scan into a single-partition scan. The
    filtered read must show PartitionFilters (pruning at planning time) and
    touch only the matching subdirectory."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(f"{tmpdir}/p")

    back = spark.read.parquet(f"{tmpdir}/p").filter(F.col("o_year") == 1996)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_year" in plan
    expected = orders.filter(F.col("o_year") == 1996).count()
    assert back.count() == expected > 0


def test_parquet_schema_evolution_merge(spark, tmpdir):
    """Schema evolution across partitions (later crawl batches gain
    columns): mergeSchema reads the union schema, old rows null-fill the
    new column — the contract a long-lived 100 TB table layout depends on."""
    from pyspark.sql import functions as F

    spark.range(5).select(F.col("id").alias("doc_id")).write.parquet(f"{tmpdir}/t/p=1")
    spark.range(5, 10).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    ).write.parquet(f"{tmpdir}/t/p=2")

    merged = spark.read.option("mergeSchema", True).parquet(f"{tmpdir}/t")
    assert {f.name for f in merged.schema.fields} == {"doc_id", "lang", "p"}
    rows = {r["doc_id"]: r["lang"] for r in merged.collect()}
    assert rows[0] is None and rows[7] == "en"
    assert len(rows) == 10


def test_range_sorted_layout_tightens_rowgroup_stats(spark, sf_dir, tmpdir):
    """Sort-on-write locality: repartitionByRange + sortWithinPartitions on
    the filter column produces parquet row groups with narrow min/max spans
    (so engines skip non-matching groups via footer stats); a hash-shuffled
    layout leaves every group spanning ~the full domain. Verified from the
    actual parquet footers via DuckDB's parquet_metadata."""
    import duckdb

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    events.repartitionByRange(8, "user_id").sortWithinPartitions(
        "user_id"
    ).write.mode("overwrite").parquet(f"{tmpdir}/sorted")
    events.repartition(8).write.mode("overwrite").parquet(f"{tmpdir}/shuffled")

    con = duckdb.connect()

    def avg_span(path: str) -> float:
        return con.sql(
            f"""
            SELECT avg(CAST(stats_max AS DOUBLE) - CAST(stats_min AS DOUBLE))
            FROM parquet_metadata('{path}/*.parquet')
            WHERE path_in_schema = 'user_id'
            """
        ).fetchone()[0]

    lo, hi = events.agg(F.min("user_id"), F.max("user_id")).first()
    domain = float(hi - lo)
    assert avg_span(f"{tmpdir}/sorted") < domain / 4
    assert avg_span(f"{tmpdir}/shuffled") > domain / 2
