"""Schema registry: one StructType constant per entity.

The reference defines schemas implicitly as Java POJOs + Jackson JSON
(reference: src/main/java/org/davkaev/domain/Weather.java:8-10,
WeatherAgg.java:10-11, Address.java:10-16; ad-hoc JSON parses at
WeatherHotelsApp.java:72-81,116-126). Here they are explicit StructTypes used
with ``from_json`` / ``to_json`` — the Spark-native equivalent of the
reference's PojoSerializer/PojoDeserializer pair
(serdes/PojoDeserializer.java:28-40, PojoSerializer.java:24-33).

Also registers the driver-generated test tables (TESTDATA.md) and a loader
that exposes them as temp views for the SQL surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference domain (weather-hotels pipeline)
# ---------------------------------------------------------------------------

#: Raw weather observation, as JSON on the input topic
#: (reference: WeatherHotelsApp.java:72-81; FIXTURES.md §1).
WEATHER_RAW = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lng", T.DoubleType()),
        T.StructField("wthr_date", T.StringType()),
        T.StructField("avg_tmpr_f", T.DoubleType()),
        T.StructField("avg_tmpr_c", T.DoubleType()),
    ]
)

#: Weather value after rekey/projection (reference: domain/Weather.java:8-10).
WEATHER = T.StructType(
    [
        T.StructField("tmp_f", T.DoubleType()),
        T.StructField("tmp_c", T.DoubleType()),
        T.StructField("date", T.StringType()),
    ]
)

#: Raw hotel/address record, as JSON on the input topic
#: (reference: WeatherHotelsApp.java:116-126; FIXTURES.md §2).
HOTELS_RAW = T.StructType(
    [
        T.StructField("Id", T.StringType()),
        T.StructField("Name", T.StringType()),
        T.StructField("Country", T.StringType()),
        T.StructField("City", T.StringType()),
        T.StructField("Address", T.StringType()),
        T.StructField("Latitude", T.StringType()),
        T.StructField("Longitude", T.StringType()),
        T.StructField("Hash", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver test tables (TESTDATA.md) — names match the parquet files.
# ---------------------------------------------------------------------------

TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table. Column pruning + predicate pushdown
    happen automatically because this stays a plain parquet scan.

    ``events.ts`` is TIMESTAMP(NANOS) parquet. Depending on the Spark
    version it arrives either as TIMESTAMP_NTZ (4.1.2+ reads nanos
    natively, truncated to micros) or — under the legacy conf we set — as
    nanos-since-epoch LONG. Normalize both to a session-TZ (UTC)
    microsecond TIMESTAMP so every downstream consumer and the DuckDB
    oracle see the same instants regardless of runtime.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the TIMESTAMP_NTZ -> TIMESTAMP cast below is wall-clock in the
        # SESSION time zone; it is only instant-preserving under UTC, so the
        # session must be pinned to UTC — and must STAY UTC through plan
        # EXECUTION (the cast evaluates lazily, so restoring the previous
        # zone after this function would silently shift instants). A
        # non-UTC session is therefore overridden with a loud warning
        # rather than silently, and get_spark() sessions are UTC already.
        prior_tz = spark.conf.get("spark.sql.session.timeZone", None)
        if prior_tz not in (None, "UTC"):
            import warnings

            warnings.warn(
                f"load_table('events') pins spark.sql.session.timeZone to UTC "
                f"for instant-preserving nanos normalization (was {prior_tz!r}); "
                f"the setting persists for the session because the returned "
                f"plan executes lazily",
                RuntimeWarning,
                stacklevel=2,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes)["ts"] == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every driver table as a temp view; returns the DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in TEST_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def fan_out_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Guard against serialized scans (opt-r16, guide §2.5 "input skew"):
    when the source provides fewer splits than the session's parallelism
    — a single-file/single-row-group parquet fixture, a gzip member, one
    hot partition — every downstream map-stage kernel (shingling, hash
    signatures, Arrow/numpy batches, tokenizers) runs in ONE task no
    matter how many cores the session has. Round-robin repartition to
    the default parallelism right after the (projected!) read: the
    exchange moves only the few columns the caller kept, once, and
    unlocks N-way CPU parallelism for everything after it.

    No-op when the scan already provides at least half the session's
    parallelism (cluster scans of real multi-file tables land here, so
    at 100 TB this never inserts an exchange). ``target`` derives from
    ``defaultParallelism`` — never a constant — so the driver's
    lower-core scaling runs keep their proportional shape. Callers must
    project BEFORE fanning out (guide §2.3: project before the
    exchange); the helper is deliberately not part of ``load_table`` so
    cheap scan->aggregate queries never pay an exchange they don't need.

    The split count is ESTIMATED from file metadata (file list + the
    session's ``maxPartitionBytes`` split math, guide §6) rather than
    probed with ``df.rdd.getNumPartitions()``: the RDD probe forces a
    full plan conversion and — when the lineage contains a join —
    eagerly builds its broadcast side as a separate job, which the real
    query then rebuilds (measured 0.2-1.6 s of pure overhead per call).
    A file-less lineage (createDataFrame, foreachBatch micro-batches,
    memory streams) fans out unconditionally: there is no metadata to
    consult and the exchange is cheap at the volumes those carry.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        # already fanned out upstream (a caller that pre-repartitioned its
        # raw columns, or nested operator composition): a second exchange
        # would be pure overhead. inputFiles() still reports the leaf
        # scan's single file, so probe the analyzed plan for an existing
        # repartition instead.
        if "Repartition" in df._jdf.queryExecution().analyzed().toString():
            return df
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        if 2 * len(files) >= target:
            return df
        # few files: refine with sizes where the filesystem is local —
        # a handful of LARGE files still yields many byte-range splits
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        splits = 0
        for f in files:
            if f.startswith("file:"):
                try:
                    sz = os.path.getsize(f[len("file:") :].replace("//", "/", 1))
                except OSError:
                    sz = max_pb
            else:
                sz = max_pb
            splits += max(1, -(-sz // max_pb))
            if 2 * splits >= target:
                return df
    return df.repartition(target)


def local_table(spark, rows, schema):
    """Driver-side rows as a JVM ``LocalTableScan`` relation (opt-r16,
    guide §4: eliminate the Python boundary).

    ``spark.createDataFrame(list_of_tuples)`` builds a *pickled Python
    RDD* relation: every scan of it — including the build side of every
    broadcast join it feeds — round-trips through Python workers at
    runtime (measured 0.4-0.5s per use at 32 partitions vs 0.09s for the
    JVM local relation, plus a worker process per partition). Routing
    through a pandas DataFrame makes createDataFrame use the Arrow
    driver-side conversion instead, yielding a LocalTableScan that scans
    and broadcasts entirely in the JVM.

    Rows are staged with ``dtype=object`` so ``None`` stays ``None``
    (a numeric pandas column would coerce it to NaN, which is NOT null
    in Spark). Falls back to the classic path for types the Arrow
    conversion rejects (deeply nested structs); the fallback is
    semantics-identical, just slower."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType, _parse_datatype_string

    rows = list(rows)
    if not rows:
        # Spark's Arrow conversion silently degrades an EMPTY pandas
        # frame to the pickled-RDD relation (no exception, so the
        # fallback below can't catch it): build the 0-row relation
        # JVM-side from a 0-row range instead.
        st = (
            schema
            if isinstance(schema, StructType)
            else _parse_datatype_string(str(schema))
        )
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )
    if isinstance(schema, StructType):
        names = schema.fieldNames()
    else:
        names = [f.strip().split()[0] for f in str(schema).split(",")]
    try:
        pdf = pd.DataFrame(
            {
                n: pd.Series([r[i] for r in rows], dtype=object)
                for i, n in enumerate(names)
            },
            columns=names,
        )
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def no_pushdown(col):
    """Value-identity wrapper that stops the optimizer from sinking
    predicates through the projection that computes ``col`` (opt-r16,
    guide §4.4 applied to native expressions).

    An inner equi-join infers ``isnotnull(key)`` on both keys and pushes
    it toward the scans, SUBSTITUTING the key's defining expression on
    the way down. When the key is an expensive chain (geohash bit math,
    a parse+hash pipeline), every row then pays the chain twice — once
    in the sunk filter, once in the projection — and on a single-split
    source the sunk copy additionally runs below the fan-out exchange,
    i.e. serially in the scan task (measured: the weather topology ran
    0.67s of its 1.38s CPU below the exchange this way).

    ``element_at(shuffle(array(col)), 1)`` returns exactly ``col`` (a
    permutation of one element), but ``shuffle`` is non-deterministic,
    and Catalyst does not push predicates through a projection with a
    non-deterministic field — the same contract the guide uses with
    ``udf.asNondeterministic()``. Per-row cost is one 1-element array
    allocation. Apply to expensive join/group keys only, not blanket:
    it also blocks legitimate pushdown of OTHER predicates through the
    same projection."""
    from pyspark.sql import functions as F

    return F.element_at(F.shuffle(F.array(col)), 1)


def _parse_bytes(v: str) -> int:
    """Spark size-string to bytes (``"16m"``, ``"128MB"``, ``"64k"``,
    bare digits are bytes)."""
    s = v.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix):
            mult = m
            s = s[: -len(suffix)]
            break
    return max(1, int(float(s)) * mult)
