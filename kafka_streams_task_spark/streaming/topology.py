"""The canonical weather-hotels topology as Structured Streaming.

Reference (WeatherHotelsApp.java:46-66): weather stream -> rekey by
geohash -> per-(geohash,date) aggregate -> per-geohash rollup KTable ->
join onto hotels -> output. The chained stateful aggregation (A2/A3 -> A5)
is the one piece Spark's built-in streaming aggregation can't express in
update mode without watermarks (SURVEY §7.4.1); the engine's answer is a
single ``applyInPandasWithState`` keyed by geohash whose state is the
per-date (sum_f, sum_c, count) map — both aggregation levels maintained in
one stateful operator, exactly reproducing the reference's continuously-
updated KTable at micro-batch granularity.

State size note for scale: state is bounded by (distinct geohash cells x
distinct dates) — the same bound as the reference's RocksDB stores
(WeatherHotelsApp.java:99,109). An optional TTL knob (``state_ttl_ms``) expires
idle cells; the reference's semantics (keep forever) is the default.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.weather import hotels_rekey, weather_rekey
from ..schemas import WEATHER

ROLLUP_OUTPUT = T.StructType(
    [
        T.StructField("geohash", T.StringType()),
        T.StructField("weatherList", T.ArrayType(WEATHER)),
    ]
)

ROLLUP_STATE = T.StructType(
    [
        T.StructField("dates", T.ArrayType(T.StringType())),
        T.StructField("sum_f", T.ArrayType(T.DoubleType())),
        T.StructField("sum_c", T.ArrayType(T.DoubleType())),
        T.StructField("cnt", T.ArrayType(T.LongType())),
    ]
)


def _make_rollup_fn(ttl_ms: int | None):
    def fn(key, pdfs, state):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            # an EMPTY frame, not a bare return: the applyInPandasWithState
            # worker protocol expects at least one Arrow batch per invoked
            # group — a generator that yields nothing crashes the Python
            # worker on the timeout-eviction batch (observed on 4.1.2)
            yield pd.DataFrame({"geohash": [], "weatherList": []})
            return
        for out in _rollup_fn(key, pdfs, state):
            yield out
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return fn


def _rollup_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold new (wthr_date, tmp_f, tmp_c) rows into the per-date running
    (sum, count) state; emit the current per-geohash weatherList."""
    if state.exists:
        dates, sum_f, sum_c, cnt = state.get
        acc = {d: [f, c, n] for d, f, c, n in zip(dates, sum_f, sum_c, cnt)}
    else:
        acc = {}
    for pdf in pdfs:
        for d, f, c in zip(pdf["wthr_date"], pdf["tmp_f"], pdf["tmp_c"]):
            cur = acc.setdefault(d, [0.0, 0.0, 0])
            cur[0] += float(f)
            cur[1] += float(c)
            cur[2] += 1
    items = sorted(acc.items())
    state.update(
        (
            [d for d, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
            [v[2] for _, v in items],
        )
    )
    weather_list = [
        {"tmp_f": v[0] / v[2], "tmp_c": v[1] / v[2], "date": d} for d, v in items
    ]
    yield pd.DataFrame({"geohash": [key[0]], "weatherList": [weather_list]})


def weather_rollup_stream(
    weather_raw_stream: DataFrame,
    precision: int = 4,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """A1-A5 on a stream: rekey then the single stateful rollup operator.

    Input: streaming DataFrame with the raw weather schema (lat, lng,
    wthr_date, avg_tmpr_f, avg_tmpr_c). Output (update mode): one row per
    updated geohash per micro-batch carrying the complete current
    weatherList — the changelog of the reference's per-geohash KTable.

    ``state_ttl_ms``: optional processing-time TTL after which an idle
    cell's state is dropped (SURVEY §1.3.4 — the reference keeps state
    forever, which is the default here too; the knob bounds state at scale).
    """
    keyed = weather_rekey(weather_raw_stream, precision)
    return keyed.groupBy("geohash").applyInPandasWithState(
        _make_rollup_fn(state_ttl_ms) if state_ttl_ms is not None else _rollup_fn,
        outputStructType=ROLLUP_OUTPUT,
        stateStructType=ROLLUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def weather_hotels_stream(
    weather_raw_stream: DataFrame,
    hotels_static: DataFrame,
    precision: int = 4,
) -> DataFrame:
    """J1 on a stream: the rollup changelog stream joined onto the hotel
    dimension (stream-static inner equi-join; the static side is broadcast).

    ``hotels_static`` carries the raw address schema (Id, Name, ..., Hash).
    Output: enriched hotel rows, re-emitted whenever their cell's weather
    updates — the reference's output topic semantics
    (WeatherHotelsApp.java:64) at micro-batch cadence.

    J2's left variant (emit weatherless hotels too, MyStream.java:168-173)
    needs the static side preserved — not expressible as a continuous
    stream-static join; use the batch ``enrich_hotels(..., how="left")``,
    a foreachBatch wrapper, or the continuous stream–stream form
    (``streaming/decoupled.py: enrich_continuous_left``) for that topology.
    """
    rollup = weather_rollup_stream(weather_raw_stream, precision)
    hotels = hotels_rekey(hotels_static)
    joined = rollup.withColumnRenamed("geohash", "hash").join(
        F.broadcast(hotels), on="hash", how="inner"
    )
    return joined.select(
        "hash", "country", "city", "address", "name", "id",
        F.col("weatherList").alias("avgWeathers"),
    )
