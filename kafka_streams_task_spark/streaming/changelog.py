"""Changelog-table (KTable) views on streams.

A6: KStream.toTable — latest value per key, last write wins
(MyStream.java:166,168). Spark's ``dropDuplicates`` keeps the *first* seen
record, so the engine uses ``applyInPandasWithState``: per-key state holds
the current (order, payload); newer records replace it; each micro-batch
emits the keys that changed — a true changelog stream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def latest_per_key_stream(
    df: DataFrame, key: str, order_col: str
) -> DataFrame:
    """Streaming latest-per-key. ``order_col`` must be monotone per record
    (offset, event-time); ties resolve to the later-processed record.

    Output schema == input schema; emits one row per key per micro-batch in
    which that key's latest value changed.
    """
    payload_cols = [c for c in df.columns if c != key]
    out_schema = T.StructType([df.schema[key]] + [df.schema[c] for c in payload_cols])

    # state: the order value + payload, all nullable
    state_schema = T.StructType([df.schema[order_col]] + [df.schema[c] for c in payload_cols if c != order_col])
    state_cols = [order_col] + [c for c in payload_cols if c != order_col]

    # timestamps can't round-trip the state tuple as-is; store as epoch micros
    ts_cols = {
        c for c in state_cols if isinstance(df.schema[c].dataType, T.TimestampType)
    }
    state_schema = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name in ts_cols else f.dataType)
            for f in state_schema.fields
        ]
    )

    def fn(
        key_tuple: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        best = None  # (order_value, {col: value})
        if state.exists:
            vals = dict(zip(state_cols, state.get))
            best = (vals[order_col], vals)
        changed = False
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                vals = {}
                for c in state_cols:
                    v = row[c]
                    if c in ts_cols:
                        v = int(pd.Timestamp(v).value // 1000)  # epoch micros
                    vals[c] = v
                if best is None or vals[order_col] >= best[0]:
                    best = (vals[order_col], vals)
                    changed = True
        if best is not None and changed:
            state.update(tuple(best[1][c] for c in state_cols))
            out = {key: [key_tuple[0]]}
            for c in payload_cols:
                v = best[1][c]
                if c in ts_cols:
                    v = pd.Timestamp(v * 1000)
                out[c] = [v]
            yield pd.DataFrame(out)

    return (
        df.groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
