"""Independent reference for the enrichment output, from the generator's rows.

The geohash of every row comes from the scalar bisection ``geohash_encode``
(carried by the generator), and the averages are pandas group means, so no
Spark expression or engine operator takes part in the expected values.

Both sides are compared flat: one row per ``avgWeathers`` entry, with the
hotel columns, ``pos`` (index in the list), ``date``, ``tmp_f`` and ``tmp_c``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: Relative tolerance on averages: Spark and pandas sum in different orders.
REL_TOL = 1e-9

HOTEL_FIELDS = {"id": "Id", "hash": "Hash", "country": "Country", "city": "City",
                "address": "Address", "name": "Name"}
#: Columns of the engine's enriched output that identify a hotel.
HOTEL_COLS = list(HOTEL_FIELDS)
COLUMNS = [*HOTEL_COLS, "pos", "date", "tmp_f", "tmp_c"]


def expected_enrichment(weather: pd.DataFrame, hotels: pd.DataFrame) -> pd.DataFrame:
    """Per hotel whose cell has weather (the inner enrichment join), the
    per-date averages of its cell in date order."""
    daily = (
        weather.groupby(["geohash", "wthr_date"])[["avg_tmpr_f", "avg_tmpr_c"]]
        .mean()
        .reset_index()
        .rename(columns={"geohash": "hash", "wthr_date": "date",
                         "avg_tmpr_f": "tmp_f", "avg_tmpr_c": "tmp_c"})
    )
    h = hotels.rename(columns={v: k for k, v in HOTEL_FIELDS.items()})[HOTEL_COLS]
    out = h.merge(daily, on="hash").sort_values(["id", "date"], ignore_index=True)
    out["pos"] = out.groupby("id").cumcount()
    return out[COLUMNS]


def compare(expected: pd.DataFrame, actual: pd.DataFrame) -> list[str]:
    """Problems found comparing engine output with the reference; empty when
    they agree."""
    e_ids, a_ids = set(expected["id"]), set(actual["id"])
    problems = []
    if e_ids - a_ids:
        problems.append(f"{len(e_ids - a_ids)} hotels missing, e.g. {sorted(e_ids - a_ids)[:3]}")
    if a_ids - e_ids:
        problems.append(f"{len(a_ids - e_ids)} unexpected hotels, e.g. {sorted(a_ids - e_ids)[:3]}")
    if problems:
        return problems
    e = expected.sort_values(["id", "pos"], ignore_index=True)
    a = actual.sort_values(["id", "pos"], ignore_index=True)
    counts = e.groupby("id").size().compare(a.groupby("id").size())
    if not counts.empty:
        return [f"{len(counts)} hotels with wrong list lengths, e.g. "
                f"{counts.head(3).to_dict('index')}"]
    bad = pd.Series(False, index=e.index)
    for col in [*HOTEL_COLS, "pos", "date"]:
        bad |= e[col].to_numpy() != a[col].to_numpy()
    for col in ("tmp_f", "tmp_c"):
        bad |= ~np.isclose(a[col].to_numpy(float), e[col].to_numpy(float),
                           rtol=REL_TOL, atol=1e-12)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        problems.append(f"{int(bad.sum())} wrong entries, e.g. got {a.loc[i].to_dict()}, "
                        f"expected {e.loc[i].to_dict()}")
    return problems
