"""Cheap self-tests of the benchmark (no Spark session):
python3 -m pytest perfbench -q -p no:cacheprovider"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.reference import compare, expected_enrichment  # noqa: E402
from perfbench.stats import match_files_to_batches, percentile  # noqa: E402


def _files(m):
    names = m["files"] + ["hotels.json"]
    dirs = [m["weather_dir"]] * len(m["files"]) + [m["root"]]
    return [os.path.join(d, n) for d, n in zip(dirs, names)]


def test_generation_is_deterministic_per_seed(tmp_path):
    a = gen.prepare(str(tmp_path / "a"), "stream_trickle", 7, 5)
    b = gen.prepare(str(tmp_path / "b"), "stream_trickle", 7, 5)
    c = gen.prepare(str(tmp_path / "c"), "stream_trickle", 8, 5)
    assert a["file_rows"] == b["file_rows"] == c["file_rows"]
    for fa, fb, fc in zip(_files(a), _files(b), _files(c)):
        assert filecmp.cmp(fa, fb, shallow=False)
        assert not filecmp.cmp(fa, fc, shallow=False)


def test_hotels_include_unmatched_cells(tmp_path):
    import pandas as pd

    m = gen.prepare(str(tmp_path), "batch_enrich", 3, 5)
    rows = pd.read_parquet(m["rows_parquet"])
    hotels = pd.read_parquet(m["hotels_parquet"])
    matched = hotels["Hash"].isin(set(rows["geohash"]))
    assert 0 < matched.sum() < len(hotels)


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(100)), 90) == 89
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(range(11)), 50) is None
    assert percentile(list(range(20)), 50) == 9


def test_files_match_batches_by_cumulative_rows():
    # backfill, then three small files; the engine took the last two together
    # and logged an empty progress entry in between
    assert match_files_to_batches([6000, 200, 200, 200], [6000, 200, 0, 400]) == [0, 1, 3, 3]
    with pytest.raises(ValueError):
        match_files_to_batches([6000, 200], [6000])  # a file never consumed
    with pytest.raises(ValueError):
        match_files_to_batches([6000, 200], [6100, 100])  # a batch splits a file


def _expected():
    import pandas as pd

    weather = pd.DataFrame({
        "geohash": ["u0ab", "u0ab", "u0ab", "u0cd"],
        "wthr_date": ["2017-08-02", "2017-08-01", "2017-08-02", "2017-08-01"],
        "avg_tmpr_f": [50.0, 60.0, 70.0, 40.0],
        "avg_tmpr_c": [10.0, 15.6, 21.1, 4.4],
    })
    hotels = pd.DataFrame({
        "Id": ["h1", "h2", "h3"], "Hash": ["u0ab", "u0cd", "zzzz"],
        "Country": ["FR"] * 3, "City": ["c"] * 3, "Address": ["a"] * 3, "Name": ["n"] * 3,
    })
    return expected_enrichment(weather, hotels)


def test_reference_averages_and_inner_join():
    exp = _expected()
    assert sorted(set(exp["id"])) == ["h1", "h2"]  # h3's cell has no weather
    h1 = exp[exp["id"] == "h1"]
    assert list(zip(h1["pos"], h1["date"], h1["tmp_f"], h1["tmp_c"])) == [
        (0, "2017-08-01", 60.0, 15.6), (1, "2017-08-02", 60.0, 15.55)]
    shuffled = exp.sample(frac=1, random_state=0)
    assert compare(exp, shuffled) == []


def test_planted_wrong_output_is_reported():
    exp = _expected()
    wrong = exp.copy()
    wrong.loc[1, "tmp_f"] += 1e-6
    assert compare(exp, wrong)
    unsorted = exp.copy()
    unsorted.loc[[0, 1], "pos"] = [1, 0]  # list not in date order
    assert compare(exp, unsorted)
    assert compare(exp, exp[exp["id"] != "h2"])  # hotel missing
    assert compare(exp, exp[exp.index != 1])  # list entry missing
    extra = exp.copy()
    extra.loc[len(extra)] = ["h3", "zzzz", "FR", "c", "a", "n", 0, "2017-08-01", 1.0, 1.0]
    assert compare(exp, extra)
