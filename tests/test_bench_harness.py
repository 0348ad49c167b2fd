"""The bench harness that bench.py, tools/ab_trials.py, tools/profile_query.py
and tools/scale_decade.py share: the entry tables' freeze coverage, the entry
lookup order and the timed run. Cheap by construction (one tiny job)."""

from __future__ import annotations

import importlib.util
import os
from types import SimpleNamespace


def _load_bench():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


def test_every_entry_is_listed_once_with_a_freeze():
    """A name listed twice is timed twice; a name without a freeze gets an
    infinite retry gate, which silently disables its retries."""
    names = bench.HEADLINE + bench.OPS_SECTION
    assert len(names) == len(set(names))
    assert [n for n in bench.HEADLINE if n not in bench.BASELINE_SEC] == []
    assert [n for n in bench.OPS_SECTION if n not in bench.OPS_BASELINE_SEC] == []


def test_lookup_prefers_ops_then_raw_then_catalog():
    def op(s, d):
        return "op"

    def raw(s, d):
        return "raw"

    def cat(s, d):
        return "catalog"

    ops = {"a": op}
    raws = {"a": raw, "b": raw}
    catalog = {"a": SimpleNamespace(fn=cat), "b": SimpleNamespace(fn=cat),
               "c": SimpleNamespace(fn=cat)}
    assert bench.resolve_entry("a", ops, raws, catalog) is op
    assert bench.resolve_entry("b", ops, raws, catalog) is raw
    assert bench.resolve_entry("c", ops, raws, catalog) is cat
    assert bench.resolve_entry("d", ops, raws, catalog) is None


def test_timed_run_clears_the_cache_and_counts_rows(spark):
    spark.range(3).createOrReplaceTempView("bench_harness_cached")
    spark.catalog.cacheTable("bench_harness_cached")
    seen = []

    def fn(s, d):
        seen.append(d)
        return s.range(10)

    sec, rows = bench.timed_run(spark, fn, "some_sf_dir")
    assert rows == 10 and seen == ["some_sf_dir"]
    assert isinstance(sec, float) and sec >= 0.0
    assert not spark.catalog.isCached("bench_harness_cached")
    spark.catalog.dropTempView("bench_harness_cached")
