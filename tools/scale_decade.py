#!/usr/bin/env python
"""Third scaling decade for the pairing families (VERDICT r13 item 4).

/root/testdata stops at sf0.1 (5k documents), so the 0.1 -> 1.0 decade
runs on a DERIVED fixture: a corpus generated from the REAL sf0.1
documents' empirical distributions (unigram word frequencies, word-count
distribution, exact-duplicate rate), seeded, written under
/root/repo/.scratch. Methodology control: the SAME generator also emits
a 5k-doc twin ("syn0.1") — if the twin's candidate-pair counts and
runtimes track the real sf0.1, the 50k reading is a faithful decade
extension rather than a generator artifact.

Measures minhash_lsh_candidates and ngram_jaccard_pairs(t=0.5) exactly
as the r13 study did: min-of-2 steady-state wall seconds, one session,
cache cleared between trials. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def generate(out_path: str, n_docs: int, seed: int = 42) -> None:
    """Distribution-matched corpus: words drawn from the real sf0.1
    empirical unigram distribution, lengths from its empirical length
    distribution, and the real exact-duplicate rate planted by copying
    already-emitted rows."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    real = "/root/testdata/sf0.1/documents.parquet"
    words, wcounts = zip(
        *duckdb.sql(
            f"SELECT w, count(*) FROM (SELECT unnest(string_split(text,' ')) w "
            f"FROM '{real}') GROUP BY w ORDER BY w"
        ).fetchall()
    )
    lens, lcounts = zip(
        *duckdb.sql(
            f"SELECT len(string_split(text,' ')) l, count(*) FROM '{real}' "
            f"GROUP BY l ORDER BY l"
        ).fetchall()
    )
    langs, langcounts = zip(
        *duckdb.sql(f"SELECT lang, count(*) FROM '{real}' GROUP BY 1 ORDER BY 1").fetchall()
    )
    srcs, srccounts = zip(
        *duckdb.sql(f"SELECT source, count(*) FROM '{real}' GROUP BY 1 ORDER BY 1").fetchall()
    )
    (n_real,) = duckdb.sql(f"SELECT count(*) FROM '{real}'").fetchone()
    (n_dup_rows,) = duckdb.sql(
        f"SELECT count(*) - count(DISTINCT text) FROM '{real}'"
    ).fetchone()
    dup_rate = n_dup_rows / n_real

    rng = np.random.default_rng(seed)
    wp = np.array(wcounts, dtype="float64")
    wp /= wp.sum()
    lp = np.array(lcounts, dtype="float64")
    lp /= lp.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < dup_rate:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        k = int(rng.choice(np.array(lens), p=lp))
        texts.append(" ".join(rng.choice(np.array(words), size=k, p=wp)))
    lang_arr = rng.choice(
        np.array(langs), size=n_docs, p=np.array(langcounts, dtype="float64") / n_real
    )
    src_arr = rng.choice(
        np.array(srcs), size=n_docs, p=np.array(srccounts, dtype="float64") / n_real
    )
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(lang_arr),
            "source": pa.array(src_arr),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, out_path)


def gen_points(out_path: str, n_pts: int, seed: int = 42) -> None:
    """Derived SPATIAL fixture (r16, VERDICT r15 item 8): clustered
    points in the realistic geo shape — "cities" of ~250 points each
    (centers uniform in lat [-55, 55] x lon [-180, 180], members
    Gaussian around them, sigma 0.05 deg ~ 5 km) plus 10% uniform
    background noise. City COUNT grows with n at constant per-city
    occupancy — the corpus-growth model where new data comes from new
    places, so true pair counts and per-cell occupancy stay
    density-stationary while n scales (the same corpus-proportional
    regime the pairing families' decade measures). Seeded,
    deterministic."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_city = max(1, n_pts // 250)
    n_noise = n_pts // 10
    n_members = n_pts - n_noise
    centers_lat = rng.uniform(-55.0, 55.0, size=n_city)
    centers_lon = rng.uniform(-180.0, 180.0, size=n_city)
    city = rng.integers(0, n_city, size=n_members)
    lat = centers_lat[city] + rng.normal(0.0, 0.05, size=n_members)
    lon = centers_lon[city] + rng.normal(0.0, 0.05, size=n_members)
    lat = np.concatenate([lat, rng.uniform(-55.0, 55.0, size=n_noise)])
    lon = np.concatenate([lon, rng.uniform(-180.0, 180.0, size=n_noise)])
    lat = np.clip(lat, -59.9, 59.9)
    lon = ((lon + 180.0) % 360.0) - 180.0
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(len(lat)), type=pa.int64()),
                "lat": pa.array(lat, type=pa.float64()),
                "lon": pa.array(lon, type=pa.float64()),
            }
        ),
        out_path,
    )


def run_spatial(spark, fixtures: dict) -> dict:
    """radius_self_join(25 km, cell 0.5 deg) per fixture: steady-state
    wall seconds (min of 2), true pair count, and the ring-join
    CANDIDATE mass — the rows entering the haversine verify, the cost
    driver the blocked join bounds. The candidate count mirrors
    spatial.py's grid arithmetic (home cell + (2*1+1)^2 ring at this
    radius/cell/max_abs_lat — _ring gives n_lat = n_lon = 1) on the
    unordered-pair side so candidates and pairs are the same universe;
    the overhead ratio candidates/pairs staying ~constant across the
    decade is the blocking-efficiency reading."""
    from pyspark.sql import functions as F

    from bench import timed_run
    from kafka_streams_task_spark.operators.spatial import radius_self_join

    out: dict[str, dict] = {}
    for name, path in fixtures.items():
        pts = spark.read.parquet(path)
        cell = 0.5
        home = pts.select(
            "id",
            F.floor((F.col("lat") + 90.0) / cell).cast("long").alias("_latc"),
            F.floor((F.col("lon") + 180.0) / cell).cast("long").alias("_lonc"),
        )
        ring = home.select(
            F.col("id").alias("id_a"),
            F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("_dlat"),
            "_latc",
            "_lonc",
        ).select(
            "id_a",
            (F.col("_latc") + F.col("_dlat")).alias("_jlat"),
            F.explode(
                F.array(
                    *[
                        F.pmod(F.col("_lonc") + F.lit(i), F.lit(720)).cast("long")
                        for i in (-1, 0, 1)
                    ]
                )
            ).alias("_jlon"),
        )
        build = home.select(
            F.col("id").alias("id_b"),
            F.col("_latc").alias("_jlat"),
            F.pmod(F.col("_lonc"), F.lit(720)).cast("long").alias("_jlon"),
        )
        candidates = (
            ring.join(build, ["_jlat", "_jlon"])
            .filter(F.col("id_a") < F.col("id_b"))
            .count()
        )
        runs, pairs = [], 0
        for _ in range(2):
            sec, pairs = timed_run(
                spark,
                lambda s, d: radius_self_join(
                    pts, 25.0, cell_deg=cell, max_abs_lat=60.0, validate=False
                ),
                path,
            )
            runs.append(sec)
        out[name] = {
            "sec": min(runs),
            "runs": runs,
            "pairs": pairs,
            "candidates": candidates,
            "overhead": round(candidates / max(pairs, 1), 2),
        }
        print(f"# spatial {name}: {out[name]}", file=sys.stderr)
    return out


def main() -> int:
    from pyspark.sql import functions as F

    from kafka_streams_task_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from bench import timed_run, warm_up
    from kafka_streams_task_spark.plans import get_spark

    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
    os.makedirs(scratch, exist_ok=True)
    syn01 = f"{scratch}/syn_sf0.1_documents.parquet"
    syn10 = f"{scratch}/syn_sf1.0_documents.parquet"
    if not os.path.exists(syn01):
        generate(syn01, 5_000, seed=42)
    if not os.path.exists(syn10):
        generate(syn10, 50_000, seed=43)

    spark = get_spark(app_name="scale_decade")
    warm_up(spark)

    if "spatial" in sys.argv[1:]:
        # spatial family only (r16): derived city-clustered point
        # fixtures, 10k -> 100k at constant per-city occupancy
        p10 = f"{scratch}/pts_10k.parquet"
        p100 = f"{scratch}/pts_100k.parquet"
        if not os.path.exists(p10):
            gen_points(p10, 10_000, seed=42)
        if not os.path.exists(p100):
            gen_points(p100, 100_000, seed=43)
        print(json.dumps(run_spatial(spark, {"pts_10k": p10, "pts_100k": p100})))
        spark.stop()
        return 0

    fixtures = {
        "real_sf0.1": "/root/testdata/sf0.1/documents.parquet",
        "syn_sf0.1": syn01,
        "syn_sf1.0": syn10,
    }
    out: dict[str, dict] = {}
    for name, path in fixtures.items():
        docs = spark.read.parquet(path).select("doc_id", "text")
        res: dict[str, dict] = {}
        for op, fn in (
            ("minhash_lsh_candidates", lambda d: minhash_lsh_candidates(d)),
            ("ngram_jaccard_pairs_t05", lambda d: ngram_jaccard_pairs(d, threshold=0.5)),
        ):
            runs, rows = [], 0
            for _ in range(2):
                sec, rows = timed_run(spark, lambda s, d: fn(docs), path)
                runs.append(sec)
            res[op] = {"sec": min(runs), "runs": runs, "pairs": rows}
            print(f"# {name} {op}: {runs} pairs={rows}", file=sys.stderr)
        out[name] = res
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
