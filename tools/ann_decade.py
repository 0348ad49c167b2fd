#!/usr/bin/env python
"""ANN recall/cost frontier across a scaling decade (VERDICT r14 item 1).

The r14 verdict's one weak: ``ivf_scale_params``' recall is proven at two
scales, but its DEFAULT per-query work is linear in N (probe_frac=0.75
ADC-scans ~75% of the corpus; rerank_k = N/10 exact-reranks a linear
shortlist). Nothing measured the recall/cost frontier on the geometry the
docstrings invoke to justify sub-linear probing — clustered real-world
embeddings. This tool measures it.

Fixtures (dim 64, matching the real embeddings tables):
  real_sf0.1 — the REAL near-uniform driver embeddings (N=2000): the
               geometry control. Expected: sub-linear probing collapses
               here (thin cosine margins spread true neighbors across
               lists) — confirming the driver suite's explicit dense
               override, NOT contradicting the clustered defaults.
  clu_5k / clu_50k — planted clustered neighborhoods, the realistic
               semantic-embedding regime: near-duplicate / same-topic
               documents embed as tight blobs (~50 members, intra-blob
               cosine ~0.92) whose count grows WITH the corpus
               (n_centers = N/50), while unrelated topics are
               near-orthogonal (random 64-dim centers). Seeded, written
               under /root/repo/.scratch. The 5k fixture is the
               methodology control for the 50k decade reading: same
               generator, so a config whose behavior tracks between the
               two scales is measuring geometry, not generator luck.

Per (fixture x config), measured exactly:
  probed_mass — mean per-query candidate rows entering ADC scoring
               (the sum of probed-list sizes): THE cost driver at scale
               — the quantity the verdict says was never measured.
  recall      — min / mean per-query recall@5 of knn_ivf_pq (ks=64,
               exact rerank) vs knn_bruteforce over 20 member queries,
               the driver suite's gate shape (per-query floor 0.8).
  sec         — wall seconds for the ivf_pq search (min of 2, steady
               session) — color only; probed_mass is the scale story.

Configs:
  uniform_defaults — the r14 defaults (probe_frac=0.75, rerank N/10):
               per-query work O(N) by construction.
  sublinear_p8 / sublinear_p12 — CONSTANT probed-list count over
               n_clusters = 2*sqrt(N) lists: probed mass ~ n_probe *
               sqrt(N)/2 = O(sqrt N); rerank_k = max(96, 4.5*sqrt(N)).
  frac_0.10    — the docstrings' clustered probe_frac band: still a
               constant FRACTION (O(N) mass, smaller constant) — here
               to show a fraction is the wrong shape even when small.

Prints one JSON line; findings land in SCALE.md and set the
``geometry="clustered"`` defaults in ``ivf_scale_params``.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
BLOB = 50  # members per planted neighborhood
N_QUERIES = 20
K = 5


def generate(out_path: str, n_docs: int, seed: int) -> None:
    """Planted clustered neighborhoods: n_docs/BLOB random 64-dim
    Gaussian centers (near-orthogonal to each other), BLOB members each
    at center + N(0, 0.3^2) noise -> intra-blob cosine ~1/(1+0.09) ~
    0.92, inter-blob ~0. Member ids are shuffled so blob membership
    never correlates with id order (the sampled k-means trainer reads a
    prefix)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_centers = n_docs // BLOB
    centers = rng.standard_normal((n_centers, DIM))
    owner = np.repeat(np.arange(n_centers), BLOB)[:n_docs]
    vecs = centers[owner] + 0.3 * rng.standard_normal((n_docs, DIM))
    perm = rng.permutation(n_docs)
    vecs = vecs[perm].astype("float32")
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_docs), type=pa.int64()),
            "embedding": pa.array([list(map(float, v)) for v in vecs]),
            "label": pa.array([int(owner[p]) for p in perm], type=pa.int32()),
        }
    )
    pq.write_table(tbl, out_path)


def main() -> int:
    from pyspark.sql import functions as F

    from kafka_streams_task_spark.operators.similarity import (
        _assign_clusters,
        _clean_matrix,
        _kmeans_numpy,
        knn_bruteforce,
        knn_ivf_pq,
    )
    from bench import warm_up
    from kafka_streams_task_spark.plans import get_spark

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    os.makedirs(scratch, exist_ok=True)
    clu5 = f"{scratch}/clu_5k_embeddings.parquet"
    clu50 = f"{scratch}/clu_50k_embeddings.parquet"
    if not os.path.exists(clu5):
        generate(clu5, 5_000, seed=42)
    if not os.path.exists(clu50):
        generate(clu50, 50_000, seed=43)

    spark = get_spark(app_name="ann_decade")
    warm_up(spark)

    # each fixture measured under the trainer its documented path runs
    # (r16): the clustered fixtures take the library DEFAULT spherical
    # coarse quantizer (metric="cosine" — the fix for the norm-bias
    # probed-list skew, see _kmeans_numpy), while the near-uniform
    # control keeps metric="l2" exactly as the driver suite pins it
    # (coarse_metric="l2" + geometry="uniform" — the floors were proven
    # on the Euclidean partition and there is no norm bias to fix).
    fixtures = {
        "real_sf0.1": ("/root/testdata/sf0.1/embeddings.parquet", "l2"),
        "clu_5k": (clu5, "cosine"),
        "clu_50k": (clu50, "cosine"),
    }

    out: dict[str, dict] = {}
    for name, (path, metric) in fixtures.items():
        emb = spark.read.parquet(path).select("vec_id", "embedding")
        n = emb.count()
        n_clusters = max(16, 2 * math.isqrt(n))
        q = emb.filter(F.col("vec_id") < N_QUERIES)

        # ground truth once per fixture
        truth: dict[int, set] = {}
        for r in knn_bruteforce(emb, q, k=K).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        # one shared coarse index per fixture: train exactly as knn_ivf_pq
        # does (sampled k-means, same seed), then reuse list sizes for the
        # probed-mass accounting of every config
        sample_pdf = (
            emb.select("embedding").orderBy("vec_id").limit(4096).toPandas()
        )
        centroids = _kmeans_numpy(
            _clean_matrix(sample_pdf["embedding"]),
            min(n_clusters, 4096),
            seed=42,
            metric=metric,
        )
        sizes = {
            r["cluster"]: r["cnt"]
            for r in _assign_clusters(
                emb.select(F.col("vec_id"), F.col("embedding")),
                "embedding", centroids, 1, "cluster",
            )
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

        configs = {
            "uniform_defaults": (
                math.ceil(0.75 * n_clusters),
                max(96, math.ceil(0.10 * n)),
            ),
            "sublinear_p8": (8, max(96, math.ceil(4.5 * math.sqrt(n)))),
            "sublinear_p12": (12, max(96, math.ceil(4.5 * math.sqrt(n)))),
            "frac_0.10": (
                max(1, math.ceil(0.10 * n_clusters)),
                max(96, math.ceil(4.5 * math.sqrt(n))),
            ),
        }

        res: dict[str, dict] = {}
        for cfg, (n_probe, rerank_k) in configs.items():
            n_probe = min(n_probe, n_clusters)
            probed = (
                _assign_clusters(
                    q.select(F.col("vec_id").alias("query_id"), "embedding"),
                    "embedding", centroids, n_probe, "cluster",
                )
                .select("query_id", "cluster")
                .collect()
            )
            mass = sum(sizes.get(r["cluster"], 0) for r in probed) / N_QUERIES

            runs = []
            recalls: list[float] = []
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.time()
                got: dict[int, set] = {}
                for r in knn_ivf_pq(
                    emb, q, k=K, n_clusters=n_clusters, n_probe=n_probe,
                    ks=64, rerank_k=rerank_k, coarse_metric=metric,
                ).collect():
                    got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
                runs.append(round(time.time() - t0, 3))
                recalls = [
                    len(truth[qid] & got.get(qid, set())) / K for qid in truth
                ]
            res[cfg] = {
                "n_probe": n_probe,
                "rerank_k": rerank_k,
                "probed_mass_per_query": round(mass, 1),
                "recall_min": round(min(recalls), 3),
                "recall_mean": round(sum(recalls) / len(recalls), 3),
                "sec": min(runs),
                "runs": runs,
            }
            print(f"# {name} n={n} nc={n_clusters} {cfg}: {res[cfg]}", file=sys.stderr)
        out[name] = {"n": n, "n_clusters": n_clusters, "configs": res}

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
