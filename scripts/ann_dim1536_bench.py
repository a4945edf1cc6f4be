#!/usr/bin/env python
"""Dimensional-realism datapoint for the ANN scale paths.

The testdata embeddings are 64-dim; the reference's production
embeddings are 1536-dim (``src/search/embeddings.py:41-43``), and
hyperplane-LSH cost grows linearly in dim per projection.  This script
measures, at dim=1536 on synthetic vectors:

- banded hyperplane LSH near-dup (`embedding_near_duplicates`):
  recall vs the planted >=0.9-cosine pairs, and wall time;
- `ivf_topk` recall@10 vs brute-force, and wall time.

Run: python scripts/ann_dim1536_bench.py  (prints one JSON line;
numbers are recorded in ARCHITECTURE.md §ANN).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from car_etl_spark.operators import similarity as S  # noqa: E402
from car_etl_spark.functions import vectors as V  # noqa: E402
from car_etl_spark.session import get_spark  # noqa: E402

DIM = 1536
N_BASE = 1900
N_DUPS = 100  # planted near-copies at cosine ~0.97-0.995


def make_vectors() -> list[tuple[int, list[float]]]:
    rng = random.Random(1536)
    rows, base = [], []
    for i in range(N_BASE):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        base.append(v)
        rows.append((i, v))
    for j in range(N_DUPS):
        v = [x + rng.gauss(0, 0.18) for x in base[j]]  # cos ~ 1/sqrt(1+0.18^2) ~ 0.984
        rows.append((100000 + j, v))
    return rows


def main() -> None:
    spark = get_spark("ann-dim1536")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    emb = spark.createDataFrame(make_vectors(), ["vec_id", "embedding"]).cache()
    emb.count()

    # --- banded hyperplane near-dup at the 0.9-threshold configuration ---
    t0 = time.perf_counter()
    nd = S.embedding_near_duplicates(
        emb, threshold=0.9, dim=DIM, bands=8, bits_per_band=4
    )
    pairs = {(r.id_a, r.id_b) for r in nd.collect()}
    t_lsh = time.perf_counter() - t0
    planted = {(j, 100000 + j) for j in range(N_DUPS)}
    found = {(a, b) for a, b in pairs if (a, b) in planted or (b, a) in planted}
    recall = len(found) / N_DUPS

    # --- IVF top-k vs brute force ---
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qvec = qrow[0]
    t0 = time.perf_counter()
    approx = S.ivf_topk(emb, V.literal_vector(qvec), k=10, num_centroids=32, nprobe=8)
    approx_ids = [r.vec_id for r in approx.collect()]
    t_ivf = time.perf_counter() - t0

    t0 = time.perf_counter()
    qlit = V.vector_sql(qvec)
    exact = (
        emb.select("vec_id", V.cosine_similarity("embedding", qlit).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
    )
    exact_ids = [r.vec_id for r in exact.collect()]
    t_exact = time.perf_counter() - t0

    recall_at_10 = len(set(approx_ids) & set(exact_ids)) / 10.0

    # --- PERSISTED IVF serving path (round 4): build once, probe many ---
    import shutil
    import tempfile

    from car_etl_spark.operators.indexing import IvfStore

    idx_dir = tempfile.mkdtemp(prefix="ivf1536_")
    store = IvfStore(os.path.join(idx_dir, "ivf"))
    t0 = time.perf_counter()
    store.build(emb, num_centroids=32, refine_iterations=2, keep=())
    t_build = time.perf_counter() - t0

    def probe(nprobe):
        df = store.probe_topk(spark, list(qvec), k=10, nprobe=nprobe, extra_cols=())
        return [r.vec_id for r in df.collect()]

    # warm serving latency: min of 3 runs (first run pays plan analysis)
    serving = {}
    for label, npr in (("nprobe8", 8), ("exact_bound", None)):
        runs, ids = [], None
        for _ in range(3):
            t0 = time.perf_counter()
            ids = probe(npr)
            runs.append(time.perf_counter() - t0)
        serving[label] = {
            "recall_at_10": len(set(ids) & set(exact_ids)) / 10.0,
            "wall_warm_sec": round(min(runs), 2),
            "wall_cold_sec": round(runs[0], 2),
        }
    probed_exact = store.probe_ids_exact(list(qvec), 10)
    shutil.rmtree(idx_dir, ignore_errors=True)

    print(json.dumps({
        "dim": DIM, "n_vectors": N_BASE + N_DUPS,
        "lsh_neardup": {"recall_planted": recall, "pairs": len(pairs),
                         "wall_sec": round(t_lsh, 2),
                         "config": "8 bands x 4 bits, threshold 0.9"},
        "ivf_topk": {"recall_at_10": recall_at_10, "wall_sec": round(t_ivf, 2),
                      "config": "32 centroids, nprobe 8"},
        "bruteforce_topk_wall_sec": round(t_exact, 2),
        "persisted_ivf": {
            "build_wall_sec": round(t_build, 2),
            "serving": serving,
            "exact_bound_probe_partitions": f"{len(probed_exact)}/32",
            "config": "32 centroids, 2 Lloyd iterations, partitioned layout",
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
