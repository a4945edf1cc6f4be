"""The resident index stores the serve and ingest workloads run against.

Four stores over the benchmark corpus, all tenant-partitioned where the
engine supports it (two tenants, ``t0``/``t1``, by id parity):

- ``posting``: suffix-stemmed positional posting store (keyword, bm25,
  phrase, the hybrid keyword leg);
- ``trigram``: trigram store (substring and regex);
- ``ivf``: IVF store with a ``label`` filter column and PQ codes
  (vector, filtered vector, pq, the hybrid vector leg);
- ``rollup``: minute-grain rollup store over ``events``.

They are built once per (corpus, engine source) and kept under the work
directory; the ingest workload copies them into a fresh directory for
every run, so its writes never leak into the next run.
"""

from __future__ import annotations

import hashlib
import os
import shutil

TENANTS = ("t0", "t1")


def tenant_of(i: int) -> str:
    return TENANTS[i % 2]


def stores_key(corpus_digest: str, engine_digest: str) -> str:
    with open(__file__, "rb") as f:
        own = f.read()
    return hashlib.sha256(
        corpus_digest.encode() + engine_digest.encode() + own
    ).hexdigest()[:16]


def open_stores(root: str) -> dict:
    from car_etl_spark.operators import indexing as IX
    from car_etl_spark.streaming.rollup_store import RollupStore

    return {
        "posting": IX.PostingStore(os.path.join(root, "posting"), tenant_col="tenant_id"),
        "trigram": IX.PostingStore(
            os.path.join(root, "trigram"), analyzer="trigram", tenant_col="tenant_id"
        ),
        "ivf": IX.IvfStore(os.path.join(root, "ivf"), tenant_col="tenant_id"),
        "rollup": RollupStore(os.path.join(root, "rollup")),
    }


def build_stores(spark, sf_dir: str, root: str) -> None:
    from pyspark.sql import functions as F

    from car_etl_spark.operators import indexing as IX
    from car_etl_spark.tables import load_tables, parquet_rowcount

    t = load_tables(spark, sf_dir, ("documents", "embeddings", "events"))
    tenant = F.concat(F.lit("t"), F.pmod(F.col("__id"), F.lit(2)).cast("string"))
    docs = t["documents"].withColumn("__id", F.col("doc_id")).select(
        "doc_id", "lang", tenant.alias("tenant_id"), "text"
    )
    emb = t["embeddings"].withColumn("__id", F.col("vec_id")).select(
        "vec_id", "label", tenant.alias("tenant_id"), "embedding"
    )
    s = open_stores(root)
    s["posting"].build(docs)
    s["trigram"].build(docs)
    s["ivf"].build(
        emb,
        IX.derive_num_centroids(parquet_rowcount(sf_dir, "embeddings")),
        refine_iterations=2,
        filter_cols=("label",),
        pq_m=8,
    )
    s["rollup"].build(t["events"].select("ts", "event_type", "value"))


def ensure_stores(spark, sf_dir: str, work_dir: str, key: str) -> str:
    """Build-if-missing; -> the store root.  Built in a temporary
    directory and renamed, so a crashed build is never reused."""
    root = os.path.join(work_dir, f"stores-{key}")
    if not os.path.isdir(root):
        tmp = root + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build_stores(spark, sf_dir, tmp)
        os.rename(tmp, root)
    return root


def copy_stores(src_root: str, dst_root: str, names: tuple[str, ...]) -> None:
    shutil.rmtree(dst_root, ignore_errors=True)
    for n in names:
        shutil.copytree(os.path.join(src_root, n), os.path.join(dst_root, n), symlinks=True)


def file_sizes(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def new_bytes(before: dict, after: dict) -> int:
    """Bytes of files in ``after`` that are new or rewritten since ``before``."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def pending_files(store) -> int:
    """Files in a store's delta and tombstone directories."""
    n = 0
    for attr in ("delta_dir", "tomb_dir", "doclen_delta"):
        d = getattr(store, attr, None)
        if d and os.path.isdir(d):
            n += sum(
                1 for _p, _d, fs in os.walk(d) for f in fs if f.endswith(".parquet")
            )
    return n
