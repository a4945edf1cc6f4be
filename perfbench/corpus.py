"""Deterministic synthetic corpus for the benchmark.

The tables have the schemas of the engine's test corpus (TESTDATA.md: a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) and
similar value distributions.  They are generated from a fixed seed, so
every checkout builds byte-identical parquet files; the workload seed
only shapes the requests, never the corpus.

The corpus is written once per checkout under the benchmark's work
directory and reused; :func:`ensure_corpus` returns its directory and
a digest of its files for the run manifest.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
#: documents vocabulary (the test corpus draws from the same 30 words)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("small", "red", "blue", "green", "large", "steel", "brass", "tiny")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "valve", "spring", "nut", "pipe")
EMBED_DIM = 64
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.random(n) * days * 86_400e6).astype("timedelta64[us]")


def _days(rng, n, start, days):
    return np.datetime64(start, "us") + (
        rng.integers(0, days, n) * 86_400_000_000
    ).astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All corpus tables at scale factor ``sf`` (pure function of sf)."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_line = max(4000, int(6_000_000 * sf))
    n_ev = max(2000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(200, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    words = rng.integers(0, len(PART_WORDS), n_part)
    nouns = rng.integers(0, len(PART_NOUNS), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in zip(words, nouns)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    linenum = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):
        if okeys[i] == okeys[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    perm = rng.permutation(n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenum[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2500),
    })
    ev_ts = np.sort(_ts(rng, n_ev, "2024-01-01", 30))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(50, n_ev // 66), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test corpus
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def corpus_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in TABLE_NAMES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_corpus(work_dir: str, sf: float) -> tuple[str, str]:
    """Write the corpus once under ``work_dir``; -> (dir, digest).

    Files are written to a temporary directory and renamed into place,
    so an interrupted run never leaves a half-written corpus behind."""
    sf_dir = os.path.join(work_dir, f"corpus-sf{sf}")
    if not os.path.isdir(sf_dir):
        tmp = sf_dir + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        for name, table in build_tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, sf_dir)
    return sf_dir, corpus_digest(sf_dir)


class CorpusView:
    """The corpus as plain Python/NumPy data, plus the registry rows'
    DuckDB answers — the inputs of every exact answer the checks use."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        d = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pydict()
        self.docs = {i: (lang, text) for i, lang, text in zip(d["doc_id"], d["lang"], d["text"])}
        self.doc_texts = d["text"]
        e = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        ids = e.column("vec_id").to_pylist()
        labels = e.column("label").to_pylist()
        self.vectors = np.array(e.column("embedding").to_pylist(), dtype=np.float32)
        self.vecs = {i: (lab, v) for i, lab, v in zip(ids, labels, self.vectors)}
        ev = pq.read_table(
            os.path.join(sf_dir, "events.parquet"), columns=["ts", "event_type", "value"]
        ).to_pydict()
        self.events = list(zip(ev["ts"], ev["event_type"], ev["value"]))
        self._registry: dict[str, object] = {}

    def registry_answer(self, name: str):
        """Canonical rows of a registry query's DuckDB oracle, memoized
        in memory and on disk (keyed by the corpus and the oracle SQL)."""
        if name not in self._registry:
            if name == "events_rollup_served":
                from oracles import rollup

                self._registry[name] = rollup(self.events, "day", None, None)
            else:
                self._registry[name] = self._duckdb_answer(name)
        return self._registry[name]

    def _duckdb_answer(self, name: str):
        import pickle

        from car_etl_spark.oracle import _canon_rows, run_oracle
        from car_etl_spark.queries import build_registry, resolve_oracle

        sql = resolve_oracle(build_registry()[name].oracle, self.sf_dir)
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.sf_dir + "-answers", f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        rows = _canon_rows(run_oracle(sql, self.sf_dir))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(rows, f)
        os.replace(tmp, path)
        return rows

    def check_registry(self, name: str, rows) -> str | None:
        """``rows``: a pandas frame or a list of Spark Rows."""
        import pandas as pd

        from oracles import check_exact, check_rows_close

        want = self.registry_answer(name)
        if name == "events_rollup_served":
            return check_rows_close([tuple(r) for r in rows], want)
        from car_etl_spark.oracle import _canon_rows

        if not isinstance(rows, pd.DataFrame):
            rows = pd.DataFrame([r.asDict() for r in rows])
        return check_exact(_canon_rows(rows), want)
