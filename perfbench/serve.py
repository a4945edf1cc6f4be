"""``serve``: a closed loop of parameterized search, RAG and rollup requests.

Two client threads each send their next request when the previous one
returns.  Requests come from a seeded pool of about 500 distinct
parameterized requests; within every block of 20 requests the mode mix
is exact (keyword 3, vector 3, bm25/phrase/substring/hybrid 2 each,
the other six modes 1 each) and each mode's request is drawn from its
share of the pool with a Zipf distribution (s=1.1), so popular requests
repeat.  Every response is fetched with ``collect()`` and checked, after
the timed phase, against an exact answer computed in set-up.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time

import numpy as np

import harness as H
import oracles as O
from stores import TENANTS, tenant_of

#: (mode, requests per block of 20, distinct requests in the pool)
MIX = (
    ("keyword", 3, 75),
    ("vector", 3, 75),
    ("bm25", 2, 50),
    ("phrase", 2, 50),
    ("substring", 2, 50),
    ("hybrid", 2, 50),
    ("regex", 1, 25),
    ("vector_filtered", 1, 25),
    ("pq", 1, 25),
    ("rollup", 1, 25),
    ("ask", 1, 25),
    ("prepared", 1, 3),
)
MODES = tuple(m for m, _, _ in MIX)
PREPARED = ("hybrid_rerank_page", "events_rollup_served", "rag_context_modes")
ZIPF_S = 1.1
CLIENTS = 2
BLOCK = sum(k for _, k, _ in MIX)
#: a run serves at least this many whole blocks (60 requests): the
#: tail is then the 11th-largest sample, which sits inside the hybrid
#: requests (2 of every 20), below the 9 pq, ask and regex requests and
#: away from the edge between two modes
MIN_BLOCKS = 3
LIMIT = 20
#: stream prefix generated up front — far more than a run can serve
STREAM_LEN = 4000
EVENT_DAYS = 30
EVENT_START = dt.date(2024, 1, 1)


# -- request generation (pure; the program never sees the seed) ----------------


def _vec(rng, base) -> list[float]:
    v = np.asarray(base, dtype=np.float64) + rng.normal(0.0, 0.05, len(base))
    return [round(float(x), 6) for x in v]


def _pick_tokens(rng, docs: list[str], k: int) -> tuple[str, ...]:
    toks = docs[int(rng.integers(0, len(docs)))].split()
    return tuple(toks[int(i)] for i in rng.integers(0, len(toks), k))


def _adjacent(rng, docs: list[str], k: int) -> tuple[str, ...]:
    toks = docs[int(rng.integers(0, len(docs)))].split()
    i = int(rng.integers(0, len(toks) - k + 1))
    return tuple(toks[i : i + k])


def _span(rng, docs: list[str]) -> str:
    t = docs[int(rng.integers(0, len(docs)))]
    n = int(rng.integers(4, 13))
    i = int(rng.integers(0, len(t) - n + 1))
    s = t[i : i + n]
    if rng.random() < 0.25:
        # a span that matches nowhere: 'x' is not in the corpus alphabet
        j = int(rng.integers(0, len(s)))
        s = s[:j] + "x" + s[j + 1 :]
    return s


def _regex(rng, docs: list[str]) -> str:
    a, b = _adjacent(rng, docs, 2)
    shape = int(rng.integers(0, 3))
    if shape == 0:
        return rf"{a}\s+{b[:2]}[a-z]*"
    if shape == 1:
        return rf"{a[:3]}[a-z]*\s+{b}"
    return rf"\b{a}\s+[a-z]+\s+{b}\b"


def make_request(mode: str, rng, docs: list[str], vecs: np.ndarray) -> dict:
    tenant = TENANTS[int(rng.integers(0, 2))]
    base = vecs[int(rng.integers(0, len(vecs)))]
    if mode in ("keyword", "bm25"):
        p = {"terms": _pick_tokens(rng, docs, int(rng.integers(1, 4)))}
    elif mode == "phrase":
        p = {"terms": _adjacent(rng, docs, int(rng.integers(2, 4)))}
    elif mode == "substring":
        p = {"pattern": _span(rng, docs)}
    elif mode == "regex":
        p = {"pattern": _regex(rng, docs)}
    elif mode in ("vector", "pq"):
        p = {"vec": _vec(rng, base)}
    elif mode == "vector_filtered":
        labels = sorted(int(x) for x in rng.choice(10, int(rng.integers(2, 5)), replace=False))
        p = {"vec": _vec(rng, base), "labels": labels}
    elif mode in ("hybrid", "ask"):
        p = {"terms": _pick_tokens(rng, docs, int(rng.integers(1, 4))), "vec": _vec(rng, base)}
    elif mode == "rollup":
        span = int(rng.integers(1, 8))
        first = int(rng.integers(0, EVENT_DAYS - span + 1))
        p = {
            "grain": ("day", "hour")[int(rng.integers(0, 2))],
            "start": (EVENT_START + dt.timedelta(days=first)).isoformat(),
            "end": (EVENT_START + dt.timedelta(days=first + span - 1)).isoformat(),
        }
    else:
        raise ValueError(mode)
    return {"mode": mode, "tenant": tenant, **p}


def build_pool(seed: int, docs: list[str], vecs: np.ndarray) -> dict[str, list[dict]]:
    rng = np.random.default_rng([seed, 1])
    pool = {}
    for mode, _, n in MIX:
        if mode == "prepared":
            pool[mode] = [{"mode": mode, "name": name} for name in PREPARED]
        else:
            pool[mode] = [make_request(mode, rng, docs, vecs) for _ in range(n)]
    return pool


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def build_stream(seed: int, pool: dict[str, list[dict]], n: int) -> list[tuple[str, int]]:
    """-> [(mode, pool index)]: exact mode mix per block of 20, Zipf
    popularity within each mode's pool (popularity order permuted by
    the seed, so no pool position is always the hot one)."""
    rng = np.random.default_rng([seed, 2])
    ranks = {m: rng.permutation(len(pool[m])) for m in MODES}
    weights = {m: zipf_weights(len(pool[m])) for m in MODES}
    block = [m for m, k, _ in MIX for _ in range(k)]
    out = []
    while len(out) < n:
        for m in rng.permutation(block):
            out.append((str(m), int(ranks[m][rng.choice(len(pool[m]), p=weights[m])])))
    return out[:n]


# -- the workload --------------------------------------------------------------


class Serve:
    lanes = CLIENTS
    root_spans = ("request",)

    def __init__(self, ctx):
        self.ctx = ctx
        c = ctx.corpus
        self.pool = build_pool(ctx.seed, c.doc_texts, c.vectors)
        self.stream = build_stream(ctx.seed, self.pool, STREAM_LEN)

    # set-up ---------------------------------------------------------------

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from car_etl_spark.queries.suites import serving_modes
        from car_etl_spark.tables import load_tables
        from stores import open_stores

        ctx = self.ctx
        self.spark = spark
        self.stores = open_stores(ctx.stores_root)
        t = load_tables(spark, ctx.sf_dir, ("documents", "embeddings"))
        self.docs_df = t["documents"].withColumn(
            "tenant_id",
            F.concat(F.lit("t"), F.pmod(F.col("doc_id"), F.lit(2)).cast("string")),
        )
        self.plain_docs, self.plain_emb = t["documents"], t["embeddings"]
        self.serving = serving_modes()

    def answers(self) -> None:
        c = self.ctx.corpus
        self.text = {
            tn: O.TextIndex({d: v for d, v in c.docs.items() if tenant_of(d) == tn})
            for tn in TENANTS
        }
        self.vec = {
            tn: O.VectorIndex({i: v for i, v in c.vecs.items() if tenant_of(i) == tn})
            for tn in TENANTS
        }
        self.expected = {}
        for mode, reqs in self.pool.items():
            for i, r in enumerate(reqs):
                self.expected[(mode, i)] = self._oracle(r)

    def _oracle(self, r: dict):
        from car_etl_spark.functions.text import stem_py

        mode = r["mode"]
        if mode == "prepared":
            return self.ctx.corpus.registry_answer(r["name"])
        if mode == "ask":
            return None
        tx, vx = self.text[r["tenant"]], self.vec[r["tenant"]]
        if mode == "keyword":
            return tx.keyword([stem_py(t.lower()) for t in r["terms"]], LIMIT)
        if mode == "bm25":
            return tx.bm25([stem_py(t.lower()) for t in r["terms"]])
        if mode == "phrase":
            return tx.phrase([stem_py(t.lower()) for t in r["terms"]], LIMIT)
        if mode == "substring":
            return tx.substring(r["pattern"])
        if mode == "regex":
            return tx.regex(r["pattern"])
        if mode in ("vector", "pq"):
            return vx.topk(r["vec"])
        if mode == "vector_filtered":
            return vx.topk(r["vec"], r["labels"])
        if mode == "hybrid":
            kw = tx.keyword([stem_py(t.lower()) for t in r["terms"]], 2 * LIMIT)
            return O.hybrid(kw, vx.topk(r["vec"]), LIMIT)
        if mode == "rollup":
            return O.rollup(
                self.ctx.corpus.events, r["grain"],
                dt.date.fromisoformat(r["start"]), dt.date.fromisoformat(r["end"]),
            )
        raise ValueError(mode)

    def warmup(self) -> None:
        """Untimed: one request of every mode and every prepared row —
        plan code paths, codegen and first-touch store IO.  The cold
        calls are codegen-bound, so they are spread over every core."""
        firsts = [
            (mode, i) for mode, reqs in self.pool.items()
            for i in range(len(PREPARED) if mode == "prepared" else 1)
        ]
        self._loop(firsts, None, H.Tracer(False), clients=H.nproc())

    # one request ----------------------------------------------------------

    def call(self, r: dict):
        """Start a request: -> a thunk building its DataFrame (the plan
        half of the request; ``collect()`` on the result is the exec half)."""
        from car_etl_spark import api
        from car_etl_spark.functions import vectors as V

        sp, s, mode = self.spark, self.stores, r["mode"]
        tn = r.get("tenant")
        if mode == "keyword":
            return lambda: api.tenant_search(sp, s["posting"], r["terms"], tn, limit=LIMIT)
        if mode == "bm25":
            return lambda: api.tenant_bm25_search(sp, s["posting"], r["terms"], tn, limit=LIMIT)
        if mode == "phrase":
            return lambda: api.tenant_phrase_search(sp, s["posting"], r["terms"], tn, limit=LIMIT)
        if mode == "substring":
            return lambda: api.tenant_substring_search(
                sp, s["trigram"], r["pattern"], tn, docs=self.docs_df
            )
        if mode == "regex":
            return lambda: api.tenant_regex_search(
                sp, s["trigram"], r["pattern"], self.docs_df, tn
            )
        if mode == "vector":
            return lambda: api.tenant_vector_search(sp, s["ivf"], r["vec"], tn, limit=LIMIT)
        if mode == "vector_filtered":
            return lambda: api.tenant_filtered_vector_search(
                sp, s["ivf"], r["vec"], tn, ("label", r["labels"]), limit=LIMIT
            )
        if mode == "pq":
            return lambda: api.tenant_pq_search(sp, s["ivf"], r["vec"], tn, limit=LIMIT)
        if mode == "hybrid":
            return lambda: api.tenant_hybrid_search(
                sp, s["posting"], s["ivf"], r["terms"], r["vec"], tn, limit=LIMIT
            )
        if mode == "rollup":
            return lambda: s["rollup"].read(
                sp, r["grain"],
                start_date=dt.date.fromisoformat(r["start"]),
                end_date=dt.date.fromisoformat(r["end"]),
            )
        if mode == "ask":
            return lambda: api.ask(
                self.plain_docs, self.plain_emb, r["terms"],
                V.literal_vector(r["vec"]), top_k=LIMIT,
            )
        if mode == "prepared":
            return lambda: self.serving[r["name"]](sp, self.ctx.sf_dir)
        raise ValueError(mode)

    def check(self, key: tuple[str, int], rows: list) -> str | None:
        mode = key[0]
        want = self.expected[key]
        got = [tuple(x) for x in rows]
        if mode == "prepared":
            return self.ctx.corpus.check_registry(self.pool[mode][key[1]]["name"], rows)
        if mode == "ask":
            return O.check_ask(got, LIMIT)
        if mode == "bm25":
            return O.check_ranked(got, want, LIMIT, O.BM25_TOL)
        if mode in ("vector", "pq", "vector_filtered"):
            return O.check_ranked(got, want, LIMIT, O.COS_TOL)
        if mode == "rollup":
            return O.check_rows_close(sorted(got), want)
        return O.check_exact(got, want)

    # the timed phase ------------------------------------------------------

    def measure(self, seconds: float) -> None:
        t_start = time.perf_counter()
        self.done = self._loop(self.stream, t_start + seconds, self.ctx.tracer)
        self.wall = time.perf_counter() - t_start

    def _loop(
        self, stream: list[tuple[str, int]], deadline: float | None, tr, clients: int = CLIENTS
    ) -> list[dict]:
        """Closed loop: each client sends the next request of ``stream``
        when its previous one returns.  With a deadline, clients stop at
        the first block boundary past it once MIN_BLOCKS blocks were
        sent, so every run serves whole blocks of the exact mode mix;
        without one, the loop runs ``stream`` to its end."""
        lock = threading.Lock()
        nxt = [0]
        done: list[dict] = []

        def client(lane: int) -> None:
            n = 0
            while True:
                with lock:
                    i = nxt[0]
                    if deadline is None:
                        if i >= len(stream):
                            return
                    elif i % BLOCK == 0 and i >= MIN_BLOCKS * BLOCK and time.perf_counter() >= deadline:
                        return
                    nxt[0] += 1
                mode, idx = stream[i % len(stream)]
                rec = {"key": (mode, idx), "error": None, "rows": None, "plan": 0.0, "exec": 0.0}
                rid = f"{lane}:{n}"
                n += 1
                with tr.span("request", rid, count_spark=True) as req:
                    try:
                        with tr.span("plan", rid) as ps:
                            df = self.call(self.pool[mode][idx])()
                        rec["plan"] = ps.elapsed
                        with tr.span("exec", rid) as es:
                            rec["rows"] = df.collect()
                        rec["exec"] = es.elapsed
                    except Exception as e:  # counted as a failed request
                        rec["error"] = f"{type(e).__name__}: {e}"
                rec["lat"], rec["timed_out"] = req.elapsed, req.timed_out
                rec["counts"] = req.counts
                with lock:
                    done.append(rec)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return done

    def verify(self) -> list[str]:
        problems = []
        for rec in self.done:
            why = H.op_failure(rec) or self.check(rec["key"], rec["rows"])
            if why:
                r = self.pool[rec["key"][0]][rec["key"][1]]
                problems.append(f"{json.dumps(r)[:160]}: {why}")
        return problems

    def e2e(self) -> dict:
        lat = [r["lat"] * 1000.0 for r in self.done]
        tl = H.tail(lat)
        return {
            "latency_p50_ms": H.median(lat),
            "latency_tail_ms": tl[0] if tl else max(lat),
            "throughput_per_s": len(self.done) / self.wall,
            "_tail_pct": tl[1] if tl else 100.0,
            "_n": len(lat),
        }

    def layers(self) -> dict:
        out = {}
        for mode in MODES:
            recs = [r for r in self.done if r["key"][0] == mode]
            out[f"serve.{mode}.plan_ms"] = H.median([r["plan"] * 1000.0 for r in recs])
            out[f"serve.{mode}.exec_ms"] = H.median([r["exec"] * 1000.0 for r in recs])
            for c in ("jobs", "tasks"):
                vals = [r["counts"].get(c, 0) for r in recs]
                out[f"serve.{mode}.{c}"] = sum(vals) / len(vals) if vals else 0.0
        return out

    def summary(self) -> dict:
        lat = {m: [r["lat"] * 1000.0 for r in self.done if r["key"][0] == m] for m in MODES}
        return {
            "requests": len(self.done),
            "distinct_requests": len({r["key"] for r in self.done}),
            "per_mode_p50_ms": {m: round(H.median(v), 1) for m, v in lat.items()},
            "per_mode_n": {m: len(v) for m, v in lat.items()},
        }
