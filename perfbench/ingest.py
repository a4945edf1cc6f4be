"""``ingest``: change batches applied beside a reader over pending deltas.

The run copies the prebuilt posting, IVF and rollup stores into a fresh
directory.  Set-up applies change batch 1 to every store and compacts
it, untimed, so the timed batches run on warm apply and compaction
paths.  Then one writer thread applies the seeded change batches 2, 3,
... — document edits, new documents and deletes to the posting store,
vector upserts and deletes to the IVF store, late events to the rollup
store — and after each batch compacts every store whose own
``should_compact()`` asks for it.  One reader thread runs a closed loop
of tenant term search, tenant vector probe and rollup read with seeded
parameters.

Each read records the store's committed batch id before and after it;
after the timed phase it must equal the exact answer at one of the
batch boundaries it overlapped.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

import numpy as np

import harness as H
import oracles as O
from corpus import EVENT_TYPES, VOCAB
from stores import TENANTS, copy_stores, file_sizes, new_bytes, open_stores, pending_files, tenant_of

STORES = ("posting", "ivf", "rollup")
READS = ("terms", "vec", "rollup")
#: the reader's kind rotation: a rollup read takes about half as long as
#: the others, and with one in three reads the run's median read would
#: fall in the gap between the two groups and jump from run to run
READ_CYCLE = ("terms", "vec", "terms", "vec", "rollup")
#: one change batch has the shape of the page-sized batches of
#: scripts/soak_maintenance_serving.py (``batch_changes``): 25 document
#: edits and 1 new document, 5 document deletes, 20 vector upserts,
#: 4 vector deletes and 200 events
DOC_EDITS, DOC_NEW, DOC_DELETES = 25, 1, 5
VEC_UPDATES, VEC_NEW, VEC_DELETES = 20, 0, 4
EVENTS = 200
#: change batches prepared per run — more than a run can apply
MAX_BATCHES = 40
LIMIT = 20


def _text(rng) -> str:
    return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))


def _unit(rng, dim: int) -> list[float]:
    """A unit vector with float32 components, the corpus's own type."""
    v = rng.standard_normal(dim)
    return [float(x) for x in (v / np.linalg.norm(v)).astype(np.float32)]


def make_batches(seed: int, doc_ids: list[int], vec_ids: list[int], dim: int, n: int) -> list[dict]:
    """The seeded change batches 1..n (pure function of its inputs)."""
    rng = np.random.default_rng([seed, 4])
    docs, vecs = sorted(doc_ids), sorted(vec_ids)
    next_doc, next_vec = max(docs) + 1, max(vecs) + 1
    out = []
    for b in range(1, n + 1):
        picked = [docs[int(i)] for i in rng.choice(len(docs), DOC_EDITS + DOC_DELETES, replace=False)]
        new_docs = list(range(next_doc, next_doc + DOC_NEW))
        next_doc += DOC_NEW
        doc_up = {d: ("en", _text(rng)) for d in picked[:DOC_EDITS] + new_docs}
        doc_del = sorted(picked[DOC_EDITS:])
        vpick = [vecs[int(i)] for i in rng.choice(len(vecs), VEC_UPDATES + VEC_DELETES, replace=False)]
        new_vecs = list(range(next_vec, next_vec + VEC_NEW))
        next_vec += VEC_NEW
        vec_up = {v: (int(rng.integers(0, 10)), _unit(rng, dim)) for v in vpick[:VEC_UPDATES] + new_vecs}
        vec_del = sorted(vpick[VEC_UPDATES:])
        t0 = dt.datetime(2024, 1, 1)
        events = [
            (
                t0 + dt.timedelta(microseconds=int(us)),
                EVENT_TYPES[int(e)],
                round(float(v), 2),
            )
            for us, e, v in zip(
                rng.integers(0, 30 * 86_400_000_000, EVENTS),
                rng.integers(0, len(EVENT_TYPES), EVENTS),
                rng.exponential(50.0, EVENTS),
            )
        ]
        out.append({"doc_up": doc_up, "doc_del": doc_del, "vec_up": vec_up, "vec_del": vec_del, "events": events})
        docs = sorted((set(docs) - set(doc_del)) | set(new_docs))
        vecs = sorted((set(vecs) - set(vec_del)) | set(new_vecs))
    return out


def records(ch: dict) -> list[dict]:
    """The batch as change records — what a connector would deliver."""
    out = [{"op": "doc_upsert", "doc_id": d, "tenant_id": tenant_of(d), "lang": lang, "text": t}
           for d, (lang, t) in sorted(ch["doc_up"].items())]
    out += [{"op": "doc_delete", "doc_id": d, "tenant_id": tenant_of(d)} for d in ch["doc_del"]]
    out += [{"op": "vec_upsert", "vec_id": v, "tenant_id": tenant_of(v), "label": lab, "embedding": e}
            for v, (lab, e) in sorted(ch["vec_up"].items())]
    out += [{"op": "vec_delete", "vec_id": v, "tenant_id": tenant_of(v)} for v in ch["vec_del"]]
    out += [{"op": "event", "ts": ts.isoformat(), "event_type": et, "value": v} for ts, et, v in ch["events"]]
    return out


def make_reads(seed: int, doc_texts: list[str], vectors: np.ndarray, n: int) -> list[dict]:
    rng = np.random.default_rng([seed, 5])
    out = []
    for i in range(n):
        kind = READ_CYCLE[i % len(READ_CYCLE)]
        tenant = TENANTS[int(rng.integers(0, 2))]
        if kind == "terms":
            toks = doc_texts[int(rng.integers(0, len(doc_texts)))].split()
            k = int(rng.integers(1, 4))
            out.append({"kind": kind, "tenant": tenant,
                        "terms": [toks[int(j)] for j in rng.integers(0, len(toks), k)]})
        elif kind == "vec":
            base = vectors[int(rng.integers(0, len(vectors)))]
            v = np.asarray(base, np.float64) + rng.normal(0.0, 0.05, len(base))
            out.append({"kind": kind, "tenant": tenant, "vec": [round(float(x), 6) for x in v]})
        else:
            span = int(rng.integers(1, 8))
            first = int(rng.integers(0, 30 - span + 1))
            out.append({"kind": kind, "grain": "day",
                        "start": (dt.date(2024, 1, 1) + dt.timedelta(days=first)).isoformat(),
                        "end": (dt.date(2024, 1, 1) + dt.timedelta(days=first + span - 1)).isoformat()})
    return out


class Ingest:
    lanes = 2  # writer + reader
    root_spans = ("batch", "read")

    def __init__(self, ctx):
        self.ctx = ctx
        c = ctx.corpus
        self.batches = make_batches(ctx.seed, list(c.docs), list(c.vecs), c.vectors.shape[1], MAX_BATCHES)
        self.reads = make_reads(ctx.seed, c.doc_texts, c.vectors, 4000)
        self.run_root = os.path.join(ctx.work, "ingest-run")

    # set-up ---------------------------------------------------------------

    def stores(self) -> None:
        copy_stores(self.ctx.stores_root, self.run_root, STORES)

    def prepare(self, spark) -> None:
        self.spark = spark
        self.s = open_stores(self.run_root)

    def answers(self) -> None:
        """The corpus state after every batch (answers are derived from
        these states, lazily, when the reads are checked)."""
        c = self.ctx.corpus
        docs = dict(c.docs)
        vecs = {i: (lab, np.asarray(v, np.float64)) for i, (lab, v) in c.vecs.items()}
        events = list(c.events)
        self.states = [(dict(docs), dict(vecs), len(events))]
        for ch in self.batches:
            docs.update(ch["doc_up"])
            for d in ch["doc_del"]:
                docs.pop(d, None)
            vecs.update({i: (lab, np.asarray(v, np.float64)) for i, (lab, v) in ch["vec_up"].items()})
            for v in ch["vec_del"]:
                vecs.pop(v, None)
            events.extend(ch["events"])
            self.states.append((dict(docs), dict(vecs), len(events)))
        self.all_events = events
        self.n_records = [len(records(ch)) for ch in self.batches]
        self.record_bytes = [len(json.dumps(records(ch)).encode()) for ch in self.batches]
        self._oracle_cache: dict = {}
        self._index_cache: dict = {}

    def warmup(self) -> None:
        """Untimed, all in parallel (first calls are codegen-bound):
        batch 1 applied to each store and the store compacted, beside
        one read of each kind.  The timed phase starts from batch 2, on
        warm apply and compaction paths and freshly compacted stores."""
        ch, errors = self.batches[0], []

        def store(name: str) -> None:
            try:
                self._call(name, 1, ch)
                self.s[name].compact(self.spark)
            except Exception as e:
                errors.append(f"warm-up batch 1, {name}: {type(e).__name__}: {e}")

        threads = [threading.Thread(target=store, args=(n,)) for n in STORES]
        firsts = [next(r for r in self.reads if r["kind"] == k) for k in READS]
        threads += [threading.Thread(target=self._read, args=(r,)) for r in firsts]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise RuntimeError("; ".join(errors))

    # operations -----------------------------------------------------------

    def _sid(self, kind: str) -> int:
        s = self.s
        if kind == "terms":
            return int(s["posting"]._meta().get("applied_through") or 0)
        if kind == "vec":
            return int(s["ivf"].meta().get("applied_through") or 0)
        m = s["rollup"]._meta() or {}
        return max(int(m.get("compacted_through") or 0), s["rollup"]._max_sentinel())

    def _read(self, r: dict) -> list:
        from car_etl_spark import api

        sp, s = self.spark, self.s
        if r["kind"] == "terms":
            df = api.tenant_search(sp, s["posting"], tuple(r["terms"]), r["tenant"], limit=LIMIT)
        elif r["kind"] == "vec":
            df = api.tenant_vector_search(sp, s["ivf"], r["vec"], r["tenant"], limit=LIMIT)
        else:
            df = s["rollup"].read(
                sp, r["grain"],
                start_date=dt.date.fromisoformat(r["start"]),
                end_date=dt.date.fromisoformat(r["end"]),
            )
        return df.collect()

    def _call(self, name: str, b: int, ch: dict) -> None:
        """Apply batch ``b``'s changes to one store."""
        sp, store = self.spark, self.s[name]
        if name == "posting":
            docs = sp.createDataFrame(
                [(d, lang, tenant_of(d), t) for d, (lang, t) in sorted(ch["doc_up"].items())],
                "doc_id long, lang string, tenant_id string, text string",
            )
            store.apply_batch(sp, docs, [(tenant_of(d), d) for d in ch["doc_del"]], batch=b)
        elif name == "ivf":
            vecs = sp.createDataFrame(
                [(v, lab, tenant_of(v), e) for v, (lab, e) in sorted(ch["vec_up"].items())],
                "vec_id long, label int, tenant_id string, embedding array<float>",
            )
            store.apply_batch(sp, vecs, [(tenant_of(v), v) for v in ch["vec_del"]], batch=b)
        else:
            events = sp.createDataFrame(ch["events"], "ts timestamp, event_type string, value double")
            store.apply_batch(sp, events, b)

    def _apply(self, b: int, ch: dict) -> None:
        sp, s, tr = self.spark, self.s, self.ctx.tracer
        for name in STORES:
            before = file_sizes(s[name].path)
            with tr.span(f"apply.{name}", f"0:{b}", count_spark=True) as a:
                self._call(name, b, ch)
            if a.timed_out:
                raise TimeoutError(f"apply.{name} jobs cancelled after {H.OP_TIMEOUT_S:g} s")
            st = self.stat[name]
            st["apply"].append(a.elapsed)
            st["apply_jobs"].append(a.counts.get("jobs", 0))
            st["pending"].append(pending_files(s[name]))
            st["bytes"] += new_bytes(before, file_sizes(s[name].path))
        for name in STORES:
            if s[name].should_compact():
                before = file_sizes(s[name].path)
                with tr.span(f"compact.{name}", f"0:{b}") as c:
                    s[name].compact(sp)
                self.stat[name]["compact"].append(c.elapsed)
                self.stat[name]["bytes"] += new_bytes(before, file_sizes(s[name].path))

    def measure(self, seconds: float) -> None:
        tr = self.ctx.tracer
        self.stat = {n: {"apply": [], "apply_jobs": [], "pending": [], "compact": [], "bytes": 0}
                     for n in STORES}
        self.applied: list[int] = []
        self.writer_errors: list[str] = []
        self.done: list[dict] = []
        t_start = time.perf_counter()
        deadline = t_start + seconds
        writer_end = [t_start]

        def writer() -> None:
            # batch 1 was applied in set-up; the first timed batch always
            # runs, a later one only if it is expected to end by the
            # deadline (the previous batch's duration as the estimate), so
            # a run applies a stable batch count
            last = 0.0
            for b, ch in enumerate(self.batches[1:], start=2):
                if b > 2 and time.perf_counter() + last > deadline:
                    break
                t0 = time.perf_counter()
                try:
                    with tr.span("batch", f"0:{b}"):
                        self._apply(b, ch)
                    self.applied.append(b)
                except Exception as e:  # counted as a failed operation
                    self.writer_errors.append(f"batch {b}: {type(e).__name__}: {e}")
                    break
                last = time.perf_counter() - t0
            writer_end[0] = time.perf_counter()

        def reader() -> None:
            # reads run while the writer does, past the deadline if its
            # last batch is still in flight, so every read overlaps writes
            i = 0
            while time.perf_counter() < deadline or writer_t.is_alive():
                r = self.reads[i % len(self.reads)]
                rec = {"read": r, "error": None, "rows": None}
                rid = f"1:{i}"
                i += 1
                rec["sid0"] = self._sid(r["kind"])
                with tr.span("read", rid, count_spark=True) as s:
                    try:
                        rec["rows"] = self._read(r)
                    except Exception as e:  # counted as a failed read
                        rec["error"] = f"{type(e).__name__}: {e}"
                rec["sid1"] = self._sid(r["kind"])
                rec["lat"], rec["timed_out"] = s.elapsed, s.timed_out
                self.done.append(rec)

        writer_t = threading.Thread(target=writer)
        threads = [writer_t, threading.Thread(target=reader)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.wall = time.perf_counter() - t_start
        self.writer_wall = writer_end[0] - t_start

    # checking -------------------------------------------------------------

    def _expected(self, r: dict, state: int):
        key = (json.dumps(r, sort_keys=True), state)
        if key not in self._oracle_cache:
            if r["kind"] == "terms":
                from car_etl_spark.functions.text import stem_py

                want = self._index(r, state).keyword([stem_py(t.lower()) for t in r["terms"]], LIMIT)
            elif r["kind"] == "vec":
                want = self._index(r, state).topk(r["vec"])
            else:
                want = O.rollup(
                    self.all_events[: self.states[state][2]], r["grain"],
                    dt.date.fromisoformat(r["start"]), dt.date.fromisoformat(r["end"]),
                )
            self._oracle_cache[key] = want
        return self._oracle_cache[key]

    def _index(self, r: dict, state: int):
        """The tenant's exact text or vector index at a batch boundary."""
        key = (r["kind"], state, r["tenant"])
        if key not in self._index_cache:
            docs, vecs, _ = self.states[state]
            if r["kind"] == "terms":
                idx = O.TextIndex({d: v for d, v in docs.items() if tenant_of(d) == r["tenant"]})
            else:
                idx = O.VectorIndex({i: v for i, v in vecs.items() if tenant_of(i) == r["tenant"]})
            self._index_cache[key] = idx
        return self._index_cache[key]

    def _check(self, rec: dict, state: int) -> str | None:
        r = rec["read"]
        got = [tuple(x) for x in rec["rows"]]
        want = self._expected(r, state)
        if r["kind"] == "terms":
            return O.check_exact(got, want)
        if r["kind"] == "vec":
            return O.check_ranked([(g[0], g[-1]) for g in got], want, LIMIT, O.COS_TOL)
        return O.check_rows_close(sorted(got), want)

    def verify(self) -> list[str]:
        problems = list(self.writer_errors)
        for rec in self.done:
            why = H.op_failure(rec)
            if not why:
                whys = [self._check(rec, st) for st in range(rec["sid0"], rec["sid1"] + 1)]
                why = None if any(w is None for w in whys) else whys[0]
            if why:
                problems.append(f"{json.dumps(rec['read'])[:120]} at batch {rec['sid0']}..{rec['sid1']}: {why}")
        return problems

    def attempted(self) -> int:
        return len(self.done) + len(self.applied) + len(self.writer_errors)

    # metrics --------------------------------------------------------------

    def changes_per_s(self) -> float:
        n = sum(self.n_records[b - 1] for b in self.applied)
        return n / self.writer_wall if self.writer_wall > 0 else 0.0

    def write_amp(self) -> float:
        rec = sum(self.record_bytes[b - 1] for b in self.applied)
        return sum(self.stat[n]["bytes"] for n in STORES) / rec if rec else 0.0

    def e2e(self) -> dict:
        lat = [r["lat"] * 1000.0 for r in self.done]
        tl = H.tail(lat)
        return {
            "latency_p50_ms": H.median(lat),
            "latency_tail_ms": tl[0] if tl else max(lat),
            "throughput_per_s": self.changes_per_s(),
            "_tail_pct": tl[1] if tl else 100.0,
            "_n": len(lat),
        }

    def layers(self) -> dict:
        out = {}
        for n in STORES:
            st = self.stat[n]
            out[f"ingest.{n}.apply_ms"] = H.median(st["apply"]) * 1000.0
            out[f"ingest.{n}.apply_jobs"] = sum(st["apply_jobs"]) / max(1, len(st["apply_jobs"]))
            out[f"ingest.{n}.compact_ms"] = H.median(st["compact"]) * 1000.0
            out[f"ingest.{n}.pending_files"] = sum(st["pending"]) / max(1, len(st["pending"]))
            out[f"ingest.{n}.bytes_written"] = float(st["bytes"])
        for k in READS:
            out[f"ingest.read_{k}_ms"] = H.median(
                [r["lat"] * 1000.0 for r in self.done if r["read"]["kind"] == k]
            )
        return out

    def summary(self) -> dict:
        return {
            "batches": len(self.applied),
            "reads": len(self.done),
            "read_p50_ms": {
                k: round(H.median([r["lat"] * 1000.0 for r in self.done if r["read"]["kind"] == k]), 1)
                for k in READS
            },
            "compactions": {n: len(self.stat[n]["compact"]) for n in STORES},
            "changes_per_s": round(self.changes_per_s(), 2),
            "write_amp": round(self.write_amp(), 3),
            "straddled_reads": sum(1 for r in self.done if r["sid0"] != r["sid1"]),
        }
