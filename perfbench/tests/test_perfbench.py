"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import harness as H  # noqa: E402
import ingest  # noqa: E402
import oracles as O  # noqa: E402
import serve  # noqa: E402
from corpus import VOCAB  # noqa: E402


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.default_rng(7)
    docs = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 30)) for _ in range(60)]
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    return docs, vecs


# -- streams ---------------------------------------------------------------------


def serve_stream_bytes(seed, docs, vecs, n=200):
    pool = serve.build_pool(seed, docs, vecs)
    return json.dumps([pool[m][i] for m, i in serve.build_stream(seed, pool, n)]).encode()


def change_stream_bytes(seed, doc_ids, vec_ids, dim, n=3):
    batches = ingest.make_batches(seed, doc_ids, vec_ids, dim, n)
    return json.dumps([ingest.records(ch) for ch in batches]).encode()


def test_serve_stream_is_a_function_of_the_seed(corpus):
    docs, vecs = corpus
    a = serve_stream_bytes(1, docs, vecs)
    assert a == serve_stream_bytes(1, docs, vecs)
    assert a != serve_stream_bytes(2, docs, vecs)


def test_serve_stream_keeps_the_exact_mix_per_block(corpus):
    docs, vecs = corpus
    pool = serve.build_pool(3, docs, vecs)
    stream = serve.build_stream(3, pool, 4 * serve.BLOCK)
    want = {m: k for m, k, _ in serve.MIX}
    for b in range(4):
        block = [m for m, _ in stream[b * serve.BLOCK : (b + 1) * serve.BLOCK]]
        assert {m: block.count(m) for m in want} == want
    # Zipf popularity: some requests repeat
    assert len(set(stream)) < len(stream)


def test_ingest_change_stream_is_a_function_of_the_seed(corpus):
    docs, vecs = corpus
    ids = list(range(len(docs)))
    vids = list(range(len(vecs)))
    a = change_stream_bytes(1, ids, vids, 8)
    assert a == change_stream_bytes(1, ids, vids, 8)
    assert a != change_stream_bytes(2, ids, vids, 8)
    r1 = ingest.make_reads(1, docs, vecs, 30)
    assert r1 == ingest.make_reads(1, docs, vecs, 30)
    assert r1 != ingest.make_reads(2, docs, vecs, 30)


def test_ingest_batches_have_the_soak_shape(corpus):
    _docs, vecs = corpus
    ids = list(range(500))
    for ch in ingest.make_batches(3, ids, ids, vecs.shape[1], 4):
        assert len(ch["doc_up"]) == ingest.DOC_EDITS + ingest.DOC_NEW == 26
        assert len(ch["doc_del"]) == ingest.DOC_DELETES == 5
        assert len(ch["vec_up"]) == ingest.VEC_UPDATES + ingest.VEC_NEW == 20
        assert len(ch["vec_del"]) == ingest.VEC_DELETES == 4
        assert len(ch["events"]) == ingest.EVENTS == 200
        assert not set(ch["doc_up"]) & set(ch["doc_del"])
        assert not set(ch["vec_up"]) & set(ch["vec_del"])


# -- percentiles -----------------------------------------------------------------


@pytest.mark.parametrize("n", [21, 22, 50, 100, 137, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    values = [float(v) for v in np.random.default_rng(n).permutation(n)]
    value, pct = H.tail(values)
    beyond = sum(1 for v in values if v > value)
    assert beyond >= H.TAIL_BEYOND
    # and it is the highest such percentile: one rank higher keeps fewer
    assert sum(1 for v in values if v > sorted(values)[H.tail_index(n) + 1]) < H.TAIL_BEYOND
    assert value >= H.median(values)
    assert pct == pytest.approx(100.0 * (n - H.TAIL_BEYOND) / n)


def test_tail_refuses_too_few_samples():
    assert H.tail([1.0] * 20) is None


# -- spans -----------------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    spans = [
        H.Span("request", 0.0, 10.0, None, "0:0", 1),
        H.Span("plan", 1.0, 4.0, 1, "0:0", 2),
        H.Span("exec", 3.0, 7.0, 1, "0:0", 3),  # overlaps plan by 1 s
        H.Span("job", 5.0, 6.0, 3, "0:0", 4),
    ]
    st = H.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0)  # children cover [1, 7]
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_coverage_counts_each_lane_once():
    spans = [
        H.Span("request", 0.0, 4.0, None, "0:0", 1),
        H.Span("request", 5.0, 10.0, None, "0:1", 2),
        H.Span("request", 0.0, 10.0, None, "1:0", 3),
        H.Span("plan", 0.0, 4.0, 1, "0:0", 4),
    ]
    assert H.coverage(spans, {"request"}, lanes=2, wall=10.0) == pytest.approx(0.95)


def test_tracer_records_nesting_only_when_enabled():
    on = H.Tracer(True)
    with on.span("request", "0:0"):
        with on.span("plan", "0:0"):
            pass
    by = {s.name: s for s in on.spans}
    assert by["plan"].parent == by["request"].sid and by["request"].parent is None
    off = H.Tracer(False)
    with off.span("request") as s:
        pass
    assert off.spans == [] and s.elapsed >= 0.0


class _FakeSc:
    """The SparkContext calls the tracer makes, recorded."""

    def __init__(self):
        self.calls = []
        self._jsc = self

    def setJobGroup(self, group, desc, interrupt):
        self.calls.append(("set", group))

    def clearJobGroup(self):
        self.calls.append(("clear", None))

    def cancelJobGroup(self, group):
        self.calls.append(("cancel", group))


def test_watchdog_cancels_only_the_late_operation():
    import time

    sc = _FakeSc()
    tr = H.Tracer(False, sc)
    tr.watch(timeout=0.05, poll=0.01)
    with tr.span("read", "1:0", count_spark=True) as quick:
        pass
    with tr.span("read", "1:1", count_spark=True) as late:
        time.sleep(0.3)
    tr.close()
    assert not quick.timed_out and late.timed_out
    assert [c for c in sc.calls if c[0] == "cancel"] == [("cancel", late.group)]


def test_a_failed_operation_counts_once():
    late = H.OP_TIMEOUT_S + 1.0
    assert H.op_failure({"error": None, "lat": 0.5}) is None
    assert H.op_failure({"error": "ValueError: x", "lat": 0.5}) == "ValueError: x"
    # raised and slow, or cancelled and raised: one reason, one failure
    assert H.op_failure({"error": "ValueError: x", "lat": late}) == "ValueError: x"
    assert H.op_failure({"error": "Py4JJavaError", "lat": late, "timed_out": True}).startswith("timed out")
    assert H.op_failure({"error": None, "lat": late}).startswith("timed out")


# -- answer checks ---------------------------------------------------------------


def test_checker_flags_a_wrong_keyword_result():
    idx = O.TextIndex({1: ("en", "spark window spark"), 2: ("en", "window merge"), 3: ("en", "scan")})
    want = idx.keyword(["spark"], 20)
    assert want == [(1, 4.0, 1)]  # both tokens in the header window
    assert O.check_exact(want, want) is None
    assert O.check_exact([(1, 3.0, 1)], want) is not None
    assert O.check_exact([(1, 4.0, 1), (2, 1.0, 1)], want) is not None


def test_checker_flags_a_wrong_ranking():
    full = [(5, 0.9), (3, 0.8), (9, 0.7), (1, 0.1)]
    assert O.check_ranked([(5, 0.9), (3, 0.8)], full, 2, 1e-6) is None
    assert O.check_ranked([(5, 0.9), (9, 0.7)], full, 2, 1e-6) is not None  # skipped id 3
    assert O.check_ranked([(3, 0.8), (5, 0.9)], full, 2, 1e-6) is not None  # out of order
    assert O.check_ranked([(5, 0.9), (3, 0.81)], full, 2, 1e-6) is not None  # wrong score
    # a tie within tolerance at the cut may fall either way
    tie = [(5, 0.9), (3, 0.8), (9, 0.8)]
    assert O.check_ranked([(5, 0.9), (9, 0.8)], tie, 2, 1e-6) is None


def test_vector_oracle_is_exact_cosine():
    v = {1: (0, np.array([1.0, 0.0])), 2: (1, np.array([0.6, 0.8])), 3: (1, np.array([0.0, 1.0]))}
    idx = O.VectorIndex(v)
    assert idx.topk([1.0, 0.0]) == [(1, 1.0), (2, 0.6), (3, 0.0)]
    assert idx.topk([1.0, 0.0], labels=[1]) == [(2, 0.6), (3, 0.0)]


def test_rollup_oracle_and_checker():
    ev = [
        (dt.datetime(2024, 1, 1, 10, 5), "click", 1.25),
        (dt.datetime(2024, 1, 1, 11, 0), "click", 2.5),
        (dt.datetime(2024, 1, 2, 0, 0), "view", 4.0),
    ]
    day = O.rollup(ev, "day", dt.date(2024, 1, 1), dt.date(2024, 1, 1))
    assert day == [(dt.datetime(2024, 1, 1), "click", 2, 3.75, 1.875, 1.25, 2.5)]
    assert O.check_rows_close(day, day) is None
    wrong = [day[0][:2] + (3,) + day[0][3:]]
    assert O.check_rows_close(wrong, day) is not None


def test_ask_checker_requires_full_citation():
    ok = [("see [DOC:1:PAGE:1] [DOC:2:PAGE:1]", 2, True, 0.5)]
    assert O.check_ask(ok, 20) is None
    assert O.check_ask([("see [DOC:1:PAGE:1]", 2, True, 0.5)], 20) is not None
    assert O.check_ask([("see [DOC:1:PAGE:1]", 1, False, 0.5)], 20) is not None


def test_steal_share_is_the_steal_column_over_all_time():
    before = [100, 0, 50, 800, 0, 0, 0, 10]
    after = [130, 0, 60, 850, 0, 0, 0, 20]  # +30 user, +10 system, +50 idle, +10 steal
    assert H.steal_share(before, after) == pytest.approx(10 / 100)
    assert H.steal_share([], after) == 0.0
