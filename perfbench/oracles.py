"""Exact answers computed without the engine's index stores.

Each function takes the plain corpus (Python dicts / NumPy arrays) and
returns the rows the matching serving call must produce.  The text
oracles re-derive scores from raw text: lowercase, strip leading
whitespace, split on whitespace, weight the first header tokens, stem
with the analyzer's published rules (``stem_py``).  Vector oracles are
brute-force cosine scans.  Rollup oracles group the raw events.

``check_*`` compare an engine result to an oracle and return None when
it matches or a one-line reason when it does not.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

HEADER_TOKENS = 5
HEADER_WEIGHT = 2.0
BODY_WEIGHT = 1.0
BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60
#: vector scores are rounded to 6 places by the engine; two summation
#: orders can land on either side of a rounding edge
COS_TOL = 2e-6
#: bm25 scores are rounded to 2 places after a float sum
BM25_TOL = 0.0101


def _stemmer():
    from car_etl_spark.functions.text import stem_py

    return stem_py


def clean(text: str) -> str:
    return re.sub(r"^\s+", "", text.lower())


class TextIndex:
    """Per-document term statistics for one tenant's documents."""

    def __init__(self, docs: dict[int, tuple[str, str]]):
        stem = _stemmer()
        self.lang = {}
        self.text = {}
        self.tfw: dict[int, dict[str, float]] = {}
        self.pos: dict[int, dict[str, list[int]]] = {}
        self.dl: dict[int, float] = {}
        cache: dict[str, str] = {}
        for doc_id, (lang, text) in docs.items():
            t = clean(text)
            self.lang[doc_id] = lang
            self.text[doc_id] = t
            tfw: dict[str, float] = {}
            pos: dict[str, list[int]] = {}
            dl = 0.0
            for p, raw in enumerate(re.split(r"\s+", t)):
                if not raw:
                    continue
                s = cache.get(raw)
                if s is None:
                    s = cache[raw] = stem(raw)
                w = HEADER_WEIGHT if p < HEADER_TOKENS else BODY_WEIGHT
                tfw[s] = tfw.get(s, 0.0) + w
                pos.setdefault(s, []).append(p)
                dl += w
            self.tfw[doc_id], self.pos[doc_id], self.dl[doc_id] = tfw, pos, dl

    def keyword(self, stems: list[str], limit: int) -> list[tuple]:
        terms = sorted(set(stems))
        rows = []
        for d, tfw in self.tfw.items():
            hit = [t for t in terms if t in tfw]
            if hit:
                rows.append((d, round(sum(tfw[t] for t in hit), 2), len(hit)))
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:limit]

    def bm25(self, stems: list[str]) -> list[tuple]:
        """Full ranking (not cut to the limit: the checker needs the
        scores around the cut to judge near-ties)."""
        terms = sorted(set(stems))
        n = float(len(self.tfw))
        avgdl = sum(self.dl.values()) / n
        df = {t: sum(1 for tfw in self.tfw.values() if t in tfw) for t in terms}
        rows = []
        for d, tfw in self.tfw.items():
            hit = [t for t in terms if t in tfw]
            if not hit:
                continue
            s = 0.0
            for t in hit:
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                f = tfw[t]
                s += idf * (f * (BM25_K1 + 1.0)) / (
                    f + BM25_K1 * (1.0 - BM25_B + BM25_B * self.dl[d] / avgdl)
                )
            rows.append((d, math.floor(s * 100 + 0.5) / 100, len(hit)))
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows

    def phrase(self, stems: list[str], limit: int) -> list[tuple]:
        rows = []
        for d, pos in self.pos.items():
            lists = [pos.get(s) for s in stems]
            if any(x is None for x in lists):
                continue
            later = [set(x) for x in lists[1:]]
            c = sum(
                1 for p in lists[0] if all(p + i + 1 in s for i, s in enumerate(later))
            )
            if c:
                rows.append((d, float(c), len(stems)))
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:limit]

    def substring(self, pattern: str) -> list[tuple]:
        pat = pattern.lower()
        m = len(pat)
        rows = []
        for d in sorted(self.text):
            t = self.text[d]
            c = sum(1 for j in range(len(t) - m + 1) if t.startswith(pat, j))
            if c:
                rows.append((d, self.lang[d], c))
        return rows

    def regex(self, pattern: str) -> list[tuple]:
        rx = re.compile(pattern, re.IGNORECASE)
        rows = []
        for d in sorted(self.text):
            c = len(rx.findall(self.text[d]))
            if c:
                rows.append((d, self.lang[d], c))
        return rows


class VectorIndex:
    """Brute-force cosine over one tenant's vectors."""

    def __init__(self, vecs: dict[int, tuple[int, np.ndarray]]):
        ids = sorted(vecs)
        self.ids = np.array(ids, dtype=np.int64)
        self.labels = np.array([vecs[i][0] for i in ids], dtype=np.int64)
        m = np.array([vecs[i][1] for i in ids], dtype=np.float64).reshape(len(ids), -1)
        self.unit = m / np.linalg.norm(m, axis=1, keepdims=True)

    def topk(self, q, labels: list[int] | None = None) -> list[tuple]:
        """Full ranking as (id, cosine rounded to 6 places)."""
        qv = np.asarray(q, dtype=np.float64)
        sims = self.unit @ (qv / np.linalg.norm(qv))
        keep = np.ones(len(self.ids), bool) if labels is None else np.isin(self.labels, labels)
        rows = [(int(i), round(float(s), 6)) for i, s in zip(self.ids[keep], sims[keep])]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows


def hybrid(kw_full: list[tuple], vec_full: list[tuple], limit: int) -> list[tuple]:
    """RRF fusion (k=60) of the two legs, each over-fetched 2x."""
    fetch = 2 * limit
    kr = {r[0]: i + 1 for i, r in enumerate(kw_full[:fetch])}
    vr = {r[0]: i + 1 for i, r in enumerate(vec_full[:fetch])}
    rows = []
    for d in set(kr) | set(vr):
        s = (1.0 / (RRF_K + kr[d]) if d in kr else 0.0) + (
            1.0 / (RRF_K + vr[d]) if d in vr else 0.0
        )
        rows.append((d, round(s, 8), kr.get(d), vr.get(d)))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:limit]


_Q6 = Decimal("0.000001")


def rollup(events, grain: str, start: dt.date | None, end: dt.date | None) -> list[tuple]:
    """(bucket_start, event_type, n, value_sum, value_avg, value_min,
    value_max) sorted by (bucket_start, event_type); sums are exact
    decimals at 6 places, like the store's partials."""
    acc: dict[tuple, list] = {}
    for ts, etype, value in events:
        day = ts.date()
        if (start is not None and day < start) or (end is not None and day > end):
            continue
        b = (
            dt.datetime(ts.year, ts.month, ts.day)
            if grain == "day"
            else dt.datetime(ts.year, ts.month, ts.day, ts.hour)
        )
        a = acc.get((b, etype))
        v = Decimal(value).quantize(_Q6, rounding=ROUND_HALF_UP)
        if a is None:
            acc[(b, etype)] = [1, v, value, value]
        else:
            a[0] += 1
            a[1] += v
            a[2] = min(a[2], value)
            a[3] = max(a[3], value)
    rows = []
    for (b, e), (n, s, lo, hi) in sorted(acc.items()):
        vs = float(s)
        rows.append((b, e, n, vs, vs / n, lo, hi))
    return rows


# -- checkers ------------------------------------------------------------------


def check_exact(got: list[tuple], want: list[tuple]) -> str | None:
    if got == want:
        return None
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    i = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return f"row {i}: got {got[i]!r}, expected {want[i]!r}"


def check_ranked(got: list[tuple], full: list[tuple], limit: int, tol: float) -> str | None:
    """``got`` rows are (id, score, ...); ``full`` is the oracle's whole
    ranking.  Scores must agree within ``tol``; the id set must equal
    the oracle's top ``limit`` except for ids whose oracle score is
    within ``tol`` of the cut (a rounding-edge tie may fall either way)."""
    want_n = min(limit, len(full))
    if len(got) != want_n:
        return f"{len(got)} rows, expected {want_n}"
    exp = {r[0]: r for r in full}
    cut = full[want_n - 1][1] if want_n else None
    for i, r in enumerate(got):
        e = exp.get(r[0])
        if e is None:
            return f"row {i}: id {r[0]} is not a match"
        if abs(r[1] - e[1]) > tol or tuple(r[2:]) != tuple(e[2:]):
            return f"row {i}: got {r!r}, expected {e!r}"
        if cut is not None and e[1] < cut - tol:
            return f"row {i}: id {r[0]} (score {e[1]}) is below the cut {cut}"
        if i and r[1] > got[i - 1][1] + tol:
            return f"row {i}: not in score order"
    ids = {r[0] for r in got}
    for r in full[:want_n]:
        if r[0] not in ids and r[1] > cut + tol:
            return f"id {r[0]} (score {r[1]}) missing"
    return None


def check_rows_close(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> str | None:
    """Row lists equal, floats within ``rel`` relative error."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if len(a) != len(b) or any(
            not (
                x == y
                or (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and abs(x - y) <= rel * max(1.0, abs(y))
                )
            )
            for x, y in zip(a, b)
        ):
            return f"row {i}: got {a!r}, expected {b!r}"
    return None


def check_ask(rows: list[tuple], limit: int) -> str | None:
    """The RAG answer: one row whose citations all resolve to context
    documents (``fully_cited``), with a citation count that matches the
    markers in the answer text and a positive retrieval confidence."""
    if len(rows) != 1:
        return f"{len(rows)} rows, expected 1"
    answer, n_cited, fully_cited, confidence = rows[0]
    markers = re.findall(r"\[DOC:(\d+):PAGE:\d+\]", answer or "")
    if not fully_cited:
        return "answer is not fully cited"
    if n_cited != len(markers) or not 1 <= n_cited <= limit:
        return f"citation_count {n_cited} vs {len(markers)} markers (limit {limit})"
    if not confidence or confidence <= 0:
        return f"confidence {confidence}"
    return None
