"""Shared measurement pieces: percentiles, spans, Spark counters, memory,
the run manifest and the result line.

Nothing here imports pyspark, so the pure parts (percentiles, span
self time, coverage) are testable without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

#: a tail percentile must keep at least this many samples beyond it
TAIL_BEYOND = 10
#: an operation still running after this long has its Spark jobs
#: cancelled and counts as failed (timed out)
OP_TIMEOUT_S = 60.0


def tail_index(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Index (into the ascending sort) of the highest order statistic
    that has at least ``beyond`` samples above it, or None if the run
    has too few samples for that statistic to sit above the median."""
    if n < 2 * beyond + 1:
        return None
    return n - 1 - beyond


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """-> (value, percentile) of the highest percentile with at least
    ``beyond`` samples beyond it; None when there are too few samples."""
    i = tail_index(len(values), beyond)
    if i is None:
        return None
    ys = sorted(values)
    return ys[i], 100.0 * (i + 1) / len(ys)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def op_failure(rec: dict) -> str | None:
    """Why a finished operation failed before its answer is checked:
    it raised, or it ran past ``OP_TIMEOUT_S`` (None if neither)."""
    if rec.get("timed_out"):
        return f"timed out: jobs cancelled after {OP_TIMEOUT_S:g} s"
    if rec.get("error"):
        return rec["error"]
    if rec["lat"] > OP_TIMEOUT_S:
        return f"timed out: took {rec['lat']:.1f} s > {OP_TIMEOUT_S:g} s"
    return None


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str
    sid: int = 0
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its child spans cover (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
        )
        out[s.sid] = (s.end - s.start) - covered
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder.  Disabled, ``span()`` only times the
    call; enabled, it also records the span (and, with a Spark context,
    the jobs/stages/tasks the call ran under its own job group).

    With a Spark context, every ``count_spark`` span is one operation:
    it runs under its own job group, traced or not, and the watchdog
    (``watch()``) cancels the group once the operation has run for
    ``OP_TIMEOUT_S`` — the call then raises and the span reads
    ``timed_out``."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._next = 1
        self._ops = 0
        self._inflight: dict[str, float] = {}
        self._cancelled: set[str] = set()
        self._stop = threading.Event()
        self._watchdog: threading.Thread | None = None

    def watch(self, timeout: float = OP_TIMEOUT_S, poll: float = 1.0) -> None:
        """Start the timeout watchdog (stopped by ``close()``)."""

        def loop() -> None:
            while not self._stop.wait(poll):
                now = time.perf_counter()
                with self._lock:
                    late = [g for g, t0 in self._inflight.items()
                            if now - t0 > timeout and g not in self._cancelled]
                    self._cancelled.update(late)
                for g in late:
                    self.sc.cancelJobGroup(g)

        self._watchdog = threading.Thread(target=loop, daemon=True)
        self._watchdog.start()

    def close(self) -> None:
        self._stop.set()
        if self._watchdog is not None:
            self._watchdog.join()

    def _stack(self) -> list[int]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def span(self, name: str, request: str = "", count_spark: bool = False):
        return _SpanCtx(self, name, request, count_spark)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, request: str, count_spark: bool):
        self.t = tracer
        self.name = name
        self.request = request
        self.op = count_spark and tracer.sc is not None
        self.count = self.op and tracer.enabled
        self.elapsed = 0.0
        self.counts: dict = {}
        self.timed_out = False

    def __enter__(self):
        t = self.t
        if t.enabled:
            with t._lock:
                self.sid = t._next
                t._next += 1
            st = t._stack()
            self.parent = st[-1] if st else None
            st.append(self.sid)
        if self.op:
            with t._lock:
                t._ops += 1
                self.group = f"pb-op-{t._ops}"
            t.sc.setJobGroup(self.group, self.name, False)
        self.start = time.perf_counter()
        if self.op:
            with t._lock:
                t._inflight[self.group] = self.start
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.elapsed = end - self.start
        t = self.t
        if self.op:
            with t._lock:
                t._inflight.pop(self.group, None)
                self.timed_out = self.group in t._cancelled
            t.sc._jsc.clearJobGroup()
            if self.count:
                self.counts = spark_counts(t.sc, self.group)
        if t.enabled:
            t._stack().pop()
            sp = Span(self.name, self.start, end, self.parent, self.request, self.sid, self.counts)
            with t._lock:
                t.spans.append(sp)
        return False


def spark_counts(sc, group: str) -> dict:
    """Exact (jobs, stages, tasks) of one job group, from the status
    tracker.  Skipped stages (reused shuffle output) are not counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is not None and st.numCompletedTasks + st.numActiveTasks > 0:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def coverage(spans: list[Span], roots: set[str], lanes: int, wall: float) -> float:
    """Share of ``lanes`` x ``wall`` covered by root spans named in
    ``roots`` (each lane is one thread issuing operations)."""
    if wall <= 0 or lanes <= 0:
        return 0.0
    by_lane: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.name in roots and s.parent is None:
            # request ids are "<lane>:<n>", one lane per issuing thread
            by_lane.setdefault(s.request.split(":")[0], []).append((s.start, s.end))
    covered = sum(union_length(iv) for iv in by_lane.values())
    return min(1.0, covered / (lanes * wall))


def write_spans(path: str, spans: list[Span]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    st = self_times(spans)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({
                "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "request": s.request,
                "self_s": round(st[s.sid], 6), **s.counts,
            }) + "\n")


# -- process facts -------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (jiffies), [] if absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings — time this machine's cores were not ours."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tree_digest(root: str, subdirs: tuple[str, ...]) -> str:
    """Digest of the .py files under ``subdirs`` of ``root`` — identifies
    the program and benchmark source when the checkout has no git."""
    h = hashlib.sha256()
    for sub in subdirs:
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, sub))):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def manifest(spark, root: str, seed: int, corpus_digest: str, sf: float) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = spark.conf
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "corpus_sf": sf,
        "corpus_digest": corpus_digest,
        "seed": seed,
        "commit": git_commit(root),
        "source_digest": tree_digest(root, ("car_etl_spark", "perfbench")),
    }


def job_floor_ms(spark, reps: int = 5) -> float:
    """Median wall time of the smallest Spark job (``range(1).count()``)."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1).count()
        ts.append((time.perf_counter() - t0) * 1000.0)
    return median(ts)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    })


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
