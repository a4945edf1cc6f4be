#!/usr/bin/env python3
"""Run one benchmark workload against the ``car_etl_spark`` public API.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: ``serve``, ``ingest`` (see perfbench/README.md).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans are
written under ``perfbench/.work/traces/``.  Every run also writes its
full result, with the run manifest, under ``perfbench/.work/results/``.

Exit code 0 means the run completed (its ``correct`` field says whether
every operation matched its exact answer); any other code means the run
could not be made, and no result line is printed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
#: corpus scale factor (lineitem ~60k rows, 500 documents, 500 vectors)
SF = 0.01
WORKLOADS = {"serve": "serve:Serve", "ingest": "ingest:Ingest"}
E2E_UNITS = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}
SETUP_PHASES = ("session", "stores", "warmup", "answers")


def layer_names() -> list[str]:
    """The per-layer metrics of every workload (a traced run reports
    them all; the ones of the other workload read 0)."""
    import ingest
    import serve

    names = [f"serve.{m}.{k}" for m in serve.MODES for k in ("plan_ms", "exec_ms", "jobs", "tasks")]
    names.append("spark.job_floor_ms")
    names += [
        f"ingest.{s}.{k}"
        for s in ingest.STORES
        for k in ("apply_ms", "apply_jobs", "compact_ms", "pending_files", "bytes_written")
    ]
    names += [f"ingest.read_{k}_ms" for k in ingest.READS]
    names += [f"setup.{p}_s" for p in SETUP_PHASES]
    names += ["mem.peak_rss_mb", "host.cpu_steal_share", "trace.unattributed_share"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def contain_environment() -> None:
    """Keep every file the run writes inside the benchmark's work dir,
    and size Spark to this machine (``local[$(nproc)]``)."""
    import harness as H

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(H.nproc()))
    os.environ["CAR_ETL_INDEX_DIR"] = os.path.join(WORK, "indexes")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # no hsperfdata: HotSpot writes it to /tmp whatever java.io.tmpdir says
    jopt = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + jopt).strip()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Ctx:
    def __init__(self, seed, seconds, trace):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = WORK


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, BENCH)
    sys.path.insert(0, ROOT)
    contain_environment()
    import corpus as C
    import harness as H
    import stores as S

    try:
        import car_etl_spark  # noqa: F401
        from car_etl_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the car_etl_spark package is not importable: {e}", file=sys.stderr)
        return 2

    ctx = Ctx(a.seed, a.seconds, bool(a.trace))
    setup: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    setup["session"] = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        ctx.tracer = H.Tracer(ctx.trace, sc)
        floors = [H.job_floor_ms(spark)] if ctx.trace else []

        # one-time builds (corpus, base stores): cached in the work dir
        # across runs, so reported apart from set-up
        t0 = time.perf_counter()
        ctx.sf_dir, digest = C.ensure_corpus(WORK, SF)
        key = S.stores_key(digest, H.tree_digest(ROOT, ("car_etl_spark",)))
        ctx.stores_root = S.ensure_stores(spark, ctx.sf_dir, WORK, key)
        build_s = time.perf_counter() - t0
        ctx.corpus = C.CorpusView(ctx.sf_dir)

        mod, cls = WORKLOADS[a.workload].split(":")
        wl = getattr(importlib.import_module(mod), cls)(ctx)
        t0 = time.perf_counter()
        if hasattr(wl, "stores"):
            wl.stores()
        setup["stores"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(spark)
        wl.warmup()
        setup["warmup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.answers()
        setup["answers"] = time.perf_counter() - t0

        H.log(f"{a.workload}: measuring for {a.seconds:g} s")
        cpu0 = H.cpu_times()
        ctx.tracer.watch()
        try:
            wl.measure(a.seconds)
        finally:
            ctx.tracer.close()
        steal = H.steal_share(cpu0, H.cpu_times())
        # one entry per failed operation: raised, timed out or wrong
        problems = wl.verify()
        if ctx.trace:
            floors.append(H.job_floor_ms(spark))
        attempted = wl.attempted() if hasattr(wl, "attempted") else len(wl.done)
        failed = len(problems)
        e2e = wl.e2e()
        jvm_pid = sc._jvm.ProcessHandle.current().pid()
        e2e["setup_s"] = sum(setup.values())
        peak_rss_mb = H.vm_hwm_mb(jvm_pid) + H.vm_hwm_mb()
        man = H.manifest(spark, ROOT, a.seed, digest, SF)
        summary = wl.summary()
    except BaseException:
        stop_spark(spark)
        raise
    stop_spark(spark)

    result = {
        "workload": a.workload,
        "trace": ctx.trace,
        "manifest": man,
        "build_s": round(build_s, 3),
        "setup": {k: round(v, 4) for k, v in setup.items()},
        "e2e": {k: v for k, v in e2e.items() if not k.startswith("_")},
        "peak_rss_mb": round(peak_rss_mb, 1),
        "cpu_steal_share": round(steal, 4),
        "tail_percentile": round(e2e["_tail_pct"], 1),
        "samples": e2e["_n"],
        "summary": summary,
        "attempted": attempted,
        "failed": failed,
        "problems": problems[:20],
    }
    if ctx.trace:
        layers = {n: 0.0 for n in layer_names()}
        layers.update(wl.layers())
        layers["mem.peak_rss_mb"] = peak_rss_mb
        layers["host.cpu_steal_share"] = steal
        layers["spark.job_floor_ms"] = H.median(floors)
        for p in SETUP_PHASES:
            layers[f"setup.{p}_s"] = setup[p]
        cov = H.coverage(ctx.tracer.spans, set(wl.root_spans), wl.lanes, wl.wall)
        layers["trace.unattributed_share"] = 1.0 - cov
        result["layers"] = layers
        span_file = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        H.write_spans(span_file, ctx.tracer.spans)
        result["spans"] = {"file": os.path.relpath(span_file, ROOT), "count": len(ctx.tracer.spans)}
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)

    report(result, res_dir)
    if ctx.trace:
        metrics = {n: (result["layers"][n], layer_unit(n)) for n in layer_names()}
        extra = sorted(set(result["layers"]) - set(metrics))
        for n in extra:
            print(f"# {n:<44} {result['layers'][n]:12.4f} {layer_unit(n)}")
    else:
        metrics = {n: (e2e[n], u) for n, u in E2E_UNITS.items()}
    print(H.result_line(failed == 0, attempted, failed, metrics))
    return 0


def report(result: dict, res_dir: str) -> None:
    """Human-readable lines (all but the last stdout line)."""
    w = result["workload"]
    print(f"# workload {w}  trace={int(result['trace'])}  manifest {json.dumps(result['manifest'])}")
    print(f"# build_s {result['build_s']}  setup {json.dumps(result['setup'])}")
    for n, v in result["e2e"].items():
        print(f"# {n:<18} {v:12.4f} {E2E_UNITS[n]}")
    print(f"# tail = p{result['tail_percentile']} of {result['samples']} samples;"
          f" peak RSS (JVM + Python VmHWM) {result['peak_rss_mb']} MB;"
          f" CPU steal during the timed phase {result['cpu_steal_share']:.2%}")
    att, fail = result["attempted"], result["failed"]
    print(f"# fail_rate {fail / att if att else 0.0:.4f} ({fail} failed of {att} attempted)")
    print(f"# {w} {json.dumps(result['summary'])}")
    for p in result["problems"]:
        print(f"# PROGRAM DEFECT: {p}")
    if result["trace"]:
        print(f"# unattributed share of measured wall time: {result['layers']['trace.unattributed_share']:.4f}")
        base = os.path.join(res_dir, f"{w}-seed{result['manifest']['seed']}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)["e2e"]
            over = {k: round(v - plain[k], 4) for k, v in result["e2e"].items() if k in plain}
            print(f"# tracing overhead (traced - untraced, same seed): {json.dumps(over)}")


if __name__ == "__main__":
    sys.exit(main())
