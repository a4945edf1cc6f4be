"""Serve-path plan construction: literal-heavy Columns are ONE parsed
expression (functions/vectors.py, functions/literals.py), and the PQ
ADC kernel is a Catalyst expression (operators/pq.py).

- a plan build stays within a py4j round-trip budget;
- ``in_list`` is the same predicate as ``isin`` (rows and pushdown);
- the ADC expression matches the numpy table sum, and ``pq_topk``
  equals brute force on the fused AND the fallback branch;
- non-finite literals refuse; mixed-type IVF upserts read back.
"""

from __future__ import annotations

import functools
import math
import random
import re

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from car_etl_spark import api
from car_etl_spark.functions import vectors as V
from car_etl_spark.functions.literals import in_list
from car_etl_spark.operators import indexing as IX
from car_etl_spark.operators import pq as PQ
from tests.conftest import SF_ORACLE


# ---------------------------------------------------------------------------
# round-trip budget


#: py4j commands (memory-release commands excluded) measured when this
#: rule landed, for one plan build on the sf0.01 tenant stores; the
#: budget allows ~20% on top.  Before it: vector 546, pq 959, regex 1511.
RT_MEASURED = {"vector": 81, "pq": 344, "regex": 450}


@pytest.fixture(scope="module")
def sf001_tenant_stores(spark, tmp_path_factory):
    from car_etl_spark.tables import load_tables, parquet_rowcount

    root = tmp_path_factory.mktemp("serve_plans")
    t = load_tables(spark, SF_ORACLE, ("documents", "embeddings"))
    tenant = F.concat(F.lit("t"), F.pmod(F.col("__id"), F.lit(2)).cast("string"))
    docs = t["documents"].withColumn("__id", F.col("doc_id")).select(
        "doc_id", "lang", tenant.alias("tenant_id"), "text"
    )
    emb = t["embeddings"].withColumn("__id", F.col("vec_id")).select(
        "vec_id", "label", tenant.alias("tenant_id"), "embedding"
    )
    tri = IX.PostingStore(str(root / "trigram"), analyzer="trigram", tenant_col="tenant_id")
    tri.build(docs)
    ivf = IX.IvfStore(str(root / "ivf"), tenant_col="tenant_id")
    ivf.build(
        emb,
        IX.derive_num_centroids(parquet_rowcount(SF_ORACLE, "embeddings")),
        refine_iterations=2,
        filter_cols=("label",),
        pq_m=8,
    )
    q = [float(x) for x in emb.filter("vec_id = 3").first().embedding]
    return docs, tri, ivf, q


def _count_round_trips(spark, build) -> tuple[int, DataFrame]:
    import gc

    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    n = [0]

    def counting(command, *args, **kwargs):
        # "m\nd\n" releases a garbage-collected JVM reference: its count
        # depends on when Python's collector runs, not on the plan
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return orig(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        df = build()
    finally:
        client.send_command = orig
        gc.enable()
    return n[0], df


def test_serve_plan_round_trip_budget(spark, sf001_tenant_stores):
    docs, tri, ivf, q = sf001_tenant_stores
    builds = {
        "vector": lambda: api.tenant_vector_search(spark, ivf, q, "t1"),
        "pq": lambda: api.tenant_pq_search(spark, ivf, q, "t1"),
        "regex": lambda: api.tenant_regex_search(spark, tri, r"key\s+agg", docs, "t0"),
    }
    for mode, build in builds.items():
        build()  # first call pays one-time session work
        n, df = _count_round_trips(spark, build)
        assert df.count() > 0, mode
        budget = int(RT_MEASURED[mode] * 1.2)
        assert n <= budget, f"{mode}: {n} py4j round trips > budget {budget}"


# ---------------------------------------------------------------------------
# in_list == isin


def _scan_filters(df: DataFrame) -> tuple[str, str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    part = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    strip = lambda m: re.sub(r"#\d+", "", m.group(1)) if m else None  # noqa: E731
    return strip(part), strip(pushed)


@pytest.mark.parametrize("n_values", [3, 15])  # below / above OptimizeIn's InSet threshold
def test_in_list_matches_isin(spark, tmp_path, n_values):
    odd = ["it's", "back\\slash", "new\nline", "astral \U0001F600 \U00020000", "\\'", "plain"]
    rows = [(i % 20, f"s{i}" if i % 7 else odd[i % len(odd)], i) for i in range(200)]
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, "part int, s string, v long").write.partitionBy(
        "part"
    ).parquet(path)
    df = spark.read.parquet(path)
    ints = list(range(0, 2 * n_values, 2))
    strs = (odd + [f"s{i}" for i in range(1, 100)])[:n_values]
    for col, vals in (("part", ints), ("v", ints), ("s", strs)):
        new = df.filter(in_list(col, vals))
        old = df.filter(F.col(col).isin(vals))
        assert sorted(new.collect()) == sorted(old.collect()), col
        assert new.count() > 0, col
        assert _scan_filters(new) == _scan_filters(old), col
    # numpy ints render like Python ints; an empty list matches nothing
    assert df.filter(in_list("part", np.arange(3))).count() == df.filter(
        F.col("part").isin([0, 1, 2])
    ).count()
    assert df.filter(in_list("part", [])).count() == 0
    with pytest.raises(TypeError):
        in_list("v", [1.5])


# ---------------------------------------------------------------------------
# native PQ ADC


def test_adc_expression_matches_numpy(spark):
    rng = np.random.default_rng(5)
    for m, k in ((8, 256), (4, 3)):
        table = rng.normal(size=(m, k))
        codes = rng.integers(0, k, size=(300, m), dtype="uint8")
        df = spark.createDataFrame(
            [(i, bytes(c)) for i, c in enumerate(codes)], "i long, pq_code binary"
        )
        got = {
            r.i: r.adc
            for r in df.select("i", PQ.adc_score("pq_code", table).alias("adc")).collect()
        }
        want = table[np.arange(m)[None, :], codes].sum(axis=1)
        assert max(abs(got[i] - want[i]) for i in range(len(codes))) <= 1e-12


def test_non_finite_literals_refuse():
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            V.vector_sql([0.5, bad])
        with pytest.raises(ValueError):
            V.literal_vector([bad])
        table = np.zeros((2, 4))
        table[1, 2] = bad
        with pytest.raises(ValueError):
            PQ.adc_score("pq_code", table)
    with pytest.raises(ValueError):
        PQ.adc_score("pq_code", PQ.adc_table([float("nan"), 1.0], np.ones((2, 2, 1))))


def _clustered(spark, n_per=40, clusters=4, dim=8):
    rng = random.Random(7)
    rows = []
    for c in range(clusters):
        center = [0.0] * dim
        center[2 * c] = 1.0
        center[2 * c + 1] = 0.3
        for i in range(n_per):
            vec = [x + rng.gauss(0.0, 0.02) for x in center]
            nrm = math.sqrt(sum(v * v for v in vec))
            rows.append((c * n_per + i, c, [v / nrm for v in vec]))
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")


def _brute(emb, qvec, k):
    return [
        tuple(r)
        for r in emb.select(
            "vec_id", "label",
            F.round(V.cosine_similarity("embedding", V.vector_sql(qvec)), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def _serve_counting_fallback(spark, monkeypatch, store, qvec, k):
    """pq_topk's rows, and whether it took the fallback branch: only the
    fallback (shortlist ceiling could not certify) counts the probed
    rows with ``DataFrame.count``."""
    calls = []
    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    orig = cls.count
    monkeypatch.setattr(cls, "count", lambda self: calls.append(1) or orig(self))
    try:
        rows = [tuple(r) for r in store.pq_topk(spark, qvec, k=k).collect()]
    finally:
        monkeypatch.setattr(cls, "count", orig)
    return rows, bool(calls)


def test_pq_topk_fused_and_fallback_equal_brute_force(spark, tmp_path, monkeypatch):
    emb = _clustered(spark)
    qvec = list(emb.filter(F.col("vec_id") == 45).select("embedding").first()[0])
    k = 5

    tight = IX.IvfStore(str(tmp_path / "tight"))
    tight.build(emb, num_centroids=4, refine_iterations=2, pq_m=4)
    rows, fell_back = _serve_counting_fallback(spark, monkeypatch, tight, qvec, k)
    assert not fell_back, "tight codebooks should certify the fused shortlist"
    assert rows == _brute(emb, qvec, k)

    # loose codebooks: one codeword per subspace, so every row gets the
    # same ADC score and the shortlist's ceiling (min adc + max err) can
    # never clear the k-th lower bound — the proof boundary where
    # serving must fall back and stay exact
    monkeypatch.setattr(PQ, "train_codebooks", functools.partial(PQ.train_codebooks, k=1))
    loose = IX.IvfStore(str(tmp_path / "loose"))
    loose.build(emb, num_centroids=4, refine_iterations=2, pq_m=4)
    assert loose.meta()["pq"]["k"] == 1
    rows, fell_back = _serve_counting_fallback(spark, monkeypatch, loose, qvec, k)
    assert fell_back, "loose codebooks should defeat the fused certificate"
    assert rows == _brute(emb, qvec, k)


# ---------------------------------------------------------------------------
# IVF upserts of another element type


def test_ivf_double_upserts_into_float_store_read_back(spark, tmp_path):
    emb = _clustered(spark).withColumn("embedding", F.col("embedding").cast("array<float>"))
    store = IX.IvfStore(str(tmp_path / "f32"))
    store.build(emb, num_centroids=4, refine_iterations=2, pq_m=4)
    assert store._stored_schema(store.meta())["embedding"].dataType.simpleString() == "array<float>"
    ups = spark.createDataFrame(
        [(1000, 1, [0.0, 0.0, 1.0, 0.3, 0.01, 0.0, 0.0, 0.0]), (3, 0, [1.0] + [0.0] * 7)],
        "vec_id long, label int, embedding array<double>",
    )
    assert store.apply_batch(spark, ups, [7], batch=1)
    live = (
        emb.filter(~F.col("vec_id").isin([3, 7]))
        .unionByName(ups.withColumn("embedding", F.col("embedding").cast("array<float>")))
    )
    assert store.read_assignments(spark).count() == live.count()
    qvec = [0.0, 0.0, 1.0, 0.3, 0.0, 0.0, 0.0, 0.0]
    got = [tuple(r) for r in store.probe_topk(spark, qvec, k=10).collect()]
    assert got == _brute(live, qvec, 10)
    assert [tuple(r) for r in store.pq_topk(spark, qvec, k=10).collect()] == got
