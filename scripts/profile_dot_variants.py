"""Per-pair dot-product shape candidates (r12 "Not yet optimized" #1).

``functions/vectors.dot`` is a ``zip_with`` + ``aggregate`` HOF chain —
higher-order functions are evaluated by the interpreted expression
path, not whole-stage codegen, so every candidate pair of the
embedding-dedup self-join pays an interpreted 64-step fold.  When the
dimension is statically known, the same left-to-right sum unrolls into
``get(a,0)*get(b,0) + get(a,1)*get(b,1) + ...`` — plain codegen
arithmetic with IDENTICAL associativity (Python ``+`` chains left, the
aggregate folds left), so values are bit-identical and every DuckDB
twin stays green.

Variants over 3M synthetic 64-dim pairs (checkpointed input, noop sink,
interleaved):

- hof:       shipped zip_with + aggregate fold
- unrolled:  static-dim get()*get() sum

Parity asserted exactly (collect + ==) on 10k pairs before timing.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from car_etl_spark.functions import vectors as V
from car_etl_spark.session import get_spark

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 5
DIM = 64
N = 3_000_000

spark = get_spark("profile-dot")
spark.sparkContext.setLogLevel("ERROR")


def unrolled_dot(a, b, dim):
    terms = [
        F.get(a, j).cast("double") * F.get(b, j).cast("double") for j in range(dim)
    ]
    return reduce(lambda x, y: x + y, terms, F.lit(0.0))


def pairs(n):
    return spark.range(n).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: ((F.col("id") * 31 + i * 7) % 997).cast("float") / 997.0,
        ).alias("a"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: ((F.col("id") * 17 + i * 11) % 991).cast("float") / 991.0,
        ).alias("b"),
    )


# ---- exact parity gate on 10k pairs ---------------------------------
small = pairs(10_000).localCheckpoint(eager=True)
got = small.select(
    V.dot("a", "b").alias("h"),
    unrolled_dot(F.col("a"), F.col("b"), DIM).alias("u"),
).collect()
bad = [r for r in got if r["h"] != r["u"]]
assert not bad, f"{len(bad)} rows differ, first: {bad[:1]}"
print("10k-pair exact parity: OK")

base = pairs(N).localCheckpoint(eager=True)
VARIANTS = {
    "hof": lambda: base.select(V.dot("a", "b").alias("d")),
    "unrolled": lambda: base.select(
        unrolled_dot(F.col("a"), F.col("b"), DIM).alias("d")
    ),
}

times: dict[str, list[float]] = {k: [] for k in VARIANTS}
for r in range(RUNS + 1):  # pass 0 = warmup
    for name, fn in VARIANTS.items():
        spark.sparkContext.setJobDescription(f"profile_dot:{name}:pass{r}")
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        if r > 0:
            times[name].append(dt)

for name, ts in times.items():
    print(f"{name:10s} median {statistics.median(ts):.3f}s  runs {[round(t, 3) for t in ts]}")
spark.stop()
