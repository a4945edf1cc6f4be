"""Vector math over ``array<float>`` embedding columns.

Exact-parity replacement for the reference's pgvector cosine operator
(``1 - (embedding <=> q)``, reference
``supabase/migrations/042_match_function.sql:37-44``): dot products and
norms as higher-order-function expressions that run inside codegen —
no UDF, no Python round-trip.  Elements are cast to double *before*
multiplication so accumulation order and precision are deterministic and
engine-portable (the DuckDB oracle computes the same left-to-right sum).

Serve-path rule: a Column is built as ONE parsed SQL expression
(``F.expr``), never assembled from per-element ``F.lit`` calls or Python
lambdas.  Each ``F.lit`` and each lambda-variable node is its own py4j
round trip, so a lambda-built cosine or a literal vector of ``dim``
``F.lit`` elements costs hundreds of round trips per plan; the parsed
form is one, and Catalyst builds the identical tree from it.  The
operands of :func:`dot`, :func:`norm` and :func:`cosine_similarity` are
therefore SQL text: a column name (``"embedding"``, ``"a.embedding"``)
or an expression such as :func:`vector_sql`'s query literal.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """SQL text of :func:`cosine_similarity` — NULL when either norm is
    zero (the ``CASE`` has no ``ELSE``)."""
    denom = f"({_norm_sql(a)} * {_norm_sql(b)})"
    return f"CASE WHEN {denom} > 0 THEN {_dot_sql(a, b)} / {denom} END"


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


def cosine_similarity(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def vector_sql(values) -> str:
    """A list of doubles as ONE SQL expression:
    ``CAST(split('<repr>,<repr>,...', ',') AS ARRAY<DOUBLE>)`` — three
    nodes whatever the length, constant-folded once at optimization.
    Exact: ``repr`` is the shortest string that round-trips, and Spark
    parses it with ``Double.parseDouble``.  Non-finite values raise —
    the string form would otherwise turn ``'nan'`` or ``'inf'`` into a
    silent NaN or infinity.  This is the operand form :func:`dot`,
    :func:`norm` and :func:`cosine_similarity` take for a query vector."""
    vals = [float(x) for x in values]
    bad = [x for x in vals if not math.isfinite(x)]
    if bad:
        raise ValueError(f"vector literal holds non-finite values: {bad[:3]}")
    if not vals:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    body = ",".join(repr(x) for x in vals)
    return f"CAST(split('{body}', ',') AS ARRAY<DOUBLE>)"


def literal_vector(values) -> Column:
    """A query vector as ONE literal Column (see :func:`vector_sql`)."""
    return F.expr(vector_sql(values))
