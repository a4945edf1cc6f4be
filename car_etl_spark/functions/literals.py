"""Literal-heavy predicates as ONE parsed SQL expression.

``col.isin(values)`` sends every element through its own ``F.lit`` —
one py4j round trip each, so a few hundred candidate ids cost a few
hundred round trips of plan build.  :func:`in_list` renders the same
predicate as one ``F.expr`` string; the parser builds the identical
``In`` node, so ``OptimizeIn`` still yields the same ``InSet`` and the
scan the same ``PartitionFilters`` / ``PushedFilters`` (the serve-path
rule of :mod:`car_etl_spark.functions.vectors`).
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal: backslash and quote escaped, every
    other character (newlines, non-BMP code points) kept verbatim."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_value(v) -> str:
    if isinstance(v, str):
        return sql_string(v)
    if isinstance(v, numbers.Integral) and not isinstance(v, bool):
        return str(int(v))
    raise TypeError(f"in_list renders int or str values, got {type(v).__name__}")


def in_list(col: str, values) -> Column:
    """``col IN (values...)`` for int or str values; ``col`` is a column
    name or SQL expression.  An empty list is ``false`` (Spark's empty
    ``IN`` semantics)."""
    vals = list(values)
    if not vals:
        return F.lit(False)
    return F.expr(f"{col} IN ({', '.join(_sql_value(v) for v in vals)})")
