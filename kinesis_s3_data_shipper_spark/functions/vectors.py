"""Vector math over array<float> embedding columns — JVM expressions.

Dot products and norms are computed as explicit sequential left-folds
(``aggregate(zip_with(...))``) in double precision. That choice is
deliberate: a left fold is the one summation order every engine can
reproduce (the DuckDB oracles use list_reduce(list_zip(...)) — the
same fold), so cosine scores are bit-identical across engines. The
expressions stay inside WholeStageCodegen; no UDF, no Arrow transfer.

For 100 TB: these are O(d) per row with no shuffle; the scale lever is
candidate reduction (LSH bucketing in operators.similarity), not the
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str, b: str) -> Column:
    """Sequential-fold double dot product of two float-array columns.

    Kept as the ``aggregate`` fold: measured at d=64, a Project that
    unrolls it into ``((0 + a[0]*b[0]) + a[1]*b[1]) + …`` is ~2x
    SLOWER at every pair count tried (42k pairs: 0.9s vs 0.42s; 1M
    pairs: 8.6s vs 4.9s) — a 64-term generated method is past what
    the JIT will compile, so it runs interpreted, while the fold's
    tight per-element loop stays hot. The fold is also the one
    summation order every engine reproduces (DuckDB list_reduce
    mirrors it), so scores stay bit-identical.
    """
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        f"  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f"  CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    """L2 norm via the same sequential fold."""
    return F.sqrt(F.expr(
        f"aggregate({a}, CAST(0 AS DOUBLE),"
        f"  (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    ))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity, engine-reproducible."""
    return dot(a, b) / (norm(a) * norm(b))


# DuckDB spellings of the SAME folds (list_zip structs are indexed
# numerically; list_reduce is a sequential left fold like aggregate).
def sql_dot(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(list_zip({a}, {b}),"
            f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),"
            f" (acc, v) -> acc + v)")


def sql_norm(a: str) -> str:
    return (f"sqrt(list_reduce(list_transform({a},"
            f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            f" (acc, v) -> acc + v))")


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"
