"""Vector column functions — pure built-in expressions (JVM-side).

Distance math over ``array<float>`` columns uses zip_with/aggregate so it
stays inside whole-stage codegen; no Python UDF in the hot path. For very
wide fan-out (ANN signatures) we drop to a vectorized pandas UDF in
operators/similarity.py — Arrow-batched, never per-row.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_double(x: float) -> str:
    """Exact Spark SQL text of the double ``x``: ``repr`` round-trips and
    a ``D`` literal parses with ``Double.parseDouble``."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    return "CAST('%s' AS DOUBLE)" % (
        "NaN" if x != x else "-Infinity" if x < 0 else "Infinity")


def lit_vector(vec: Sequence[float]) -> Column:
    """``vec`` as an ``array<double>`` literal, parsed from one SQL text."""
    return F.expr("array(" + ", ".join(map(sql_double, vec)) + ")")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_distance(vec_col: Column, query: Sequence[float],
                    norm_col: Optional[Column] = None) -> Column:
    """1 - cos(vec, query); ascending = closer ($distance contract,
    dsl.rs:129-137). ``norm_col`` uses a precomputed norm (index build)."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query)) or 1.0
    q = [float(x) / qn for x in query]
    vn = norm_col if norm_col is not None else norm(vec_col)
    return F.lit(1.0) - dot(vec_col.cast("array<double>"), lit_vector(q)) / vn


def cosine_similarity_cols(a: Column, b: Column) -> Column:
    """cos(a, b) between two vector columns (pairwise joins)."""
    return dot(a.cast("array<double>"), b.cast("array<double>")) / (norm(a) * norm(b))


def cosine_similarity_exact(a: Column, b: Column) -> Column:
    """cos(a, b) with EVERY intermediate in double (the float inputs are
    cast before any arithmetic) and norms via the same sequential-fold
    dot — measured bit-identical to DuckDB's
    ``list_dot_product(x::DOUBLE[], y::DOUBLE[])`` formulation, which
    makes value-hash oracles safe even when the output is RANKED on the
    cosine (knn_graph). cosine_similarity_cols keeps the cheaper
    float-squares norm for threshold filters, where a 1e-6 wobble only
    matters within 1e-6 of the threshold."""
    da, db = a.cast("array<double>"), b.cast("array<double>")
    return dot(da, db) / (F.sqrt(dot(da, da)) * F.sqrt(dot(db, db)))
