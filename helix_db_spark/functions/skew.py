"""Skew-aware join helpers for hot keys (supernodes).

AQE's skew-join splitting handles shuffle-stage skew automatically
(spark.sql.adaptive.skewJoin.enabled, on in session.py), but it only
triggers inside sort-merge joins. For the hop-join pattern where one side
is a frontier with a handful of supernode keys (a celebrity node with 10^8
in-edges at 100 TB), explicit salting keeps every task bounded:

- big side: add a random salt in [0, n) per row;
- small side: explode each row to all n salt values;
- join on (key, salt) — each hot key's rows spread across n tasks.

Result-identical to the plain equi-join (tested); use when skew_report
shows hot keys and the small side is too big to broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join ``big`` (skewed) with ``small`` on ``key``, salted ``salt``
    ways. Supported ``how``: inner, left (semantics preserved)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    b = big.withColumn(SALT_COL,
                       (F.rand(seed=0) * salt).cast("int"))
    s = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = b.join(s, on=[key, SALT_COL], how=how)
    return out.drop(SALT_COL)


def skew_report(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """The numbers that decide the salting call, in one report: the
    ``top`` heaviest keys with their row count, share of all rows, and
    ``skew_vs_avg`` (count over the uniform per-key expectation — the
    multiple a hot key's shuffle task is oversized by; >~4 with a
    non-broadcastable other side is when :func:`salted_join` pays).
    Two partial-aggregable groupBys + a TakeOrderedAndProject cut + a
    1-row broadcast total — runs at any corpus size. skew_vs_avg is
    computed as n / (n_rows / n_keys) in DOUBLE (the n * n_keys integer
    product would overflow long at petabyte row counts)."""
    hist = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    totals = hist.agg(F.sum("n").alias("n_rows"),
                      F.count(F.lit(1)).alias("n_keys"))
    cut = hist.orderBy(F.col("n").desc(), F.col(key).asc()).limit(top)
    return (cut.crossJoin(F.broadcast(totals))
            .select(key, "n", "n_rows", "n_keys",
                    F.round(F.col("n") / F.col("n_rows").cast("double"),
                            6).alias("share"),
                    F.round(F.col("n") / (F.col("n_rows").cast("double")
                                          / F.col("n_keys")), 4)
                    .alias("skew_vs_avg")))
