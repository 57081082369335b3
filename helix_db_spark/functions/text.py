"""Text column functions: tokenization, shingles, deterministic hashes.

All built-in expressions. The tokenizer regex is deliberately simple and
documented so oracle SQL can reproduce it exactly
(DuckDB: regexp_split_to_array(lower(text), '[^a-z0-9]+')).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """lower -> split on non-alphanumeric -> drop empties."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != "")


def token_list(text: str) -> list:
    """Driver-side replica of tokens() for one string (BM25 query terms,
    appended documents). Equal to the JVM expression on ASCII text;
    Java and Python lowercase some non-ASCII characters differently."""
    return [t for t in re.split(TOKEN_SPLIT, text.lower()) if t]


def shingles_from_tokens(toks: Column, n: int = 2) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array
    column. Callers must pass a real column (not an inline tokens(text)
    expression): higher-order functions block common-subexpression
    elimination, so an inline expression would re-run the tokenizer regex
    once per shingle (~50x slowdown measured)."""
    last = F.size(toks) - F.lit(n)
    idx = F.sequence(F.lit(0), last)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.when(last >= 0, F.array_distinct(grams)) \
        .otherwise(F.array().cast("array<string>"))


def tokenized_docs(df: DataFrame, id_col: str, text_col: str,
                   max_tokens: int | None = None) -> DataFrame:
    """(id, _tk: array<string>) with the tokenizer materialized through a
    GENERATE BARRIER: ``explode(array(tokens(text)))`` is a one-row-per-doc
    generator whose output attribute downstream projections can only
    REFERENCE — Catalyst's CollapseProject would otherwise inline the
    tokens() expression into every consumer (higher-order lambdas also
    block subexpression elimination), re-running the tokenizer regex once
    per shingle (~50x measured, r5; re-confirmed r9: the barrier-less
    array form ran 10.5s vs 0.9s at sf0.1).

    Low-parallelism-source guard: a corpus that arrives in fewer
    partitions than the cluster has slots (the single-file local bench
    read, a coalesced upstream) is first hash-repartitioned ON THE ID to
    defaultParallelism — one exchange of the raw docs that (a) spreads
    the tokenizer/shingle CPU across every core and (b) pre-aligns the
    partitioning with every per-doc consumer (groupBy(id), window by id),
    which then needs NO further exchange. Inputs that already have enough
    partitions skip it: at cluster scale a corpus scan arrives in
    thousands of partitions and per-doc aggregates map-side-combine to
    one row per doc before their shuffle.

    ``max_tokens`` is a straggler bound for pathological documents (a
    documented quality knob, like winnowing's max_df): docs are compared
    on their first ``max_tokens`` tokens only — applied as an array slice
    here, before any shingle is built.
    """
    if not df.isStreaming:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target, F.col(id_col))
    tk = tokens(F.col(text_col))
    if max_tokens is not None:
        tk = F.slice(tk, 1, max_tokens)
    return df.select(F.col(id_col), F.explode(F.array(tk)).alias("_tk"))


def shingle_array(toks: Column, n: int) -> Column:
    """ALL word n-grams (duplicates kept, document order) from a
    materialized token array — the non-distinct sibling of
    shingles_from_tokens; same barrier requirement."""
    last = F.size(toks) - F.lit(n)
    idx = F.sequence(F.lit(0), last)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.when(last >= 0, grams) \
        .otherwise(F.array().cast("array<string>"))


def shingle_rows(df: DataFrame, id_col: str, text_col: str,
                 n: int = 3, distinct: bool = True,
                 max_tokens: int | None = None) -> DataFrame:
    """Word n-gram rows (id, _s) — the hot-path shingle shape (DISTINCT
    per doc unless ``distinct=False``).

    Array formulation (r9): tokenized_docs' Generate barrier -> per-doc
    shingle array -> one explode. Replaces the r5 window/lead form: no
    window sort, no token-rows exchange (the only exchange is
    tokenized_docs' low-parallelism guard, which pre-aligns per-doc
    consumers), and ``distinct`` is a per-doc array_distinct instead of a
    dropDuplicates SHUFFLE. The r5 window-vs-array measurement that
    rejected arrays predated the barrier — without it CollapseProject
    re-ran the tokenizer per shingle, which is what actually lost.
    Interleaved A/B at sf0.1 (r9): minhash 2.44 -> 2.21s, ngram jaccard
    3.03 -> 2.71s, outputs bit-identical.
    """
    base = tokenized_docs(df, id_col, text_col, max_tokens)
    grams = shingle_array(F.col("_tk"), n)
    if distinct:
        grams = F.array_distinct(grams)
    return base.select(F.col(id_col), F.explode(grams).alias("_s"))


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit hash from md5 — reproducible in DuckDB as
    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10) \
        .cast("long")


def md5_long32(col: Column) -> Column:
    """32-bit md5-derived hash: safe to multiply by 31-bit constants without
    long overflow (ANSI mode). DuckDB: CAST(('0x' || substr(md5(x), 1, 8))
    AS BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10) \
        .cast("long")


def bucket_col(col: Column, n_buckets: int) -> Column:
    """Deterministic bucket id for on-disk index layouts (md5-derived, so
    any engine — and driver-side Python via bucket_id() — computes the
    same bucket for the same value). Used as a parquet partition column:
    a probe that knows its keys filters to their buckets and partition
    pruning skips every other directory."""
    return md5_long32(col) % F.lit(n_buckets)


def bucket_id(value, n_buckets: int) -> int:
    """Driver-side replica of bucket_col() for probe planning."""
    import hashlib

    return int(hashlib.md5(str(value).encode()).hexdigest()[:8],
               16) % n_buckets


