"""Text analysis operators: quality scoring, language ID, token counting,
document fingerprinting.

All pure built-in column expressions (whole-stage codegen); the tokenizer
and every ratio are defined precisely enough to reproduce in oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_long32, tokens

# Tiny built-in stopword profiles for the n-gram/stopword-ratio language
# heuristic. Deliberately small + documented: language ID here is a cheap
# first-pass filter, not a model.
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "del", "se"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "im", "zu"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "est", "que"),
}

STOPWORDS_EN = LANG_STOPWORDS["en"] + (
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are")


def token_count(text: Column) -> Column:
    """Whitespace-ish token count (the tokenizer's split)."""
    return F.size(tokens(text))


# BPE-style pre-tokenizer: letter runs, digit runs, single punctuation —
# the GPT-2 pre-token shape minus lookarounds so the exact same pattern
# runs in Java regex (Spark) and RE2-ish dialects (DuckDB oracle).
BPE_PRETOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_pretokens(text: Column) -> Column:
    """Pre-token array under BPE_PRETOKEN_RE."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0)


def bpe_token_estimate(text: Column) -> Column:
    """Estimated BPE token count (context-budget planning without a
    vocab file): letter runs cost ceil(len/4) (the ~4-chars-per-token
    empirical BPE rate), digit runs ceil(len/3) (BPE chunks numbers
    ~3 digits), punctuation 1 each. Deterministic, pure built-ins,
    SQL-reproducible."""
    per = F.transform(
        bpe_pretokens(text),
        lambda t: F.when(t.rlike("^[a-zA-Z]"), F.ceil(F.length(t) / 4.0))
                   .when(t.rlike("^[0-9]"), F.ceil(F.length(t) / 3.0))
                   .otherwise(F.lit(1)).cast("long"))
    return F.aggregate(per, F.lit(0).cast("long"), lambda acc, x: acc + x)


def punct_ratio(text: Column) -> Column:
    total = F.greatest(F.length(text), F.lit(1))
    punct = F.length(text) - F.length(
        F.regexp_replace(text, r"[^\w\s]", ""))
    return punct / total


def digit_ratio(text: Column) -> Column:
    total = F.greatest(F.length(text), F.lit(1))
    digits = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return digits / total


def _hits(toks: Column, words) -> Column:
    """Occurrence count of tokens found in a literal word list."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_ratio(text: Column, stopwords=STOPWORDS_EN) -> Column:
    toks = tokens(text)
    return _hits(toks, stopwords) / F.greatest(F.size(toks), F.lit(1))


def unique_token_ratio(text: Column) -> Column:
    toks = tokens(text)
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """[0, 1] heuristic quality: length sweet-spot, low punct/digit noise,
    healthy stopword presence, low repetition. Weights documented inline."""
    n_tok = token_count(text)
    length_term = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    noise_term = F.lit(1.0) - F.least(
        (punct_ratio(text) + digit_ratio(text)) * 2, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 4, F.lit(1.0))
    rep_term = unique_token_ratio(text)
    return (length_term * 0.25 + noise_term * 0.25 +
            stop_term * 0.25 + rep_term * 0.25)


def detect_language(text: Column) -> Column:
    """argmax over LANG_STOPWORDS profiles of stopword hit counts;
    ties and zero hits -> 'und' (undetermined). Deterministic: languages
    compared in sorted order, strict > to win."""
    toks = tokens(text)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        hits = _hits(toks, LANG_STOPWORDS[lang])
        take = hits > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def fingerprint(text: Column) -> Column:
    """Stable document fingerprint: md5 of the sorted distinct token set
    (word-order / whitespace / case insensitive)."""
    toks = F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    return F.md5(toks)


# Rabin-Karp polynomial hash constants for winnowing: base 257 (above
# every codepoint byte pattern's low weight), modulus 2^31-1 (Mersenne —
# the classic Karp-Rabin choice; 31-bit outputs like the former
# md5-prefix form). The raw polynomial is ORDER-BIASED (a k-gram whose
# first codepoint is small — e.g. a leading space — hashes small, so
# window minima would keep selecting word-boundary grams and unrelated
# docs share fingerprints); the LCG-style affine mixer (glibc
# multiplier) scrambles that order so minima select ~uniformly, per the
# winnowing paper's uniform-hash assumption. Integer math end-to-end,
# so the numpy kernel and the DuckDB oracle's ord()/BIGINT arithmetic
# are bit-identical with no fold-order caveats (unlike float folds).
WINNOW_B = 257
WINNOW_M = (1 << 31) - 1
WINNOW_A = 1103515245
WINNOW_C = 12345


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    algorithm): rolling char k-gram hashes, minimum per sliding window of
    ``w``, distinct minima selected. Guarantees any shared substring of
    length >= k + w - 1 yields at least one shared fingerprint — robust
    partial-overlap detection where whole-doc digests (``fingerprint``)
    and set-based MinHash miss local matches. Returns (id, fp) rows.

    Hash: Karp-Rabin polynomial over Unicode codepoints mixed through an
    affine scrambler, ``fp(i) = ((sum_j cp(s[i+j]) * B^(k-1-j)) mod M
    * A + C) mod M`` with B=257, M=2^31-1, A/C the glibc LCG constants —
    the paper's own rolling-hash family (§4) plus the uniformity its
    min-selection assumes (see the constants' comment), and pure
    integer math, so the kernel and the DuckDB oracle agree bit-for-bit.

    Shape: normalization (lower/trim/whitespace-collapse) stays JVM-side;
    hashing, windowed minima, and the per-doc distinct run in ONE
    Arrow-batched numpy kernel (mapInPandas) — zero shuffles, one narrow
    output row per selected fingerprint. The r9 HOF lesson applied: the
    former per-position expression form (an md5 + hex-conv per character
    under `transform`) is an interpreted higher-order lambda Catalyst
    never compiles, and it was 41s of curate-the-corpus's 43s stage
    total at sf1 (PLANS r9/r10); the kernel vectorizes the same
    positions with `sliding_window_view`/`np.unique`. Texts shorter than
    ``k`` emit nothing; fewer than ``w`` k-grams collapse to one
    whole-array window — both edge cases identical to the old form.
    """
    import numpy as np
    import pandas as pd

    # powers reduced mod M and the fold reduced PER TERM: codepoints
    # reach 0x10FFFF, so an unreduced c*B^(k-1) already wraps int64 at
    # k >= 7 (and building B**k overflows for k >= 9) — per-step modular
    # arithmetic is value-identical to the docstring formula for any k
    # (r10 review). Max intermediate: M + 0x10FFFF*(M-1) < 2^52.
    pows = np.array([pow(WINNOW_B, k - 1 - j, WINNOW_M)
                     for j in range(k)], dtype=np.int64)

    def fps(batches):
        from numpy.lib.stride_tricks import sliding_window_view
        for pdf in batches:
            ids_out, fp_out = [], []
            for i, s in zip(pdf["_i"].to_numpy(), pdf["_s"].to_numpy()):
                if s is None:
                    continue
                # codepoints via one C-level utf-32 decode (== DuckDB
                # ord(s[i]) and Python ord — verified bit-identical)
                c = np.frombuffer(s.encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.int64)
                n = c.size - (k - 1)
                if n < 1:
                    continue
                H = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    H = (H + c[j:j + n] * pows[j]) % WINNOW_M
                H = (H * WINNOW_A + WINNOW_C) % WINNOW_M
                mins = (sliding_window_view(H, w).min(axis=1)
                        if n >= w else H.min(keepdims=True))
                u = np.unique(mins)
                ids_out.append(np.full(u.size, i))
                fp_out.append(u)
            if ids_out:
                yield pd.DataFrame({id_col: np.concatenate(ids_out),
                                    "fp": np.concatenate(fp_out)})

    id_t = df.schema[id_col].dataType.simpleString()
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    src = df.select(F.col(id_col).alias("_i"), norm.alias("_s"))
    return src.mapInPandas(fps, f"{id_col} {id_t}, fp long")


def winnow_overlap_pairs(df: DataFrame, id_col: str, text_col: str,
                         min_shared: int = 3, max_df: int = 50,
                         k: int = 5, w: int = 4) -> DataFrame:
    """(a, b, shared_fps) for document pairs sharing >= ``min_shared``
    winnowing fingerprints — local plagiarism/containment candidates that
    set-level similarity misses.

    Scale shape: self-join on the fingerprint value, so candidate volume
    is sum-of-bucket-sizes², not n². ``max_df`` drops stop-fingerprints
    (hashes occurring in more than ``max_df`` docs — ubiquitous 5-grams
    like 'the q') BEFORE the join; without it one viral k-gram makes a
    quadratic hot bucket. Both the filter and the pair counts are exact
    given the retained fingerprints, and fully SQL-reproducible.
    """
    from .dedup import _mat

    # materialize: fps feeds the df-count AND the semi-join, kept feeds
    # both self-join sides — unmaterialized, the (priciest) fingerprint
    # computation re-executes per consumer (11.5s -> ~5s at sf0.1)
    fps = _mat(winnow_fingerprints(df, id_col, text_col, k, w))
    rare = fps.groupBy("fp") \
              .agg(F.count(F.lit(1)).alias("_df")) \
              .filter(F.col("_df") <= max_df).select("fp")
    kept = _mat(fps.join(rare, on="fp", how="left_semi"))
    left = kept.select(F.col(id_col).alias("a"), "fp")
    right = kept.select(F.col(id_col).alias("b"), "fp")
    return (left.join(right, on="fp")
                .filter(F.col("a") < F.col("b"))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("shared_fps"))
                .filter(F.col("shared_fps") >= min_shared))


def repetition_stats(df: DataFrame, id_col: str, text_col: str,
                     extra_cols: tuple = ()) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models" §A.1.1 — public filter suite): per document,
    how much of it is the same n-gram over and over. Heavily repetitive
    documents (boilerplate, keyword stuffing, generation loops) pass
    length/stopword gates but poison training runs; these are the standard
    knobs a curation pipeline thresholds on. ``extra_cols`` pass through
    untouched (e.g. the text column, so a streaming gate can keep
    filtering downstream without a join — streams can't self-join).

    Columns: ``n_2grams`` (token-bigram occurrences), ``top_2gram_count``
    (occurrences of the most frequent bigram), ``top_2gram_frac``
    (their ratio — Gopher's "top n-gram fraction" in token form),
    ``dup_3gram_frac`` (fraction of trigram occurrences whose trigram
    appears >= 2 times — Gopher's "duplicate n-gram fraction" over
    occurrences, which avoids the overlapping-span double-count of the
    character formulation). Fractions are NULL when the document is too
    short to form the n-gram.

    Shape: ZERO shuffles. The token array is materialized once per row,
    n-gram arrays are built, sorted, and folded with a single-pass
    ``aggregate`` — after array_sort equal grams are adjacent, so the max
    frequency is the longest run and duplicate occurrences are run
    members. Everything stays inside one projection (no explode, no
    groupBy): at 100 TB this is a pure map stage, embarrassingly parallel,
    where the explode+groupBy(doc, gram) formulation shuffles one row per
    gram occurrence (~n_tokens x corpus) just to bring counts back to the
    doc they started on.
    """
    t = F.col(text_col)

    def grams(n: int) -> Column:
        arr = F.array_sort(F.transform(
            F.sequence(F.lit(1), F.size("_toks") - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice("_toks", i, n))))
        # guard: sequence() DESCENDS when start > stop, which would
        # fabricate bogus indices (as in shingles_from_tokens)
        return F.when(F.size("_toks") >= n, arr) \
            .otherwise(F.array().cast("array<string>"))

    def rep_fold(garr: Column) -> Column:
        """(best, dups) over a SORTED gram array: best = longest run of
        equal grams = max frequency; dups = members of runs of length >= 2
        (+2 entering a run — the first member is retroactively counted —
        then +1 per further member)."""
        zero = F.lit(0).cast("long")
        init = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                        zero.alias("best"), zero.alias("dups"))

        def step(acc, x):
            same = x == acc["prev"]
            run = F.when(same, acc["run"] + F.lit(1)).otherwise(F.lit(1)) \
                .cast("long")
            dups = acc["dups"] + F.when(same & (acc["run"] == 1), F.lit(2)) \
                .when(same, F.lit(1)).otherwise(F.lit(0)).cast("long")
            return F.struct(x.alias("prev"), run.alias("run"),
                            F.greatest(acc["best"], run).alias("best"),
                            dups.alias("dups"))

        return F.aggregate(garr, init, step)

    extra = [F.col(c) for c in extra_cols]
    base = df.select(F.col(id_col), *extra, tokens(t).alias("_toks"))
    base = base.select(F.col(id_col), *extra, grams(2).alias("_g2"),
                       grams(3).alias("_g3"))
    s2, s3 = rep_fold(F.col("_g2")), rep_fold(F.col("_g3"))
    n2 = F.size("_g2").cast("long")
    n3 = F.size("_g3").cast("long")
    # output rides a Generate barrier (explode of a 1-element struct
    # array): a downstream gate like top_2gram_frac <= 0.5 would
    # otherwise be filter-pushed BELOW these projections, inlining the
    # whole tokenize->grams->fold pipeline into one scan predicate with
    # multiplicative expression blow-up (curate_corpus' gated stage
    # measured 147s at sf1 from exactly that; ~17s with the barrier).
    out = F.struct(
        F.col(id_col), *extra,
        n2.alias("n_2grams"),
        F.when(n2 > 0, s2["best"]).alias("top_2gram_count"),
        F.when(n2 > 0, F.round(s2["best"] / n2, 6)).alias("top_2gram_frac"),
        F.when(n3 > 0, F.round(s3["dups"] / n3, 6)).alias("dup_3gram_frac"),
    )
    return base.select(F.explode(F.array(out)).alias("_r")).select("_r.*")


def doc_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per document with the full stats vector.

    Shape: ONE posexplode of the token array + one groupBy(doc) carrying
    every token-derived statistic as a parallel aggregate, then char-level
    ratios on the grouped row. The naive per-row composition of the column
    helpers above re-evaluates the tokenizer regex once per statistic
    (higher-order functions block common-subexpression elimination;
    ~15 tokenizer passes per row, measured 30%+ slower at sf0.1 and
    linearly worse with stat count at scale); this is the single-pass
    equivalent, verified byte-identical on the oracle corpus.
    posexplode_outer + null-skipping aggregates keep empty/null-text
    documents in the output with the same values as the per-row path.
    NULL-text rows: the per-row helpers return NULL for every token-derived
    stat (size/md5 of a NULL array is NULL), but aggregates over zero rows
    yield 0 / md5('') — so those columns are explicitly NULLed when _text
    is NULL to keep the two paths byte-identical (ADVICE r4).
    """
    t = F.col(text_col)
    base = df.select(F.col(id_col), t.alias("_text"),
                     F.posexplode_outer(tokens(t)).alias("_p", "_t"))
    aggs = [
        F.count("_t").alias("n_tokens"),  # count(col) skips the outer-null
        F.coalesce(F.sum(F.length("_t")), F.lit(0)).alias("_lensum"),
        F.count_distinct(F.col("_t")).alias("_ndistinct"),
        F.coalesce(F.sum(F.col("_t").isin(*STOPWORDS_EN).cast("int")),
                   F.lit(0)).alias("_stop"),
    ]
    for lang in sorted(LANG_STOPWORDS):
        aggs.append(F.coalesce(
            F.sum(F.col("_t").isin(*LANG_STOPWORDS[lang]).cast("int")),
            F.lit(0)).alias(f"_h_{lang}"))
    # collect_set skips nulls; empty set -> md5("") == fingerprint of an
    # empty token list from the per-row path
    aggs.append(F.md5(F.array_join(F.array_sort(F.collect_set("_t")), " "))
                .alias("fingerprint"))
    g = base.groupBy(id_col, "_text").agg(*aggs)
    ln = F.length("_text")
    denom = F.greatest(ln, F.lit(1))
    punct = (ln - F.length(F.regexp_replace("_text", r"[^\w\s]", ""))) / denom
    digit = (ln - F.length(F.regexp_replace("_text", r"[0-9]", ""))) / denom
    nt = F.greatest(F.col("n_tokens"), F.lit(1))
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        hits = F.col(f"_h_{lang}")
        take = hits > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    quality = (F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0)) * 0.25
               + (F.lit(1.0) - F.least((punct + digit) * 2, F.lit(1.0))) * 0.25
               + F.least(F.col("_stop") / nt * 4, F.lit(1.0)) * 0.25
               + F.col("_ndistinct") / nt * 0.25)
    def nn(c):
        # per-row-path parity on NULL text (see docstring)
        return F.when(F.col("_text").isNull(), F.lit(None)).otherwise(c)

    return g.select(
        F.col(id_col),
        ln.alias("n_chars"),
        nn(F.col("n_tokens")).alias("n_tokens"),
        nn(F.round(F.col("_lensum") / nt, 6)).alias("mean_token_len"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(digit, 6).alias("digit_ratio"),
        nn(F.round(F.col("_stop") / nt, 6)).alias("stopword_ratio"),
        nn(F.round(F.col("_ndistinct") / nt, 6)).alias("unique_token_ratio"),
        nn(F.round(quality, 6)).alias("quality"),
        best_lang.alias("lang_pred"),
        nn(F.col("fingerprint")).alias("fingerprint"),
    )


# PII patterns — the intersection dialect of Java regex (Spark) and RE2
# (DuckDB oracle): no lookarounds, no backrefs. Deliberately standard
# shapes (the public presidio/scrubadub pattern families): detection here
# is a curation-pipeline gate, not a compliance product.
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}
# ssn before phone: both are digit-group shapes, but 3-2-4 never matches
# the 3-3-4 phone pattern, so order only matters for redaction labels.
_PII_REDACT_ORDER = ("email", "ssn", "phone", "ipv4")


def pii_count_cols(text: Column) -> dict:
    """{'n_<kind>': count-column} for every PII_PATTERNS kind — the
    filter/reporting half of PII handling in a training-data pipeline.
    Pure built-in regexp_extract_all: whole-stage codegen, zero
    shuffles, embarrassingly parallel at any scale."""
    return {f"n_{kind}":
            F.size(F.regexp_extract_all(text, F.lit(p), 0)).cast("long")
            for kind, p in PII_PATTERNS.items()}


def redact_pii_col(text: Column) -> Column:
    """Text with every PII span replaced by a ``[KIND]`` placeholder
    (chained regexp_replace in _PII_REDACT_ORDER, one pass per pattern
    — still a single projection, no shuffle)."""
    for kind in _PII_REDACT_ORDER:
        text = F.regexp_replace(text, PII_PATTERNS[kind],
                                f"[{kind.upper()}]")
    return text


def hash_embedding(text: Column, dim: int = 64) -> Column:
    """Deterministic text -> vector via the feature-hashing trick
    (Weinberger et al. 2009, public): component i sums, over token
    OCCURRENCES whose md5-derived bucket is i, a +/-1 sign from a second
    hash bit. No model, no vocabulary — the zero-dependency embedding
    stand-in that still makes cosine meaningful (shared tokens add
    coherently, unrelated tokens cancel), so the vector operators
    (cosine pairs, IVF, SemDeDup) compose with pure text corpora.

    Shape: one projection per row (O(dim * n_tokens) comparisons inside
    codegen, no explode/groupBy/shuffle); md5 arithmetic keeps every
    component SQL-reproducible for the oracle.
    """
    toks = tokens(text)
    h = F.transform(toks, md5_long32)
    return F.when(text.isNotNull(), _he_from_hashes(h, dim))


def _he_from_hashes(h: Column, dim: int) -> Column:
    """hash_embedding's component array from an (ideally materialized)
    token-hash array column. When ``h`` is an inline expression every
    component re-expands it (the Column form above — fine for one-off
    use); :func:`with_hash_embedding` passes an ATTRIBUTE so the
    tokenize+md5 work runs once per row however large ``dim`` is."""
    def component(i):
        hits = F.filter(h, lambda x: x % dim == i)
        # floor, not cast: double->int casts ROUND in some dialects
        # (DuckDB) and truncate in others — floor is exact everywhere
        signs = F.transform(hits, lambda x: F.when(
            F.floor(x / F.lit(dim)).cast("long") % 2 == 0, F.lit(1.0))
            .otherwise(F.lit(-1.0)))
        return F.aggregate(signs, F.lit(0.0), lambda a, s: a + s)

    return F.array(*[component(F.lit(i)) for i in range(dim)])


def with_hash_embedding(df: DataFrame, text_col: str, out_col: str,
                        dim: int = 64) -> DataFrame:
    """``df`` + ``out_col`` = hash_embedding(text) with the token-hash
    array materialized through a Generate barrier first: the Column form
    inlines tokenize+md5 into EVERY one of the ``dim`` component
    expressions (164 tokenizer sites measured in cluster_topic_cards'
    plan at dim=64 — the r9 expression-bomb class); here they evaluate
    once per row and the components reference the attribute. Values
    identical (same expressions over the same hashes)."""
    toks = tokens(F.col(text_col))
    hexpr = F.transform(toks, md5_long32)
    b = df.withColumn("_he_h", F.explode(F.array(hexpr)))
    out = F.when(F.col(text_col).isNotNull(),
                 _he_from_hashes(F.col("_he_h"), dim))
    return b.withColumn(out_col, out).drop("_he_h")


def dataset_card(df: DataFrame, id_col: str, text_col: str,
                 by: str = None) -> DataFrame:
    """Corpus summary statistics — the numbers a dataset card publishes:
    document/token counts, mean quality, language mix, high-quality
    fraction — per ``by`` group plus subtotal rows via ROLLUP (the NULL
    group row is the whole-corpus line). One shuffle with partial
    aggregation; every metric rides the same single pass over the
    tokenizer (doc-level expressions are computed once per row in the
    pre-projection, aggregates are all partial-aggregable)."""
    t = F.col(text_col)
    base = df.select(
        *([F.col(by)] if by else []),
        token_count(t).alias("_nt"),
        F.round(quality_score(t), 6).alias("_q"),
        detect_language(t).alias("_lang"))
    grouped = base.rollup(by) if by else base.groupBy()
    # is_total disambiguates the ROLLUP subtotal row from a genuine NULL
    # group value (both print as NULL in the group column otherwise)
    total_flag = ([F.grouping(by).cast("int").alias("is_total")]
                  if by else [F.lit(1).alias("is_total")])
    return grouped.agg(
        *total_flag,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"),
        F.round(F.avg("_nt"), 4).alias("mean_tokens"),
        F.round(F.avg("_q"), 4).alias("mean_quality"),
        F.round(F.avg((F.col("_q") >= 0.5).cast("double")), 4)
         .alias("high_quality_frac"),
        F.round(F.avg((F.col("_lang") == "en").cast("double")), 4)
         .alias("en_frac"))


def top_ngrams(df: DataFrame, id_col: str, text_col: str,
               n: int = 2, k: int = 20,
               max_tokens: int = None) -> DataFrame:
    """Corpus-wide most-frequent token n-grams (gram, occurrences, df) —
    vocabulary/boilerplate mining: the grams this surfaces become
    stop-shingle lists for the dedup miners and template detectors.
    Shape: shingle explode -> one partial-aggregable groupBy(gram) ->
    TakeOrderedAndProject top-k (count desc, gram asc — deterministic at
    tie boundaries). ``df`` is the document frequency (distinct docs)."""
    from ..functions.text import shingle_rows

    rows = shingle_rows(df, id_col, text_col, n=n, distinct=False,
                        max_tokens=max_tokens)
    return (rows.groupBy(F.col("_s").alias("gram"))
                .agg(F.count(F.lit(1)).alias("occurrences"),
                     F.count_distinct(F.col(id_col)).alias("doc_freq"))
                .orderBy(F.col("occurrences").desc(), F.col("gram").asc())
                .limit(k))


def vocab_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-row corpus vocabulary profile: total token occurrences,
    distinct types, hapax count (frequency-1 types — the Zipf tail that
    dominates vocabulary size), and the type/token ratio. Two
    partial-aggregable passes (token explode -> type counts -> scalars).
    """
    from ..functions.text import shingle_rows

    toks = shingle_rows(df, id_col, text_col, n=1, distinct=False)
    types = toks.groupBy("_s").agg(F.count(F.lit(1)).alias("_c"))
    return types.agg(
        F.sum("_c").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("_c") == 1).cast("long")).cast("long")
         .alias("hapax_count"),
        F.round(F.count(F.lit(1)) / F.sum("_c"), 6)
         .alias("type_token_ratio"))


def pmi_collocations(df: DataFrame, id_col: str, text_col: str,
                     min_count: int = 5, k: int = 20) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    pmi = ln(P(ab) / (P(a)P(b))) over token-occurrence probabilities —
    the standard statistical phrase miner (Church & Hanks 1990, public).
    ``min_count`` drops rare bigrams whose PMI is an artifact of tiny
    counts. Shape: one bigram groupBy + one unigram groupBy; bigram rows
    join their parts' counts via TWO broadcast joins (the unigram table
    is vocabulary-sized — small relative to any corpus at 100 TB scale;
    for web-scale vocabularies swap to a sort-merge on the token), then
    TakeOrderedAndProject top-k (pmi desc, gram asc — deterministic)."""
    from ..functions.text import shingle_rows

    toks = shingle_rows(df, id_col, text_col, n=1, distinct=False)
    uni = toks.groupBy(F.col("_s").alias("_t")) \
              .agg(F.count(F.lit(1)).alias("_cu"))
    bi = shingle_rows(df, id_col, text_col, n=2, distinct=False)
    bic = (bi.groupBy(F.col("_s").alias("gram"))
             .agg(F.count(F.lit(1)).alias("occurrences"))
             .filter(F.col("occurrences") >= min_count))
    # occurrence totals as LAZY 1-row broadcasts (the oracle's CROSS
    # JOIN nu/nb shape) — eager count()s here ran two extra tokenize
    # passes at plan-construction time. n_bi counts ALL bigrams
    # (before the min_count filter), so it aggregates bi, not bic.
    tot = (uni.agg(F.sum("_cu").cast("double").alias("_nu"))
              .crossJoin(bi.agg(F.count(F.lit(1)).cast("double")
                                .alias("_nb"))))
    parts = F.split(F.col("gram"), " ")
    # F.get, not [..]: Catalyst can push this projection below
    # shingle_rows' completeness filter, evaluating it on the incomplete
    # trailing shingles (concat_ws skips the NULL lead -> 1-element
    # split) — ANSI [] throws there, get() yields NULL and the rows are
    # filtered before output anyway
    bic = bic.withColumn("_w1", F.get(parts, 0)) \
             .withColumn("_w2", F.get(parts, 1))
    joined = (bic.join(F.broadcast(uni.withColumnRenamed("_t", "_w1")
                                      .withColumnRenamed("_cu", "_c1")),
                       on="_w1")
                 .join(F.broadcast(uni.withColumnRenamed("_t", "_w2")
                                      .withColumnRenamed("_cu", "_c2")),
                       on="_w2"))
    joined = joined.crossJoin(F.broadcast(tot))
    pmi = F.log((F.col("occurrences") / F.col("_nb"))
                / ((F.col("_c1") / F.col("_nu"))
                   * (F.col("_c2") / F.col("_nu"))))
    return (joined.withColumn("pmi", F.round(pmi, 4))
                  .select("gram", "occurrences", "pmi")
                  .orderBy(F.col("pmi").desc(), F.col("gram").asc())
                  .limit(k))


def lm_cross_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram-LM cross-entropy quality score — the
    model-free analogue of CCNet's KenLM perplexity filter (Wenzek et
    al. 2020, public): score(doc) = mean over tokens of
    -ln P(token), with P fit by maximum likelihood on the corpus
    itself. Low cross-entropy = made of common tokens (boilerplate
    risk); high = rare-token soup (OCR noise / gibberish risk); the
    standard curation gate keeps the middle band. ``ppl`` is
    exp(cross_entropy) — the familiar per-token perplexity reading.

    Shape: one token explode feeds BOTH the vocabulary count (one
    partial-aggregable groupBy over vocab-sized keys) and the per-doc
    mean; the vocabulary table joins back via broadcast (vocab is tiny
    relative to any corpus — for web-scale vocabularies swap to a
    sort-merge on the token, same semantics). No driver-side loops; the
    single scalar (total token count) is a partial-aggregated count().
    Rounded to 6 decimals on both engines (sum of ~1e2 doubles agrees
    far past that)."""
    from ..functions.text import shingle_rows

    toks = shingle_rows(df, id_col, text_col, n=1, distinct=False)
    vocab = toks.groupBy(F.col("_s").alias("_t")) \
                .agg(F.count(F.lit(1)).alias("_c"))
    # total token count as a LAZY 1-row broadcast (the oracle's CROSS
    # JOIN shape) — an eager count() here would run a full tokenize
    # pass at plan-construction time
    total = vocab.agg(F.sum("_c").cast("double").alias("_n"))
    nll = -F.log(F.col("_c") / F.col("_n"))
    per_doc = (toks.join(F.broadcast(vocab), toks["_s"] == F.col("_t"))
                   .crossJoin(F.broadcast(total))
                   .groupBy(id_col)
                   .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                        F.round(F.avg(nll), 6).alias("cross_entropy")))
    return per_doc.withColumn("ppl", F.round(F.exp("cross_entropy"), 4))


def bigram_cross_entropy(df: DataFrame, id_col: str, text_col: str,
                         lam: float = 0.7,
                         lam_c: float | None = None) -> DataFrame:
    """Per-document cross-entropy under a Jelinek-Mercer interpolated
    bigram LM fit on the corpus itself — one step up the CCNet ladder
    from ``lm_cross_entropy``'s unigram model (real CCNet uses a KenLM
    5-gram; the 2-gram captures the word-order signal a unigram cannot:
    shuffled text scores like normal text under a unigram LM but not
    here). P(w | v) = lam * c(v,w)/c(v,·) + (1-lam) * c(w)/N, scored
    over bigram positions (documents need >= 2 tokens to appear).

    Shape: ONE posexplode + lead() window emits (doc, v, w) rows that
    feed ALL THREE count tables (bigram, context, unigram) as
    partial-aggregable groupBys; the unigram/total tables broadcast
    back, the bigram join keys on (v, w) — at web scale the bigram
    table is not broadcastable, so that join is left to the planner
    (sort-merge/AQE), same semantics."""
    from pyspark.sql import Window

    toks = df.select(F.col(id_col),
                     F.posexplode(tokens(F.col(text_col)))
                      .alias("_p", "_w"))
    w = Window.partitionBy(id_col).orderBy("_p")
    pairs = toks.select(F.col(id_col), F.col("_w").alias("_v"),
                        F.lead("_w", 1).over(w).alias("_w2")) \
                .filter(F.col("_w2").isNotNull())
    uni = toks.groupBy(F.col("_w").alias("_u")) \
              .agg(F.count(F.lit(1)).alias("_cu"))
    total = uni.agg(F.sum("_cu").cast("double").alias("_n"))
    big = pairs.groupBy("_v", "_w2").agg(F.count(F.lit(1)).alias("_cb"))
    ctx = pairs.groupBy(F.col("_v").alias("_cv")) \
               .agg(F.count(F.lit(1)).alias("_cc"))
    # lam_c is passed explicitly when an oracle spells the complement
    # as a decimal literal: 1.0 - 0.7 is 0.30000000000000004 in IEEE
    # while SQL CAST(0.3 AS DOUBLE) is exactly 0.3 — a knife-edge
    # rounding divergence a value-hash would catch
    if lam_c is None:
        lam_c = 1.0 - lam
    p = (F.lit(float(lam)) * (F.col("_cb") / F.col("_cc"))
         + F.lit(float(lam_c)) * (F.col("_cu") / F.col("_n")))
    return (pairs
            .join(big, ["_v", "_w2"])
            .join(F.broadcast(ctx), pairs["_v"] == F.col("_cv"))
            .join(F.broadcast(uni), pairs["_w2"] == F.col("_u"))
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.round(F.avg(-F.log(p)), 6).alias("cross_entropy"))
            .withColumn("ppl", F.round(F.exp("cross_entropy"), 4)))


def dsir_weights(df: DataFrame, id_col: str, text_col: str,
                 target_pred: Column, n_buckets: int = 1024,
                 smoothing: float = 1.0) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169 — public method): fit two hashed-n-gram bag models
    — one on the TARGET slice (rows where ``target_pred`` is true, e.g.
    a high-quality or in-domain subset), one on the full RAW corpus —
    and score every document by its log importance ratio
    ``sum over feature occurrences of ln(p_target(f) / p_raw(f))``.
    Features are unigrams + bigrams hashed into ``n_buckets`` buckets
    (the hashing trick bounds model size independently of vocabulary);
    ``smoothing`` is the Laplace constant on both models. Selecting the
    top-weight documents approximates sampling the raw corpus toward
    the target distribution.

    Shape: ONE token explode + ONE lead() window emits BOTH feature
    grams (each token row yields its unigram plus, when a successor
    exists, its bigram — no second tokenize/explode pass; measured 2x
    vs the uni+bi union at sf0.1), with the target flag riding inside a
    struct id — no join back to the input for the flag; bucket counts
    for raw and target come from the SAME partial-aggregable groupBy
    (sum of the flag = target count); the bucket->log-ratio table is
    ``n_buckets`` rows, broadcast by construction; per-doc weights are
    one groupBy over the doc id that reuses the feature window's hash
    partitioning. Rounded to 4 decimals on both engines."""
    from pyspark.sql import Window

    from ..functions.text import bucket_col
    from ..functions.text import tokens as _tokens

    flagged = df.select(
        F.struct(F.col(id_col).alias("i"),
                 target_pred.cast("int").alias("t")).alias("_did"),
        F.col(text_col))
    toks = flagged.select(
        "_did", F.posexplode(_tokens(F.col(text_col))).alias("_p", "_t"))
    nxt = F.lead("_t", 1).over(Window.partitionBy("_did").orderBy("_p"))
    # window first, generator second: explode can't host a window expr
    paired = toks.select("_did", "_t", nxt.alias("_nx"))
    grams = paired.select(
        "_did",
        F.explode(F.when(
            F.col("_nx").isNotNull(),
            F.array(F.col("_t"),
                    F.concat_ws(" ", F.col("_t"), F.col("_nx"))))
            .otherwise(F.array(F.col("_t")))).alias("_s"))
    feats = grams.select(
        "_did", bucket_col(F.col("_s"), n_buckets).alias("_b"))
    stats = feats.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr"),
        F.sum(F.col("_did.t")).alias("_ct"))
    # model totals as a LAZY 1-row broadcast instead of a .first() at
    # plan-construction time (same double arithmetic as the oracle's
    # CROSS JOIN tot)
    tot = stats.agg(F.sum("_cr").alias("_nr"), F.sum("_ct").alias("_nt"))
    a, b = float(smoothing), float(n_buckets)
    ratio = stats.crossJoin(F.broadcast(tot)).select(
        "_b",
        (F.log((F.col("_ct") + a) / (F.col("_nt") + F.lit(a * b)))
         - F.log((F.col("_cr") + a) / (F.col("_nr") + F.lit(a * b))))
        .alias("_lr"))
    return (feats.join(F.broadcast(ratio), on="_b")
                 .groupBy(F.col("_did.i").alias(id_col))
                 .agg(F.count(F.lit(1)).cast("long").alias("n_feats"),
                      F.round(F.sum("_lr"), 4).alias("log_weight")))


# URL shape shared by Java regex (Spark) and RE2 dialects (DuckDB oracle):
# scheme, host chars, optional path up to whitespace.
URL_RE = r"https?://[a-zA-Z0-9.-]+(?:/[^\s]*)?"
_DOMAIN_RE = "https?://([a-zA-Z0-9.-]+)"


def extract_urls(text: Column) -> Column:
    """All URL occurrences in a text column (array<string>)."""
    return F.regexp_extract_all(text, F.lit(URL_RE), 0)


def url_domain(url: Column) -> Column:
    """Host part of a URL string."""
    return F.regexp_extract(url, _DOMAIN_RE, 1)


def domain_stats(df: DataFrame, id_col: str, text_col: str,
                 blocklist=()) -> DataFrame:
    """Per-domain link profile of a corpus — the input to C4/RefinedWeb-
    style domain filtering (drop or downweight documents that cite
    blocklisted or over-represented hosts): (domain, n_urls, n_docs,
    blocked). One regex extraction pass + one partial-aggregable
    groupBy on the domain; the blocklist is a literal array membership
    test (swap to a broadcast join for large lists — same semantics)."""
    urls = df.select(F.col(id_col),
                     F.explode(extract_urls(F.col(text_col))).alias("_u"))
    dom = urls.select(F.col(id_col), url_domain(F.col("_u")).alias("domain"))
    blocked = (F.array_contains(F.array(*[F.lit(b) for b in blocklist]),
                                F.col("domain"))
               if blocklist else F.lit(False))
    return (dom.groupBy("domain")
               .agg(F.count(F.lit(1)).cast("long").alias("n_urls"),
                    F.count_distinct(F.col(id_col)).alias("n_docs"))
               .withColumn("blocked", blocked))


def nb_classify(train: DataFrame, test: DataFrame, id_col: str,
                text_col: str, label_col: str) -> DataFrame:
    """Multinomial Naive Bayes text classifier with Laplace smoothing —
    the fastText-style "train a filter model on labeled seed data,
    score the whole corpus" step of LLM curation recipes (quality
    classifiers in GPT-3/LLaMA data work; CCNet's fastText langid),
    expressed entirely in closed-form aggregations so training IS a
    groupBy (no iterative solver) and scoring IS a broadcast join:

      score(d, k) = ln P(k) + sum_t  c(d,t) * ln( (c(k,t)+1) / (N_k+V) )

    Train: one token explode feeds per-class token counts (c(k,t)),
    class token totals (N_k) and the vocabulary size V; class priors
    come from a doc-count groupBy. All four are vocabulary- or
    class-sized — broadcast back to the scoring side, so classifying
    100 TB is one tokenize pass + map-side joins, no shuffle on the
    corpus beyond the per-(doc, token) count.

    Predict: per-doc-per-class log scores, ranked per doc on the score
    ROUNDED to 6 decimals (both engines round before ranking — the
    cross-engine float contract used by every ranking entry) with the
    label as deterministic tiebreak. Docs with no tokens fall back to
    the prior; tokens unseen in training cost the smoothed floor
    1/(N_k+V).

    Returns (id, true_<label>, pred_<label>, log_score) for the test
    rows. Reference anchor: the reference has no classifier surface —
    this extends the pipeline suite per Joulin et al. 2016 (fastText)
    and McCallum & Nigam 1998 (multinomial NB), public."""
    from pyspark.sql import Window

    # NULL-label rows would otherwise form a phantom class whose
    # prior-only score (its token join never matches NULL) beats every
    # real class — unlabeled seed rows are simply not training data
    train = train.filter(F.col(label_col).isNotNull())
    tr_toks = train.select(F.col(label_col).alias("_lbl"),
                           F.explode(tokens(F.col(text_col))).alias("_t"))
    ct = tr_toks.groupBy("_lbl", "_t").agg(F.count(F.lit(1)).alias("_c"))
    ctot = ct.groupBy("_lbl").agg(F.sum("_c").alias("_ntok"))
    pri = train.groupBy(F.col(label_col).alias("_lbl")) \
               .agg(F.count(F.lit(1)).alias("_ndocs"))
    # scalar totals ride lazy 1-row broadcasts (the oracle's CROSS JOIN
    # shape) — no eager action at construction time
    tot = pri.agg(F.sum("_ndocs").cast("double").alias("_ntr"))
    voc = ct.agg(F.count_distinct("_t").cast("double").alias("_v"))
    cls = (pri.join(ctot, "_lbl", "left")
              .crossJoin(F.broadcast(tot))
              .select("_lbl",
                      F.coalesce("_ntok", F.lit(0)).alias("_ntok"),
                      F.log(F.col("_ndocs") / F.col("_ntr")).alias("_lpri")))

    te_toks = test.select(F.col(id_col),
                          F.explode(tokens(F.col(text_col))).alias("_t"))
    ttc = te_toks.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_tc"))
    stok = (ttc.crossJoin(F.broadcast(cls.select("_lbl", "_ntok")))
               .join(F.broadcast(ct), ["_lbl", "_t"], "left")
               .crossJoin(F.broadcast(voc))
               .withColumn("_lnp", F.log(
                   (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1))
                   # greatest(..., 1): identity whenever the vocabulary
                   # is non-empty (V >= 1); with an EMPTY training
                   # vocabulary (all train text empty) the smoothed
                   # model is undefined — ln(1/1) = 0 makes every token
                   # cost nothing and scoring falls back to the prior,
                   # instead of a divide-by-zero under ANSI
                   / F.greatest(F.col("_ntok") + F.col("_v"),
                                F.lit(1.0).cast("double"))))
               .groupBy(id_col, "_lbl")
               .agg(F.sum(F.col("_tc") * F.col("_lnp")).alias("_stok")))

    true_col = f"true_{label_col}"
    base = test.select(F.col(id_col), F.col(label_col).alias(true_col)) \
               .crossJoin(F.broadcast(cls.select("_lbl", "_lpri")))
    scored = base.join(stok, [id_col, "_lbl"], "left") \
                 .withColumn("_score", F.round(
                     F.col("_lpri")
                     + F.coalesce(F.col("_stok"), F.lit(0.0).cast("double")),
                     6))
    w = Window.partitionBy(id_col).orderBy(F.col("_score").desc(),
                                           F.col("_lbl"))
    return (scored.withColumn("_rk", F.row_number().over(w))
                  .filter(F.col("_rk") == 1)
                  .select(id_col, true_col,
                          F.col("_lbl").alias(f"pred_{label_col}"),
                          F.col("_score").alias("log_score")))


def gopher_quality_flags(df: DataFrame, id_col: str,
                         text_col: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, Appendix A1.1 — public;
    the rule set MassiveText, RefinedWeb and Dolma all start from),
    as named per-document flags rather than one blended score:

      wc_ok       50 <= word count <= 100,000
      wlen_ok     3 <= mean word length <= 10
      sym_ok      (# + ellipsis) to word ratio <= 0.1
      bullet_ok   <= 90% of lines bullet-started, <= 30% ellipsis-ended
      alpha_ok    >= 80% of words contain an alphabetic character
      stop_ok     >= 2 distinct Gopher stop words present

    ``keep`` is the conjunction. Words are whitespace splits (the
    paper's definition — NOT the alnum tokenizer, which would delete
    the symbols rule 3 counts). Zero-shuffle: every rule is a per-row
    array fold over one split, whole-stage-codegen friendly; the whole
    table is a map-side projection at any scale. All regexes restrict
    to explicit ASCII classes so Java (Spark) and RE2 (DuckDB oracle)
    dialects agree."""
    cols = _gopher_flag_cols(F.col(text_col))
    flags = [c.alias(n) for n, c in cols.items()]
    return df.select(F.col(id_col), *flags).withColumn(
        "keep",
        F.col("wc_ok") & F.col("wlen_ok") & F.col("sym_ok")
        & F.col("bullet_ok") & F.col("alpha_ok") & F.col("stop_ok"))


def gopher_keep(text: Column) -> Column:
    """The conjunction of every Gopher rule as ONE inline column — for
    filtering in place (e.g. curate_corpus's opt-in gate) without the
    flags projection or a join back: a pure map-side predicate."""
    cols = _gopher_flag_cols(text)
    out = None
    for name, c in cols.items():
        if name == "n_words":
            continue
        out = c if out is None else (out & c)
    return out


def _gopher_flag_cols(text: Column) -> dict:
    """Column expressions for each Gopher rule over one text column
    (shared by the flags projection and the inline keep predicate)."""
    t = F.coalesce(text, F.lit(""))
    words = F.filter(F.split(t, "[ \t\n\r]+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    sum_len = F.aggregate(words, F.lit(0).cast("long"),
                          lambda a, w: a + F.length(w))
    mean_wlen = sum_len.cast("double") / n_words
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) \
        / F.lit(3) \
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    sym_ratio = (hashes + ell) / n_words
    # split on \r?\n so CRLF text doesn't leave \r on every line; anchor
    # the ellipsis rule with \z, not $ — Java's non-MULTILINE $ also
    # matches before a final line terminator (\r etc.) while RE2's $ is
    # end-of-text only, so $ would silently diverge from the oracle on
    # CRLF documents
    lines = F.filter(F.split(t, "\r?\n"), lambda x: x != F.lit(""))
    n_lines = F.size(lines)
    bullet_frac = F.size(F.filter(
        lines, lambda x: x.rlike("^[ \t]*[-*•] "))) / n_lines
    ellend_frac = F.size(F.filter(
        lines, lambda x: x.rlike("(\\.\\.\\.|…)\\z"))) / n_lines
    alpha_frac = F.size(F.filter(
        words, lambda w: w.rlike("[a-zA-Z]"))) / n_words
    stops = F.array(*[F.lit(s) for s in
                      ("the", "be", "to", "of", "and",
                       "that", "have", "with")])
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(F.transform(words, F.lower)), stops))
    empty = n_words == 0
    return {
        "n_words": n_words.cast("long"),
        "wc_ok": (n_words >= 50) & (n_words <= 100000),
        "wlen_ok": F.when(empty, F.lit(False))
                    .otherwise((mean_wlen >= 3.0) & (mean_wlen <= 10.0)),
        "sym_ok": F.when(empty, F.lit(False))
                   .otherwise(sym_ratio <= 0.1),
        "bullet_ok": F.when(n_lines == 0, F.lit(True))
                      .otherwise((bullet_frac <= 0.9)
                                 & (ellend_frac <= 0.3)),
        "alpha_ok": F.when(empty, F.lit(False))
                     .otherwise(alpha_frac >= 0.8),
        "stop_ok": stop_hits >= 2,
    }
