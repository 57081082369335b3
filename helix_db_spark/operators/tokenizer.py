"""Trainable BPE tokenizer: distributed word-frequency pass + classic
byte-pair-encoding merge training (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units", ACL) and
Arrow-batched corpus encoding.

Why this shape scales to 100 TB: the ONLY full-corpus pass is a
pre-tokenize -> explode -> groupBy word-count (map-side combined, one
shuffle on the word key). Merge training then runs on the driver over
the BOUNDED word-frequency dictionary (top `max_words` types — the same
word-level training set HuggingFace `tokenizers` / subword-nmt build),
so training cost is independent of corpus size. Encoding broadcasts the
merge ranks and applies the greedy lowest-rank merge loop per word in an
Arrow-batched pandas UDF with a per-batch word memo (Zipf makes the memo
hit rate very high), never a row-at-a-time Python UDF.

Reference parity: the reference engine ships no tokenizer (its text
surface is BM25 search, helix-db/helix-core/src/bm25.rs); this module is
part of the LLM-training-data suite layered on top, with
`bpe_token_estimate` (textstats.py) remaining the zero-vocab estimator.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .textstats import BPE_PRETOKEN_RE

# End-of-word sentinel, as in Sennrich 2016 Fig. 1. '</w>' can never be
# produced by BPE_PRETOKEN_RE (pre-tokens never contain both '<' and
# letters), so it is unambiguous in the symbol stream.
EOW = "</w>"

# re.ASCII: Python's \s is Unicode-aware but Java's (Spark, where
# word_frequencies runs the same pattern) is ASCII-only — without the
# flag, U+00A0/U+3000 etc. are pre-tokens on the train side and skipped
# on the encode side
_PRETOK = re.compile(BPE_PRETOKEN_RE, re.ASCII)


def word_frequencies(docs: DataFrame, text_col: str = "text",
                     max_words: int | None = None) -> DataFrame:
    """Distributed (word, freq) over BPE_PRETOKEN_RE pre-tokens — the
    one full-corpus pass of BPE training. `max_words` keeps the driver
    state bounded: top-N word types by (freq DESC, word ASC), a global
    top-k that Spark executes as per-partition partial top-k +
    TakeOrderedAndProject (no full sort)."""
    wf = (docs
          .select(F.explode(
              F.regexp_extract_all(F.col(text_col),
                                   F.lit(BPE_PRETOKEN_RE), 0))
              .alias("word"))
          .groupBy("word").agg(F.count("*").alias("freq")))
    if max_words is not None:
        wf = wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)
    return wf


def _merge_word(syms: tuple[str, ...], pair: tuple[str, str],
                joined: str) -> tuple[str, ...]:
    out = []
    i = 0
    while i < len(syms):
        if (i + 1 < len(syms) and syms[i] == pair[0]
                and syms[i + 1] == pair[1]):
            out.append(joined)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


@dataclass(frozen=True)
class BpeModel:
    """Ordered merge list + derived rank table. Deterministic for a
    given word-frequency dict: ties in pair frequency break
    lexicographically (paper order for the Fig. 1 corpus)."""

    merges: tuple[tuple[str, str], ...]

    @cached_property
    def ranks(self) -> dict[tuple[str, str], int]:
        # cached_property writes through __dict__, which frozen
        # dataclasses permit; without the cache every encode_word call
        # would rebuild an O(num_merges) dict
        return {p: r for r, p in enumerate(self.merges)}

    def encode_word(self, word: str,
                    _ranks: dict | None = None) -> tuple[str, ...]:
        """Greedy lowest-rank merge loop (the standard BPE inference:
        repeatedly merge the present pair with the smallest training
        rank). Characters unseen at training time simply stay single
        symbols."""
        ranks = self.ranks if _ranks is None else _ranks
        syms = tuple(word) + (EOW,)
        while len(syms) > 1:
            best = min(zip(syms, syms[1:]),
                       key=lambda p: ranks.get(p, 1 << 60))
            if best not in ranks:
                break
            syms = _merge_word(syms, best, best[0] + best[1])
        return syms

    def encode_text(self, text: str) -> list[str]:
        toks: list[str] = []
        for w in _PRETOK.findall(text):
            toks.extend(self.encode_word(w))
        return toks

    # -- persistence: merges.txt-shaped parquet (rank, left, right) ----
    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [(r, a, b) for r, (a, b) in enumerate(self.merges)]
        return spark.createDataFrame(rows, "rank INT, left STRING, "
                                           "right STRING")

    def save(self, spark: SparkSession, path: str) -> None:
        self.to_df(spark).coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "BpeModel":
        rows = spark.read.parquet(path).orderBy("rank").collect()
        return cls(merges=tuple((r["left"], r["right"]) for r in rows))


def bpe_train_from_frequencies(word_freq: dict[str, int],
                               num_merges: int) -> BpeModel:
    """Driver-side Sennrich training over a bounded word-frequency
    dict. Incremental: an inverted pair -> word-ids index means each
    merge touches only the words that actually contain the winning
    pair, so cost is ~O(num_merges * occurrences), not
    O(num_merges * |vocab|)."""
    words = [(tuple(w) + (EOW,), f) for w, f in word_freq.items() if w]
    counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for wid, (syms, freq) in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] = counts.get(p, 0) + freq
            index.setdefault(p, set()).add(wid)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not counts:
            break
        # deterministic argmax: freq DESC then pair lexicographic ASC
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        joined = best[0] + best[1]
        for wid in sorted(index.get(best, ())):
            syms, freq = words[wid]
            for p in zip(syms, syms[1:]):
                rem = counts[p] - freq
                if rem:
                    counts[p] = rem
                else:
                    del counts[p]
                ws = index.get(p)
                if ws is not None:
                    ws.discard(wid)
                    if not ws:
                        del index[p]
            new = _merge_word(syms, best, joined)
            words[wid] = (new, freq)
            for p in zip(new, new[1:]):
                counts[p] = counts.get(p, 0) + freq
                index.setdefault(p, set()).add(wid)
        merges.append(best)
    return BpeModel(merges=tuple(merges))


def bpe_train(docs: DataFrame, num_merges: int = 1000,
              text_col: str = "text",
              max_words: int | None = 200_000) -> BpeModel:
    """Full pipeline: one distributed word-count pass, then driver-side
    merge training on the bounded type dictionary."""
    wf = word_frequencies(docs, text_col, max_words=max_words)
    return bpe_train_from_frequencies(
        {r["word"]: r["freq"] for r in wf.collect()}, num_merges)


def bpe_encode(docs: DataFrame, model: BpeModel, text_col: str = "text",
               out_col: str = "bpe_tokens") -> DataFrame:
    """Tokenize a corpus column with a trained model. The merge-rank
    table rides a Spark broadcast (one copy per executor, not per
    task); the pandas UDF memoizes word -> tokens per batch."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(model.merges)

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        m = BpeModel(merges=bc.value)
        ranks = m.ranks
        memo: dict[str, tuple[str, ...]] = {}

        def one(t):
            toks: list[str] = []
            for w in _PRETOK.findall(t or ""):
                got = memo.get(w)
                if got is None:
                    got = memo[w] = m.encode_word(w, ranks)
                toks.extend(got)
            return toks

        return texts.map(one)

    return docs.withColumn(out_col, enc(F.col(text_col)))


def bpe_decode_col(tokens_col):
    """Inverse of encode, pure built-ins: concatenate symbols, then each
    EOW marker becomes a single space (trailing one trimmed). Lossless
    back to the space-joined pre-token stream."""
    return F.trim(F.regexp_replace(
        F.concat_ws("", tokens_col), re.escape(EOW), " "))
