"""Distributed BPE (byte-pair-encoding) tokenizer trainer over a document
corpus — the vocabulary-learning stage of a training-data pipeline
(the `bpe_pair_counts` driver query certifies `word_frequencies` and
`pair_counts`, one merge round's statistic, against DuckDB).

Scale shape: the corpus is collapsed ONCE to the word-frequency table
(map-side partial agg → vocab-sized shuffle); every merge round after that
runs on |vocab| rows, never |corpus| — the reason BPE training is feasible
at 10^12 documents. Per round: adjacent-pair counts are an in-row
arrays_zip explode plus an aggregation whose output is bounded by the
current symbol alphabet squared; the argmax pair is a 1-row TakeOrdered
collect (model-sized, like kmeans' k×dim); the merge rewrite is a
vectorized Arrow pass over the vocab. Each round's vocab cuts lineage with
localCheckpoint — never persist/unpersist in the loop (the recompute
cascade documented in operators/components.py).

Determinism: the merge argmax orders by (count DESC, left symbol, right
symbol), so every run — and the pure-Python twin in the parity test —
produces the identical merge list.

Graft slot: the reference's auxiliary-model fitting workflow (evalresp /
noise-model artifacts built from the data then applied to it,
ispaq/evalresp.py usage in simple_metrics.py) — here the fitted artifact
is the merge table a tokenizer ships.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def word_frequencies(
    docs: DataFrame, text_col: str = "text", min_len: int = 2
) -> DataFrame:
    """Corpus -> (word, freq) vocabulary table; the only corpus-sized pass
    in BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.length("word") >= min_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts weighted by word frequency. In-row
    explode of arrays_zip(sym[:-1], sym[1:]) — no pre-shuffle blowup."""
    n = F.size("sym")
    z = F.arrays_zip(
        F.slice("sym", 1, n - 1).alias("a"),
        F.slice("sym", 2, n - 1).alias("b"),
    )
    return (
        vocab.where(n >= 2)
        .select(F.explode(z).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def _merge_round_udf(a: str, b: str):
    """Arrow UDF rewriting each symbol array with one (a,b)->ab merge,
    left-to-right non-overlapping — the canonical BPE merge rule."""
    merged = a + b

    @pandas_udf("array<string>")
    def merge(sym: pd.Series) -> pd.Series:
        def one(s):
            out = []
            i, n = 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out

        return sym.map(one)

    return merge


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_len: int = 2,
) -> list[tuple[str, str]]:
    """Learn `num_merges` BPE merges from a document corpus. Returns the
    ordered merge list [(left, right), ...]."""
    # split on zero-width (?!^) yields chars, plus a trailing "" (Spark's
    # split keeps trailing empties, limit=-1) — strip it
    vocab = word_frequencies(docs, text_col, min_len).select(
        "freq", F.array_remove(F.split("word", "(?!^)"), "").alias("sym")
    )
    vocab = vocab.localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = vocab.select(
            "freq", _merge_round_udf(a, b)(F.col("sym")).alias("sym")
        ).localCheckpoint()
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply a learned merge table to one word (GPT-2 style: repeatedly
    merge every occurrence of the lowest-ranked bigram present). Shared by
    the local twin and the distributed UDF so parity is by construction."""
    sym = list(word)
    while len(sym) >= 2:
        best_rank = None
        best_pair = None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (sym[i], sym[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def encode_text_udf(spark, merges: list[tuple[str, str]]):
    """Arrow UDF tokenizing a text column with a learned merge table:
    whitespace-split then per-word BPE. The merge table rides ONE broadcast
    (model-sized, like langid weights) — scoring is map-only; no shuffle,
    no per-row Python round-trips (Arrow batches)."""
    bc = spark.sparkContext.broadcast(
        {tuple(p): i for i, p in enumerate(merges)}
    )

    @pandas_udf("array<string>")
    def encode(text: pd.Series) -> pd.Series:
        ranks = bc.value

        def one(s):
            toks: list[str] = []
            for w in (s or "").split(" "):
                if w:
                    toks.extend(encode_word(w, ranks))
            return toks

        return text.map(one)

    return encode


def train_bpe_local(
    word_freqs: dict[str, int], num_merges: int = 8
) -> list[tuple[str, str]]:
    """Pure-Python reference twin (parity oracle for train_bpe): identical
    statistic, argmax rule, and merge rewrite, on a local dict."""
    vocab = [(list(w), f) for w, f in word_freqs.items()]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, f in vocab:
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), _cnt = best
        merges.append((a, b))
        nxt = []
        for sym, f in vocab:
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nxt.append((out, f))
        vocab = nxt
    return merges
