"""Hashed n-gram LM: distributed training.

Graft slot: the evalresp per-target model (ispaq/utils.py:558-673,
ispaq/evalresp.py:26-238) — an auxiliary model table computed once, then
joined against every unit of work. Here: a KenLM-style stupid-backoff
n-gram table (contract: FNV-1a-hashed "k|gram" keys -> counts), trained
distributedly with explode + groupBy (map-side partial aggregation), then
``sparkContext.broadcast`` to executors where the pipeline's one Arrow
stage (functions/extraction.py) scores each document with the SAME scorer
the reference labeler uses (reference_impl.score_logprob) — one code path,
exact parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..contract import LM_MIN_COUNT, LM_ORDER, ngram_hash
from ..operators.dedup import shingles_of
from ..reference_impl import TOTAL_UNIGRAMS_KEY


def kgrams_col(toks: Column, order: int = LM_ORDER) -> Column:
    """Array of "k|gram" strings for k=1..order — pure Catalyst, built with
    the closure-free zip_with shingler so training counts never leave the
    JVM and no optimizer rewrite can make gram construction O(len^2)."""

    def kpart(k: int):
        # Closure-free shingles (operators/dedup.py::shingles_of): the
        # transform-with-slice form re-evaluates the inlined split per
        # element (O(len^2) on a 10^6-token doc). The prefixing lambda
        # below touches only its element argument, so it stays O(1) per
        # element under any optimizer rewrite.
        prefix = f"{k}|"
        return F.coalesce(
            F.transform(
                shingles_of(toks, k),
                lambda s: F.concat(F.lit(prefix), s),
            ),
            F.array().cast("array<string>"),
        )

    parts = [kpart(k) for k in range(1, order + 1)]
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


def train_lm_distributed(
    corpus: DataFrame,
    text_col: str = "text",
    order: int = LM_ORDER,
    min_count: int = LM_MIN_COUNT,
) -> dict[int, float]:
    """explode(kgrams) -> groupBy(gram).count() -> PRUNE -> driver dict.

    The shuffle is a hash-agg with map-side combine, but the *distinct*
    n-gram table after the agg is corpus-sized (singletons dominate,
    especially at order 5) — collecting it unpruned OOMs the driver at web
    scale. The ``count >= min_count`` filter runs cluster-side, so only the
    model-sized surviving table crosses to the driver; the uniform
    threshold preserves the scorer's backoff superset property (see
    contract.LM_MIN_COUNT). The unigram total (the denominator of unigram
    probabilities) is computed PRE-prune by a separate map-only pass —
    deriving it from pruned rows would drop singleton mass.

    Mirrors reference_impl.train_lm exactly, including prune-per-gram-
    string before hash-merge; test_perplexity asserts table equality and
    that the collected size stays bounded as the corpus grows.
    """
    total1 = (
        corpus.select(
            F.sum(F.size(F.split(F.col(text_col), " "))).alias("t")
        ).collect()[0]["t"]
        or 0
    )
    rows = (
        corpus.withColumn("_toks", F.split(F.col(text_col), " "))
        .select(F.explode(kgrams_col(F.col("_toks"), order)).alias("g"))
        .groupBy("g")
        .count()
        .where(F.col("count") >= min_count)
        .collect()
    )
    model: dict[int, float] = {}
    for row in rows:
        h = ngram_hash(row["g"])
        model[h] = model.get(h, 0.0) + float(row["count"])
    model[TOTAL_UNIGRAMS_KEY] = float(total1)
    return model
