"""Hashed n-gram LM: distributed training.

Graft slot: the evalresp per-target model (ispaq/utils.py:558-673,
ispaq/evalresp.py:26-238) — an auxiliary model table computed once, then
joined against every unit of work. Here: a KenLM-style stupid-backoff
n-gram table (reference_impl.NgramLM: sorted 64-bit keys from
contract.ngram_key -> counts), trained distributedly with explode + groupBy
(map-side partial aggregation). The pipeline's one Arrow stage
(functions/extraction.py) broadcasts it once per session and scores every
Arrow batch with the SAME scorer the reference labeler uses
(reference_impl.perplexities) — one code path, exact parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..contract import LM_MIN_COUNT, LM_ORDER
from ..operators.dedup import shingles_of
from ..reference_impl import NgramLM


def kgrams_col(toks: Column, order: int = LM_ORDER) -> Column:
    """Array of the 1..order-gram strings ("tok tok ...") — pure Catalyst,
    built with the closure-free zip_with shingler so training counts never
    leave the JVM and no optimizer rewrite can make gram construction
    O(len^2) (see operators/dedup.py::shingles_of). A gram's order is its
    token count: tokens never contain the separator."""
    parts = [
        F.coalesce(shingles_of(toks, k), F.array().cast("array<string>"))
        for k in range(1, order + 1)
    ]
    return F.concat(*parts)


def train_lm_distributed(
    corpus: DataFrame,
    text_col: str = "text",
    order: int = LM_ORDER,
    min_count: int = LM_MIN_COUNT,
) -> NgramLM:
    """explode(kgrams) -> groupBy(gram).count() -> PRUNE -> driver table.

    The shuffle is a hash-agg with map-side combine, but the *distinct*
    n-gram table after the agg is corpus-sized (singletons dominate,
    especially at order 5) — collecting it unpruned OOMs the driver at web
    scale. The ``count >= min_count`` filter runs cluster-side, so only the
    model-sized surviving table crosses to the driver; the uniform
    threshold preserves the scorer's backoff superset property (see
    contract.LM_MIN_COUNT). The unigram total (the denominator of unigram
    probabilities) is computed PRE-prune by a separate map-only pass —
    deriving it from pruned rows would drop singleton mass.

    Mirrors reference_impl.train_lm exactly: prune per gram string, then
    key on the driver with the same NgramLM.from_counts; test_perplexity
    asserts table equality and that the collected size stays bounded as
    the corpus grows.
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
    return NgramLM.from_counts([(r["g"], r["count"]) for r in rows], total1)
