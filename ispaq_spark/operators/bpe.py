"""The corpus statistics of BPE (byte-pair-encoding) tokenizer training:
the word-frequency table and one merge round's adjacent-pair counts (the
`bpe_pair_counts` driver query certifies both against DuckDB).

Scale shape: the corpus is collapsed ONCE to the word-frequency table
(map-side partial agg → vocab-sized shuffle), so pair counting runs on
|vocab| rows, never |corpus|: an in-row arrays_zip explode plus an
aggregation whose output is bounded by the symbol alphabet squared.

Graft slot: the reference's auxiliary-model fitting workflow (evalresp /
noise-model artifacts built from the data then applied to it,
ispaq/evalresp.py usage in simple_metrics.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_frequencies(
    docs: DataFrame, text_col: str = "text", min_len: int = 2
) -> DataFrame:
    """Corpus -> (word, freq) vocabulary table; the only corpus-sized pass."""
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
