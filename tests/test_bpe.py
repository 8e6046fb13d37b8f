"""BPE word-frequency table: the corpus pass of the pair statistic the
`bpe_pair_counts` driver query certifies."""

from __future__ import annotations

from ispaq_spark.operators.bpe import word_frequencies

CORPUS = [
    "low low low low low lower lower newest newest newest",
    "newest newest newest widest widest widest new new hug",
    "hug hug hug hugs pug pun bun bun lower low newest",
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(CORPUS)], "doc_id long, text string"
    )


def test_word_frequencies_min_len(spark):
    rows = {
        r["word"]: r["freq"]
        for r in word_frequencies(_docs(spark), min_len=4).collect()
    }
    assert rows["newest"] == 7
    assert "hug" not in rows  # len 3 < min_len 4
