"""Property-based parity: with_heuristics must equal the pure-Python
reference (reference_impl.compute_metrics and the stopword vote
reference_impl.langid) EXACTLY — same integers, bit-identical doubles,
same vote — on arbitrary token soups, not just the curated fixture
corpus.

Batched: each hypothesis example is a whole corpus, so one Spark job
checks ~40 documents at once.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from ispaq_spark.contract import STOPWORDS, TOX_LEXICON
from ispaq_spark.functions.heuristics import with_heuristics

_VOCAB = (
    sorted(STOPWORDS["en"])[:10]
    + sorted(STOPWORDS["es"])[:10]
    + sorted(STOPWORDS["de"])[:5]
    + ["wordish", "tokenly", "zqzqzq", "a", "Iñtërnâtiônàl", "x" * 50]
    + ["###", "%^&*", "user7@example1.com", "192.168.0.1"]
    + list(TOX_LEXICON)[:2]
)

_token = st.sampled_from(_VOCAB)
_doc = st.lists(_token, min_size=1, max_size=60).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=40)

_CHECK_COLS = (
    "word_count",
    "mean_word_len",
    "max_word_len",
    "stopword_ratio",
    "symbol_word_ratio",
    "dup_5gram_frac",
    "num_pii",
    "num_tox",
)


@settings(max_examples=5, deadline=None)
@given(corpus=_corpus)
def test_heuristics_bitwise_parity(spark, corpus):
    from ispaq_spark.reference_impl import compute_metrics, langid, train_lm

    # model only affects perplexity, which is not among _CHECK_COLS
    dummy_model = train_lm([])
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in with_heuristics(df, "text").collect()}
    for i, text in enumerate(corpus):
        ref = compute_metrics(text, dummy_model)
        got = rows[i]
        assert got["word_count"] == ref.word_count, text
        assert got["mean_word_len"] == ref.mean_word_len, text  # exact IEEE
        assert got["max_word_len"] == ref.max_word_len, text
        assert got["stopword_ratio"] == ref.stopword_ratio, text
        assert got["symbol_word_ratio"] == ref.symbol_word_ratio, text
        assert got["dup_5gram_frac"] == ref.dup_5gram_frac, text
        assert got["num_pii"] == ref.num_pii, text
        assert got["num_tox"] == ref.num_tox, text
        assert got["stopword_lang"] == langid(text.split(" "))[0], text
