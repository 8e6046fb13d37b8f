"""The heuristic metrics: reference_impl.heuristic_metrics (the pipeline's
Arrow stage and the oracle) equals the formulas it replaced, and
with_heuristics equals the Python reference metric-for-metric (exact
doubles, not approximate) on the fixture corpus."""

from __future__ import annotations

import random
import re

import pytest

from ispaq_spark.contract import (
    COMPILED_SCRUB_RULES,
    LANGS,
    PII_COMBINED_PATTERN,
    STOPWORDS,
    SYMBOL_PATTERN,
)
from ispaq_spark.functions.extraction import HEURISTIC_COLUMNS
from ispaq_spark.functions.heuristics import with_heuristics
from ispaq_spark.reference_impl import compute_metrics, heuristic_metrics


# pred_lang/lang_conf come from the langid classifier stage
# (tests/test_langid.py); this file covers the heuristics.
METRIC_COLS = (
    "word_count",
    "mean_word_len",
    "max_word_len",
    "stopword_ratio",
    "symbol_word_ratio",
    "dup_5gram_frac",
    "num_pii",
    "num_tox",
)


@pytest.fixture(scope="module")
def joined(spark, fixture_pages, fixture_labels, model):
    texts = [
        (url, lab["text"])
        for url, lab in fixture_labels.items()
        if lab["text"] is not None
    ]
    df = spark.createDataFrame(texts, ["url", "text"])
    got = {r["url"]: r for r in with_heuristics(df, "text").collect()}
    want = {
        url: compute_metrics(text, model) for url, text in texts
    }
    return got, want


def test_exact_metric_parity(joined):
    got, want = joined
    assert len(got) == len(want) > 300
    for url, m in want.items():
        r = got[url]
        for c in METRIC_COLS:
            g, w = r[c], getattr(m, c)
            assert g == w, f"{url} {c}: spark={g!r} python={w!r}"


def test_null_text_rows_null_metrics(spark):
    df = spark.createDataFrame([("u1", None), ("u2", "a b")], ["url", "text"])
    rows = {r["url"]: r for r in with_heuristics(df, "text").collect()}
    assert rows["u1"]["word_count"] is None
    assert rows["u1"]["stopword_ratio"] is None
    assert rows["u2"]["word_count"] == 2


def _formulas(text: str) -> dict:
    """The heuristics as compute_metrics wrote them before
    heuristic_metrics: " "-joined 5-gram strings and generator stopword
    counts over the contract's tuples."""
    tokens = text.split(" ")
    n = len(tokens)
    hits = max(sum(1 for t in tokens if t in STOPWORDS[lang]) for lang in LANGS)
    if n >= 5:
        grams = [" ".join(tokens[i : i + 5]) for i in range(n - 4)]
        dup_frac = 1.0 - len(set(grams)) / len(grams)
    else:
        dup_frac = 0.0
    (tox,) = [pat for name, pat, _ in COMPILED_SCRUB_RULES if name == "tox"]
    return {
        "word_count": n,
        "mean_word_len": (len(text) - n + 1) / n,
        "max_word_len": max(len(t) for t in tokens),
        "stopword_ratio": hits / n,
        "symbol_word_ratio": len(re.findall(SYMBOL_PATTERN, text)) / n,
        "dup_5gram_frac": dup_frac,
        "num_pii": len(re.findall(PII_COMBINED_PATTERN, text)),
        "num_tox": len(tox.findall(text)),
    }


def _long_doc() -> str:
    rng = random.Random(7)
    vocab = [*STOPWORDS["en"], *STOPWORDS["de"], "alpha", "beta", "x" * 30, "#!"]
    return " ".join(rng.choice(vocab) for _ in range(100_000))


_TEXTS = {
    "one_token": "word",
    "four_tokens": "the cat and dog",
    "five_tokens": "the cat and the dog",
    "all_repeated": " ".join(["the"] * 60),
    "repeated_5gram": " ".join(["a b c d e"] * 20),
    "double_spaces": "the  cat   and  the dog  ",
    "only_spaces": "   ",
    "astral_rtl": "𝔘𝔫𝔦 😀😀 שלום עולם مرحبا بالعالم the 𝔘𝔫𝔦 😀😀 שלום עולם",
    "pii_dense": " ".join(
        ["mail a.b@ex.com 123-45-6789 (555) 123-4567 10.0.0.1 frak"] * 200
    ),
    "long_doc": _long_doc(),
}


def test_heuristic_columns_are_the_stage_columns():
    assert tuple(heuristic_metrics("a b")) == tuple(HEURISTIC_COLUMNS)


@pytest.mark.parametrize("name", sorted(_TEXTS))
def test_heuristic_metrics_equal_the_old_formulas(name):
    text = _TEXTS[name]
    got, want = heuristic_metrics(text), _formulas(text)
    assert got == want
    for c, v in got.items():
        assert type(v) is type(want[c]), c  # ints stay ints
