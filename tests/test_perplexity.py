"""The n-gram LM: the pruned model stays bounded as the corpus grows, its
keys do not collide on the default corpus, and the batch scorer is
bit-for-bit the single-text scorer."""

from __future__ import annotations

import math

from ispaq_spark.reference_impl import perplexity, train_lm
from ispaq_spark.synthesize import lm_corpus


def test_collected_model_size_bounded():
    """The pruned NgramLM stays an order of magnitude below the
    `min_count=1` one at every corpus size: the singleton grams, the
    corpus-sized tail, never enter the model table."""
    for n in (150, 600):
        corpus = list(lm_corpus(n))
        pruned = train_lm(corpus)
        raw = train_lm(corpus, min_count=1)
        assert len(pruned) < len(raw) / 10, (n, len(pruned), len(raw))


def test_no_key_collisions_in_default_corpus():
    """No two distinct surviving grams of the default LM corpus share a
    key, so the default table holds every surviving gram's exact count."""
    from collections import Counter

    from ispaq_spark.contract import LM_MIN_COUNT, LM_ORDER, ngram_key

    counts: Counter[str] = Counter()
    for doc in lm_corpus():
        toks = doc.split(" ")
        for k in range(1, LM_ORDER + 1):
            counts.update(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
    surviving = [g for g, c in counts.items() if c >= LM_MIN_COUNT]
    keys = {ngram_key(g.split(" ")) for g in surviving}
    assert len(keys) == len(surviving)
    assert len(train_lm(list(lm_corpus()))) == len(surviving)


def test_python_key_equals_numpy_key():
    """contract.ngram_key (Python ints, the trainer) equals
    reference_impl.ngram_keys (uint64 arrays, the scorer) on random grams,
    non-ASCII tokens included."""
    import random

    from ispaq_spark.contract import LM_ORDER, ngram_key
    from ispaq_spark.reference_impl import ngram_keys, token_hashes

    rng = random.Random(7)
    alphabet = "abcxyzäöüßéñçøЖж中文🙂'-.,0189"
    for _ in range(300):
        toks = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 9)))
            for _ in range(rng.randint(1, 12))
        ]
        h = token_hashes(" ".join(toks))
        assert len(h) == len(toks)
        for k in range(1, min(LM_ORDER, len(toks)) + 1):
            keys = ngram_keys(h, k)
            for i in range(len(toks) - k + 1):
                assert int(keys[i]) == ngram_key(toks[i : i + k]), toks[i : i + k]


def _mixed_batch():
    import random

    rng = random.Random(11)
    vocab = sorted({w for d in lm_corpus() for w in d.split(" ")})
    long_doc = " ".join(rng.choice(vocab) for _ in range(100_000))
    return [
        None,
        "solo",
        "zzqq wwrr ttyy",  # every token unseen: the floor
        long_doc,
        *lm_corpus()[:20],
        None,
        "Iñtërnâtiônàl wordish 🙂",
    ]


def test_batch_scorer_bitwise_equals_single_text(model):
    """One batch call and one call per text give the same bits: math.fsum
    per document makes the sum independent of where a text sits."""
    from ispaq_spark.reference_impl import perplexities

    batch = _mixed_batch()
    got = perplexities(batch, model)
    want = [None if t is None else perplexity(t, model) for t in batch]
    assert got == want
    assert got[0] is None and got[-2] is None
    assert got[2] == math.exp(12.0)


def test_scorer_chunks_on_token_count(model, monkeypatch):
    """The per-order working arrays never span more than LM_CHUNK_TOKENS
    tokens plus LM_ORDER - 1 of context, whatever the document lengths,
    and chunking does not change a single bit."""
    from ispaq_spark import reference_impl as ri

    batch = _mixed_batch()
    whole = ri.perplexities(batch, model)
    seen = []
    inner = ri._token_logprobs

    def recording(tok_h, pos, m, order):
        seen.append(len(tok_h))
        return inner(tok_h, pos, m, order)

    monkeypatch.setattr(ri, "LM_CHUNK_TOKENS", 1000)
    monkeypatch.setattr(ri, "_token_logprobs", recording)
    assert ri.perplexities(batch, model) == whole
    assert len(seen) > 100 and max(seen) <= 1000 + ri.LM_ORDER - 1


def test_empty_model_scores_floor():
    from ispaq_spark.reference_impl import perplexities

    empty = train_lm([])
    assert len(empty) == 0
    assert perplexities(["a b c", None, "x"], empty) == [
        math.exp(12.0),
        None,
        math.exp(12.0),
    ]
