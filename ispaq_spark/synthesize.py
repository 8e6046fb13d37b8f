"""Deterministic synthetic `pages` fixture generator (FIXTURES.md §1).

Index-addressable: ``make_page(i, seed)`` is a pure function of (i, seed), so
generation distributes over executors via ``spark.range(n).mapInPandas`` —
the fixture scales to bench sizes without driver-side loops, and any single
document can be regenerated for debugging. Domains are Zipf-ish (a few hot
domains) to exercise the skew/salting path the north rule demands.

Document categories shape the metric distributions (the analog of the
reference's golden miniSEED days with known gaps/spikes,
/root/reference/test_data/II.KAPI.00.BHZ.2013.005-007.M):
  clean     -> keep
  short     -> drop (word_count)
  spam      -> drop (dup_5gram_frac)
  symbol    -> drop (symbol_word_ratio)
  gibberish -> drop (perplexity / lang_conf)
  longword  -> drop (max_word_len)
plus orthogonal PII/toxicity injection (scrub surface) and a slice of
null/undecodable html (quarantine surface, qualityFlag=-9 analog).
"""

from __future__ import annotations

import datetime as dt
import random
from functools import lru_cache
from typing import TYPE_CHECKING, Iterator

from .contract import LANGS, STOPWORDS, TOX_LEXICON

if TYPE_CHECKING:
    from .reference_impl import NgramLM

SEED = 42
LM_CORPUS_SEED = 777
N_DAYS = 5
EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

_SYLLABLES = {
    "en": ["wor", "ker", "ton", "ing", "led", "ster", "ban", "fel", "mor", "dan"],
    "es": ["ca", "ro", "men", "ta", "dor", "illo", "pa", "que", "son", "ver"],
    "de": ["schaft", "ung", "ber", "stein", "hof", "wald", "mann", "bach", "feld", "burg"],
    "fr": ["eau", "mont", "voi", "lac", "che", "ier", "ron", "bel", "sur", "noir"],
    "it": ["etto", "ino", "are", "mento", "ella", "osa", "ante", "ucci", "ria", "vole"],
}

_SYMBOL_JUNK = ["#$%", "^&*", "~|{}", "[]+=", "###", "%%%", "*^~"]


@lru_cache(maxsize=None)
def _vocab(lang: str) -> list[str]:
    """60 deterministic content words per language, distinct across langs."""
    rng = random.Random(f"vocab-{lang}")
    syl = _SYLLABLES[lang]
    words = set()
    while len(words) < 60:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 3)))
        if w not in STOPWORDS[lang]:
            words.add(w)
    return sorted(words)


@lru_cache(maxsize=None)
def _domains() -> list[str]:
    return [f"site{i:03d}.example.org" for i in range(200)]


def _zipf_domain(rng: random.Random) -> str:
    doms = _domains()
    # rank ~ Zipf(s=1.3): a couple of domains carry a large share of urls.
    r = rng.paretovariate(1.3)
    rank = min(int(r) - 1, len(doms) - 1)
    return doms[rank]


def _clean_tokens(rng: random.Random, lang: str, n: int) -> list[str]:
    vocab = _vocab(lang)
    sw = STOPWORDS[lang]
    return [rng.choice(sw) if rng.random() < 0.16 else rng.choice(vocab) for _ in range(n)]


def _gibberish_tokens(rng: random.Random, n: int) -> list[str]:
    letters = "bcdfghjklmnpqrstvwxz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(4, 9))) for _ in range(n)]


def _pii_strings(rng: random.Random) -> list[str]:
    k = rng.randint(0, 9999)
    return [
        f"user{k}@example{k % 7}.com",
        f"{rng.randint(100, 999)}-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}",
        f"({rng.randint(200, 989)}) {rng.randint(200, 989)}-{rng.randint(1000, 9999)}",
        f"{rng.randint(1, 255)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 255)}",
    ]


def _make_text(rng: random.Random, lang: str, category: str) -> str:
    if category == "short":
        toks = _clean_tokens(rng, lang, rng.randint(3, 10))
    elif category == "spam":
        phrase = _clean_tokens(rng, lang, 6)
        toks = phrase * rng.randint(20, 40)
    elif category == "symbol":
        toks = _clean_tokens(rng, lang, rng.randint(40, 120))
        n_junk = int(len(toks) * 0.45)
        for _ in range(n_junk):
            toks.insert(rng.randrange(len(toks) + 1), rng.choice(_SYMBOL_JUNK))
    elif category == "gibberish":
        toks = _gibberish_tokens(rng, rng.randint(30, 150))
    elif category == "longword":
        toks = _clean_tokens(rng, lang, rng.randint(40, 120))
        toks.insert(rng.randrange(len(toks) + 1), "x" * rng.randint(45, 70))
    else:  # clean
        toks = _clean_tokens(rng, lang, rng.randint(30, 250))

    # Orthogonal PII / toxicity injection (scrub surface).
    if rng.random() < 0.25:
        for s in rng.sample(_pii_strings(rng), rng.randint(1, 4)):
            toks.insert(rng.randrange(len(toks) + 1), s)
    if rng.random() < 0.15:
        for _ in range(rng.randint(1, 2)):
            toks.insert(rng.randrange(len(toks) + 1), rng.choice(TOX_LEXICON))
    return " ".join(toks)


_CATEGORIES = (
    ["clean"] * 60 + ["short"] * 8 + ["spam"] * 8 + ["symbol"] * 8
    + ["gibberish"] * 8 + ["longword"] * 4 + ["nullhtml"] * 2 + ["badbytes"] * 2
)


def _render_html(rng: random.Random, domain: str, text: str, malformed: bool) -> bytes:
    words = text.split(" ")
    paras, i = [], 0
    while i < len(words):
        step = rng.randint(12, 28)
        paras.append(" ".join(words[i : i + step]))
        i += step
    close_p = "" if malformed else "</p>"
    body = "".join(f"<p class=\"c{j % 3}\">{p}{close_p}" for j, p in enumerate(paras))
    tail = "" if malformed else "</body></html>"
    html = (
        f"<html><head><title>{domain} archive</title>"
        f"<style>body {{ color: #222; margin: {rng.randint(0, 9)}px }}</style></head>"
        f"<body><nav><a href=\"/\">home</a> <a href=\"/about\">about</a> contact sitemap</nav>"
        f"{body}"
        f"<script>var t = {rng.randint(0, 999)}; track(t);</script>"
        f"<footer>copyright 2024 {domain} all rights reserved</footer>{tail}"
    )
    return html.encode("utf-8")


def make_page(i: int, seed: int = SEED) -> dict:
    """Pure function (i, seed) -> one pages row."""
    rng = random.Random(f"{seed}-{i}")
    category = rng.choice(_CATEGORIES)
    lang = rng.choice(LANGS)
    domain = _zipf_domain(rng)
    url = f"https://{domain}/p/{i}"
    ts = EPOCH + dt.timedelta(
        days=rng.randrange(N_DAYS), seconds=rng.randrange(86_400)
    )
    text = _make_text(rng, lang, category)
    if category == "nullhtml":
        html: bytes | None = None
    elif category == "badbytes":
        html = b"\xff\xfe\x00broken" + bytes([rng.randrange(256) | 0x80 for _ in range(16)])
    else:
        html = _render_html(rng, domain, text, malformed=rng.random() < 0.10)
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}


def pages_df(spark, n: int, seed: int = SEED, partitions: int | None = None):
    """Distributed fixture: spark.range(n) -> mapInPandas(make_page).

    This is how the fixture reaches bench scale without a driver loop —
    generation is itself a distributed stage.
    """
    import pandas as pd

    from .functions.extraction import _drop_zip_finders
    from .schemas import PAGES

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _drop_zip_finders()
        for pdf in batches:
            rows = [make_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES.fields])

    rng_df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=PAGES)


@lru_cache(maxsize=None)
def lm_corpus(n: int = 2000, seed: int = LM_CORPUS_SEED) -> tuple[str, ...]:
    """Held-out clean training corpus for the n-gram LM (never overlaps the
    pages fixture: different seed namespace)."""
    out = []
    for i in range(n):
        rng = random.Random(f"lm-{seed}-{i}")
        lang = rng.choice(LANGS)
        out.append(" ".join(_clean_tokens(rng, lang, rng.randint(20, 60))))
    return tuple(out)


@lru_cache(maxsize=None)
def default_model() -> NgramLM:
    from .reference_impl import train_lm

    return train_lm(list(lm_corpus()))


LANGID_CORPUS_SEED = 1313


@lru_cache(maxsize=None)
def langid_corpus(
    n: int = 1500, seed: int = LANGID_CORPUS_SEED
) -> tuple[tuple[str, str], ...]:
    """Held-out labeled (lang, text) corpus for the langid classifier —
    balanced round-robin over LANGS, separate seed namespace from both the
    pages fixture and the LM corpus."""
    out = []
    for i in range(n):
        rng = random.Random(f"lid-{seed}-{i}")
        lang = LANGS[i % len(LANGS)]
        out.append((lang, " ".join(_clean_tokens(rng, lang, rng.randint(20, 60)))))
    return tuple(out)


@lru_cache(maxsize=None)
def default_lid_model() -> dict:
    from .reference_impl import train_langid

    return train_langid(list(langid_corpus()))
