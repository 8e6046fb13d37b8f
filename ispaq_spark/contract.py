"""The quality-filter contract: constants shared by the reference labeler and
the Spark pipeline.

This is the graft analog of ispaq's metric catalog + noise-model constant
tables (IRISMustangMetrics/R/ISPAQUtils.R:30-301 metric metadata;
IRISSeismic/R/spectralUtils.R:697-747 NLNM/NHNM piecewise constants;
Python copy ispaq/noise_models.py:12-30): fixed, versioned thresholds and
model tables that every stage — Python oracle and Spark plan alike — reads
from one place. Change a threshold here and both sides move together, which
is what makes the F1/byte-identity gates meaningful.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Tokenization contract: extracted text is whitespace-normalized (single
# spaces, no leading/trailing), so `text.split(' ')` in Python ==
# `split(text, ' ')` in Spark == `str_split(text, ' ')` in DuckDB.
# ---------------------------------------------------------------------------

# Per-language stopword profiles for the heuristic langid stage (the graft
# analog of the broadcast evalresp response table, ispaq/utils.py:558-673:
# a small per-target model joined against every document).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "mit", "zu", "den"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "que", "dans"),
    "it": ("il", "di", "che", "la", "per", "un", "una", "sono", "con", "del"),
}
LANGS: tuple[str, ...] = tuple(sorted(STOPWORDS))  # deterministic order
UNKNOWN_LANG = "und"

# Gopher/C4-style keep/drop thresholds (the graft analog of ispaq's boolean
# metrics sample_rate_channel 0/1, sampleRateChannelMetric.R:42-46, and
# dead_channel_gsn 0/1, PSDMetric.R:214 — scalar metrics reduced to a
# boolean decision). Chosen with wide margins vs the generator distributions
# so IEEE-double vs IEEE-double comparisons can never straddle a boundary.
THRESHOLDS = {
    "min_word_count": 15,
    "max_word_count": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "min_stopword_ratio": 0.05,
    "max_symbol_word_ratio": 0.25,
    "max_dup_5gram_frac": 0.30,
    # posterior from the fastText-capability classifier (LANGID_*), no
    # longer the stopword ratio: the observed clusters are <=0.28
    # (gibberish/'und') and >=0.65 (real languages), so 0.5 cannot straddle.
    "min_lang_conf": 0.5,
    "max_perplexity": 3000.0,
    "max_word_len": 40,
}

# ---------------------------------------------------------------------------
# Scrub contract: ordered compiled-regex PII replacements + toxicity lexicon.
# Order is semantics: each pattern applies to the output of the previous one
# (byte-identical output requires a fixed chain). Fictional profanity only.
# ---------------------------------------------------------------------------
TOX_LEXICON: tuple[str, ...] = ("frak", "gorram", "smeg", "drek", "felgercarb")

# (name, pattern, replacement) — patterns restricted to constructs with
# identical semantics in Python `re` and Java regex: ASCII classes, (?:),
# and lookarounds on an explicit ASCII class instead of \b, whose word
# characters differ between the engines on non-ASCII text (Java counts ²,
# ½ and Ⅻ as non-word and a combining mark after a letter as word; Python
# the reverse). Order is part of the contract: each rule sees the previous
# rule's output.
SCRUB_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"(?<![0-9])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9])", "<SSN>"),
    (
        "phone",
        r"(?<![0-9])\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}(?![0-9])",
        "<PHONE>",
    ),
    ("ip", r"(?<![0-9])(?:[0-9]{1,3}\.){3}[0-9]{1,3}(?![0-9])", "<IP>"),
    (
        "tox",
        r"(?<![A-Za-z0-9_])(?:" + "|".join(TOX_LEXICON) + r")(?![A-Za-z0-9_])",
        "<TOX>",
    ),
)

COMPILED_SCRUB_RULES: tuple[tuple[str, re.Pattern[str], str], ...] = tuple(
    (name, re.compile(pat), repl) for name, pat, repl in SCRUB_RULES
)

# PII patterns only (for the num_pii metric — count BEFORE scrubbing).
PII_RULE_NAMES = ("email", "ssn", "phone", "ip")

# Combined single-pass PII counter: one alternation instead of four regex
# passes over every document (java.util.regex dominated the 32-thread
# profile; each pass allocates a Matcher + String copy per row). Semantics:
# leftmost-first alternation — overlapping matches across rule classes
# count ONCE (num_pii is informational; no keep/drop threshold reads it,
# and reference_impl counts with this same combined pattern).
PII_COMBINED_PATTERN = "|".join(
    f"(?:{pat})" for name, pat, _ in SCRUB_RULES if name in PII_RULE_NAMES
)
COMPILED_PII_COMBINED = re.compile(PII_COMBINED_PATTERN)

# Symbol contract for symbol_word_ratio: characters outside [a-z0-9 space
# . , ' - and A-Z]. One class, same in Java and Python.
SYMBOL_PATTERN = r"[^A-Za-z0-9 .,'\-]"
COMPILED_SYMBOL = re.compile(SYMBOL_PATTERN)

# ---------------------------------------------------------------------------
# Hashed n-gram LM contract (KenLM-style, SURVEY.md §2.6 graft substitution):
# an n-gram's key is a 64-bit word built from per-token hashes; unseen
# n-grams back off to a fixed floor logprob. Each token is hashed ONCE
# (crc32 over its UTF-8 bytes — a C call, no PYTHONHASHSEED dependence —
# spread to 64 bits by an odd multiplier), and a k-gram's key folds its
# token hashes with a rotate-xor (ngram_key below; reference_impl.ngram_keys
# over uint64 arrays) plus a per-order tag. So the scorer keys every gram of
# a whole batch with a few numpy ops per order, never building a gram
# string. Keys that collide merely merge two n-grams' counts, identically
# in the trainer and at scoring time; tests/test_perplexity.py pins that
# the default LM corpus has none.
# ---------------------------------------------------------------------------
import zlib as _zlib

LM_ORDER = 5
LM_FLOOR_LOGPROB = -12.0
# Prune n-grams below this count before keying them: at web scale the
# *distinct* n-gram table is corpus-sized (singletons dominate,
# especially at order 5) while the *pruned* table is model-sized. A uniform
# threshold preserves the stupid-backoff superset property — count(prefix)
# >= count(kgram), so any kept k-gram's (k-1)-prefix is also kept.
LM_MIN_COUNT = 2

_MASK64 = (1 << 64) - 1
LM_TOKEN_MIX = 0x9E3779B97F4A7C15  # odd, so a bijection on 64-bit words
LM_ROTATE = 13  # the rotate-xor step of ngram_key's fold


def order_tag(k: int) -> int:
    """The tag xor-ed into every k-gram key."""
    return (k * 0xD6E8FEB86659FD93) & _MASK64


def token_hash(token: bytes) -> int:
    """A token's 64-bit hash: crc32 of its UTF-8 bytes times LM_TOKEN_MIX."""
    return (_zlib.crc32(token) * LM_TOKEN_MIX) & _MASK64


def ngram_key(tokens: list[str]) -> int:
    """The LM key of the k-gram ``tokens`` (k = len(tokens)):
    acc = rotl(acc, LM_ROTATE) ^ token_hash(t) over its tokens, then xor the
    order tag. reference_impl.ngram_keys is the same function over uint64
    arrays."""
    acc = 0
    for t in tokens:
        acc = ((acc << LM_ROTATE) | (acc >> (64 - LM_ROTATE))) & _MASK64
        acc ^= token_hash(t.encode("utf-8"))
    return acc ^ order_tag(len(tokens))


# ---------------------------------------------------------------------------
# fastText-capability language-ID contract (the lid.176 slot of the north
# star; graft slot = the per-target evalresp model join, ispaq/utils.py:
# 558-673). Architecture matches fastText's: hashed character-n-gram bag ->
# linear scores per language -> softmax posterior; here the linear weights
# are multinomial-NB log-probabilities trained on a held-out labeled corpus
# (the fasttext library is absent from the container, so the *capability*
# is rebuilt, not wrapped).
#
# The feature hash is a Horner polynomial over UTF-8 bytes mod 2^64 (wraps),
# bucketed mod LANGID_BUCKETS — chosen over crc32 because it vectorizes to
# ~9 numpy ops per document (stride-shifted byte arrays), keeping BOTH the
# scorer and the trainer's feature extraction Arrow-batch vectorized with
# zero per-character Python.
# ---------------------------------------------------------------------------
LANGID_NGRAMS: tuple[int, ...] = (2, 3, 4)  # char-n-gram orders (UTF-8 bytes)
LANGID_BUCKETS = 4096  # feature-hash buckets; model = |langs| x BUCKETS
LANGID_ALPHA = 0.5  # add-alpha smoothing for the NB log-probabilities
LANGID_HASH_P = 1099511628211  # FNV-1a prime, Horner multiplier mod 2^64
# Length-normalized softmax posterior below this -> 'und' (the fastText
# "no confident label" behavior). Kept well inside the empty band between
# the gibberish conf cluster and the clean-text cluster (test_langid pins
# the margin).
LANGID_UND_CONF = 0.45
