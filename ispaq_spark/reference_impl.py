"""Pure-Python, single-document reference implementation — the oracle.

This module plays the role of the reference system's labeled corpus: it
defines, per document, the expected extracted text, metric values, scrub
output, and keep/drop decision. The Spark pipeline (ispaq_spark.pipeline)
must reproduce these byte-identically / with F1 >= 0.99 (BASELINE.json
north_rule); tests/test_pipeline_parity.py is the gate.

Every constant comes from ispaq_spark.contract, and the pipeline's one
Arrow stage (functions/extraction.py: extraction, perplexity, langid, the
heuristic metrics) calls the *same functions* defined here — the
reference's pattern of one shared metric library dispatched from multiple
entry points (IRISMustangMetrics/R/ISPAQUtils.R catalog consumed by every
ispaq module). Only the scrub and the keep decision run as JVM expressions
in the pipeline; functions/heuristics.with_heuristics (the driver entry's
metrics) runs heuristic_metrics through the same per-batch helper as the
Arrow stage, and langid's stopword vote beside it.
"""

from __future__ import annotations

import html as _html
import math
import re
import zlib
from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass

import numpy as np

from .contract import (
    COMPILED_PII_COMBINED,
    COMPILED_SCRUB_RULES,
    COMPILED_SYMBOL,
    LANGS,
    LM_FLOOR_LOGPROB,
    LM_MIN_COUNT,
    LM_ORDER,
    LM_ROTATE,
    LM_TOKEN_MIX,
    PII_RULE_NAMES,
    STOPWORDS,
    THRESHOLDS,
    UNKNOWN_LANG,
    ngram_key,
    order_tag,
)

# ---------------------------------------------------------------------------
# HTML -> text extraction (trafilatura-equivalent deterministic contract;
# the graft analog of mergeTraces gap-fill cleaning raw->usable signal,
# IRISSeismic/R/Class-Stream.R:583-700). Byte-identical per url is the
# hardest correctness surface (SURVEY.md §7 step 4a), so the Spark stage
# wraps THIS function in a pandas UDF rather than re-implementing it.
# ---------------------------------------------------------------------------

_BLOCK_STRIP = re.compile(
    r"<(script|style|nav|footer|head)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_TAG = re.compile(r"<[^>]*>")


def extract_text(html_bytes: bytes | None) -> str | None:
    """Extract visible text from raw HTML bytes.

    Returns None for undecodable/absent input (-> quarantine, the analog of
    ispaq's percent_availability=0 / qualityFlag=-9 path,
    ispaq/simple_metrics.py:128-140).
    """
    if html_bytes is None:
        return None
    try:
        raw = html_bytes.decode("utf-8", errors="strict")
    except (UnicodeDecodeError, AttributeError):
        return None
    # Boilerplate blocks first (content inside them must not leak)...
    stripped = _BLOCK_STRIP.sub(" ", raw)
    # ...then every remaining tag (robust to malformed/unclosed markup).
    stripped = _TAG.sub(" ", stripped)
    stripped = _html.unescape(stripped)
    # Whitespace normalization fixes the tokenization contract:
    # single spaces, no edges -> split(' ') agrees across engines.
    text = " ".join(stripped.split())
    return text if text else None


# ---------------------------------------------------------------------------
# Hashed n-gram LM (KenLM-style; SURVEY.md §2.6 graft substitution for the
# evalresp broadcast model). Train = exact n-gram counting, pruned, then
# keyed by contract.ngram_key; score = stupid backoff over (order..1)-grams,
# a whole batch of texts at a time in numpy. Deterministic everywhere.
# ---------------------------------------------------------------------------

LOG_BACKOFF = math.log(0.4)  # stupid-backoff alpha per level, in nats
# Tokens per scoring chunk: bounds the scorer's per-order working arrays
# whatever the document lengths.
LM_CHUNK_TOKENS = 1 << 16


@dataclass(frozen=True, eq=False)
class NgramLM:
    """The LM table: sorted uint64 n-gram keys, their float64 counts, and
    the PRE-prune unigram total (the denominator of unigram probabilities
    must stay the true token count)."""

    keys: np.ndarray
    counts: np.ndarray
    total: float

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, NgramLM)
            and self.total == other.total
            and np.array_equal(self.keys, other.keys)
            and np.array_equal(self.counts, other.counts)
        )

    def __len__(self) -> int:
        return len(self.keys)


def train_lm(
    corpus: list[str],
    order: int = LM_ORDER,
    min_count: int = LM_MIN_COUNT,
) -> NgramLM:
    """Count the n-grams (1..order) of the tokenized docs, prune grams below
    ``min_count``, then key the survivors, summing the counts of grams
    whose keys collide."""
    counts: Counter[str] = Counter()
    total1 = 0
    for doc in corpus:
        toks = doc.split(" ")
        for k in range(1, order + 1):
            counts.update(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
        total1 += len(toks)
    kept = [(g, c) for g, c in counts.items() if c >= min_count]
    keys = np.fromiter(
        (ngram_key(g.split(" ")) for g, _ in kept), np.uint64, len(kept)
    )
    uniq, inverse = np.unique(keys, return_inverse=True)
    merged = np.bincount(inverse, [c for _, c in kept], len(uniq))
    return NgramLM(uniq, merged.astype(np.float64), float(total1))


def token_hashes(text: str) -> np.ndarray:
    """contract.token_hash of every token of ``text``, as uint64."""
    toks = text.encode("utf-8").split(b" ")
    crcs = np.fromiter(map(zlib.crc32, toks), np.uint64, len(toks))
    return crcs * np.uint64(LM_TOKEN_MIX)


def ngram_keys(tok_h: np.ndarray, k: int) -> np.ndarray:
    """contract.ngram_key of the k-gram starting at each index of the
    token-hash array ``tok_h`` (len(tok_h) - k + 1 keys)."""
    n = len(tok_h) - k + 1
    if n <= 0:
        return np.empty(0, np.uint64)
    left, right = np.uint64(LM_ROTATE), np.uint64(64 - LM_ROTATE)
    acc = tok_h[:n]
    for j in range(1, k):
        acc = ((acc << left) | (acc >> right)) ^ tok_h[j : j + n]
    return acc ^ np.uint64(order_tag(k))


def _token_logprobs(
    tok_h: np.ndarray, pos: np.ndarray, model: NgramLM, order: int
) -> np.ndarray:
    """Stupid-backoff logprob of every token: p(w|ctx) ~ count(k-gram) /
    count((k-1)-gram prefix) at the longest seen k, discounted by
    LOG_BACKOFF per level backed off; the floor when even the unigram is
    unseen. ``pos`` is each token's index in its document, so no gram
    crosses a document boundary."""
    n = len(tok_h)
    # seen[k - 1][i]: count of the k-gram ending at token i, 0 if unseen.
    seen = []
    for k in range(1, order + 1):
        c = np.zeros(n)
        keys = ngram_keys(tok_h, k)
        if len(keys) and len(model.keys):
            # searchsorted over the queries in key order: each binary search
            # starts from the last one's result (~2x faster than unsorted).
            by_key = np.argsort(keys)
            at = np.empty(len(keys), np.intp)
            at[by_key] = np.searchsorted(model.keys, keys[by_key])
            at[at == len(model.keys)] = 0
            c[k - 1 :] = np.where(model.keys[at] == keys, model.counts[at], 0.0)
            c[pos < k - 1] = 0.0
        seen.append(c)
    lp = np.full(n, LM_FLOOR_LOGPROB)
    todo = np.ones(n, dtype=bool)
    for k in range(order, 0, -1):
        c = seen[k - 1]
        hit = todo & (c > 0)
        if k == 1:
            denom = model.total
        else:
            # superset property: count(prefix) >= count(kgram), so under
            # the uniform min_count prune any kept k-gram's (k-1) prefix is
            # also kept — the lookup cannot miss (a miss falls back to the
            # k-gram's own count).
            prefix = np.zeros(n)
            prefix[1:] = seen[k - 2][:-1]
            denom = np.where(prefix > 0, prefix, c)[hit]
        lp[hit] = np.log(c[hit] / denom) + LOG_BACKOFF * (order - k)
        todo &= ~hit
    return lp


def perplexities(
    texts: Iterable[str | None], model: NgramLM, order: int = LM_ORDER
) -> list[float | None]:
    """exp(-mean per-token logprob) of each text; None stays None.

    One scorer for every caller: the pipeline's Arrow stage passes a whole
    Arrow batch, ``perplexity`` a batch of one. The batch's tokens are keyed
    and looked up with one searchsorted per order per LM_CHUNK_TOKENS
    tokens, and each document's logprobs are summed with math.fsum, so a
    text gets the same bits alone or in any batch."""
    texts = list(texts)
    docs = [i for i, t in enumerate(texts) if t is not None]
    out: list[float | None] = [None] * len(texts)
    if not docs:
        return out
    hashes = [token_hashes(texts[i]) for i in docs]
    lens = np.fromiter(map(len, hashes), np.int64, len(hashes))
    tok_h = np.concatenate(hashes)
    pos = np.arange(len(tok_h)) - np.repeat(np.cumsum(lens) - lens, lens)
    ctx = order - 1  # tokens of left context a chunk needs
    lp = np.concatenate(
        [
            _token_logprobs(
                tok_h[max(s - ctx, 0) : s + LM_CHUNK_TOKENS],
                pos[max(s - ctx, 0) : s + LM_CHUNK_TOKENS],
                model,
                order,
            )[min(s, ctx) :]
            for s in range(0, len(tok_h), LM_CHUNK_TOKENS)
        ]
    )
    for i, doc_lp in zip(docs, np.split(lp, np.cumsum(lens)[:-1])):
        out[i] = math.exp(-math.fsum(doc_lp.tolist()) / len(doc_lp))
    return out


def perplexity(text: str, model: NgramLM, order: int = LM_ORDER) -> float:
    return perplexities([text], model, order)[0]


# ---------------------------------------------------------------------------
# fastText-capability language ID (contract constants LANGID_*): hashed
# char-n-gram bag -> per-language linear (NB) scores -> length-normalized
# softmax posterior. One scorer, called identically by this reference
# labeler and by the pipeline's Arrow stage (functions/extraction.py) —
# float parity by construction. Graft slot: the per-target evalresp model join
# (ispaq/utils.py:558-673).
# ---------------------------------------------------------------------------

from .contract import (  # noqa: E402
    LANGID_ALPHA,
    LANGID_BUCKETS,
    LANGID_HASH_P,
    LANGID_NGRAMS,
    LANGID_UND_CONF,
)


def char_ngram_buckets(text: str) -> np.ndarray:
    """Hash buckets of all char n-grams (UTF-8 bytes, orders LANGID_NGRAMS).

    Horner polynomial mod 2^64 over stride-shifted byte arrays: ~3 numpy
    ops per order per document, zero per-character Python. uint64 wraps by
    definition, so the hash is well-defined and identical everywhere.
    """
    raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    p = np.uint64(LANGID_HASH_P)
    b = np.uint64(LANGID_BUCKETS)
    parts = []
    with np.errstate(over="ignore"):
        for n in LANGID_NGRAMS:
            if len(raw) < n:
                continue
            h = np.zeros(len(raw) - n + 1, dtype=np.uint64)
            for j in range(n):
                h = h * p + raw[j : len(raw) - n + 1 + j]
            parts.append(h % b)
    if not parts:
        return np.empty(0, dtype=np.uint64)
    return np.concatenate(parts)


def langid_bucket_counts(text: str) -> np.ndarray:
    """Dense (LANGID_BUCKETS,) int64 feature vector for one document."""
    return np.bincount(
        char_ngram_buckets(text).astype(np.int64), minlength=LANGID_BUCKETS
    )


def train_langid(labeled: list[tuple[str, str]]) -> dict:
    """(lang, text) pairs -> NB model {langs, W(float64 L x B), prior}.

    W[l, b] = log((count[l, b] + alpha) / (total[l] + alpha * B));
    prior[l] = log(docs[l] / docs_total).
    """
    langs = tuple(sorted({lang for lang, _ in labeled}))
    idx = {lang: i for i, lang in enumerate(langs)}
    counts = np.zeros((len(langs), LANGID_BUCKETS), dtype=np.int64)
    docs = np.zeros(len(langs), dtype=np.int64)
    for lang, text in labeled:
        counts[idx[lang]] += langid_bucket_counts(text)
        docs[idx[lang]] += 1
    totals = counts.sum(axis=1, keepdims=True).astype(np.float64)
    W = np.log(
        (counts.astype(np.float64) + LANGID_ALPHA)
        / (totals + LANGID_ALPHA * LANGID_BUCKETS)
    )
    prior = np.log(docs.astype(np.float64) / docs.sum())
    return {"langs": langs, "W": W, "prior": prior}


def score_langid(text: str, lid: dict) -> tuple[str, float]:
    """(pred_lang, confidence) for one document.

    Per-gram-normalized scores -> stable softmax; argmax ties break toward
    the lower lang index (langs sorted). Confidence below LANGID_UND_CONF,
    or an empty feature bag, predicts 'und' (fastText's no-confident-label
    behavior) while still reporting the posterior.
    """
    g = char_ngram_buckets(text)
    if len(g) == 0:
        return UNKNOWN_LANG, 0.0
    counts = np.bincount(g.astype(np.int64), minlength=LANGID_BUCKETS)
    scores = lid["prior"] + lid["W"].dot(counts.astype(np.float64))
    # length normalization: per-gram average log-likelihood, so the softmax
    # temperature (and LANGID_UND_CONF) is document-length invariant.
    norm = scores / len(g)
    norm = norm - norm.max()
    probs = np.exp(norm)
    probs /= probs.sum()
    best = int(np.argmax(probs))
    conf = float(probs[best])
    if conf < LANGID_UND_CONF:
        return UNKNOWN_LANG, conf
    return lid["langs"][best], conf


# ---------------------------------------------------------------------------
# Scrub chain: ordered regex replacement (PII then toxicity), applied to the
# extracted text. Byte-exact contract.
# ---------------------------------------------------------------------------


def scrub_text(text: str) -> str:
    out = text
    for _name, pat, repl in COMPILED_SCRUB_RULES:
        out = pat.sub(repl, out)
    return out


def count_pii(text: str) -> int:
    """Single combined-alternation pass (see contract.PII_COMBINED_PATTERN):
    the Spark column expression uses the identical pattern, so counts match
    exactly — including the overlap semantics of leftmost-first
    alternation."""
    return len(COMPILED_PII_COMBINED.findall(text))


def count_tox(text: str) -> int:
    for name, pat, _repl in COMPILED_SCRUB_RULES:
        if name == "tox":
            return len(pat.findall(text))
    return 0


# ---------------------------------------------------------------------------
# Heuristic metrics + decision. The pipeline's Arrow stage and
# functions/heuristics.with_heuristics call heuristic_metrics itself.
# ---------------------------------------------------------------------------


@dataclass
class DocMetrics:
    word_count: int
    mean_word_len: float
    max_word_len: int
    stopword_ratio: float
    symbol_word_ratio: float
    dup_5gram_frac: float
    pred_lang: str
    lang_conf: float
    perplexity: float
    num_pii: int
    num_tox: int
    keep: bool


# Membership tests against a frozenset, not the contract's ordered tuples.
_STOPWORD_SETS = {lang: frozenset(STOPWORDS[lang]) for lang in LANGS}


def langid(tokens: list[str]) -> tuple[str, int]:
    """Stopword vote: (argmax lang, max stopword hits). The hits feed the
    stopword_ratio heuristic (the Gopher stop-word rule); the argmax is the
    vote that with_heuristics returns for the driver entry and the
    langid_confusion query. The pipeline's pred_lang/lang_conf come from
    the fastText-capability classifier (score_langid)."""
    best_lang, best_c = UNKNOWN_LANG, 0
    for lang in LANGS:  # sorted order = deterministic tie-break
        c = sum(map(_STOPWORD_SETS[lang].__contains__, tokens))
        if c > best_c:
            best_lang, best_c = lang, c
    return best_lang, best_c


def heuristic_metrics(text: str) -> dict[str, int | float]:
    """The eight heuristic metrics of one extracted text, keyed by column.

    One function for the oracle (compute_metrics), the pipeline's Arrow
    stage and with_heuristics (functions/extraction.heuristic_batch).
    Integer arithmetic and one IEEE-754 double division per ratio."""
    tokens = text.split(" ")
    n = len(tokens)
    if n >= 5:
        # Distinct 5-grams as token tuples: tokens hold no space, so this
        # counts exactly the distinct " "-joined 5-gram strings.
        grams = set(zip(tokens, tokens[1:], tokens[2:], tokens[3:], tokens[4:]))
        dup_frac = 1.0 - len(grams) / (n - 4)
    else:
        dup_frac = 0.0
    return {
        "word_count": n,
        # the spaces identity: total word chars = len(text) - (n-1)
        # single separators
        "mean_word_len": (len(text) - n + 1) / n,
        "max_word_len": max(map(len, tokens)),
        "stopword_ratio": langid(tokens)[1] / n,
        "symbol_word_ratio": len(COMPILED_SYMBOL.findall(text)) / n,
        "dup_5gram_frac": dup_frac,
        "num_pii": count_pii(text),
        "num_tox": count_tox(text),
    }


def compute_metrics(
    text: str, model: NgramLM, lid_model: dict | None = None
) -> DocMetrics:
    if lid_model is None:
        from .synthesize import default_lid_model

        lid_model = default_lid_model()
    lang, lang_conf = score_langid(text, lid_model)
    m = DocMetrics(
        **heuristic_metrics(text),
        pred_lang=lang,
        lang_conf=lang_conf,
        perplexity=perplexity(text, model),
        keep=False,
    )
    m.keep = decide_keep(m)
    return m


def decide_keep(m: DocMetrics) -> bool:
    t = THRESHOLDS
    return (
        t["min_word_count"] <= m.word_count <= t["max_word_count"]
        and t["min_mean_word_len"] <= m.mean_word_len <= t["max_mean_word_len"]
        and m.max_word_len <= t["max_word_len"]
        and m.stopword_ratio >= t["min_stopword_ratio"]
        and m.symbol_word_ratio <= t["max_symbol_word_ratio"]
        and m.dup_5gram_frac <= t["max_dup_5gram_frac"]
        and m.lang_conf >= t["min_lang_conf"]
        and m.perplexity <= t["max_perplexity"]
    )


def label_document(
    html_bytes: bytes | None,
    model: NgramLM,
    lid_model: dict | None = None,
) -> tuple[str | None, str | None, bool, int]:
    """Full reference pipeline for one document:
    (extracted_text, scrubbed_text, keep, quality_flag)."""
    text = extract_text(html_bytes)
    if text is None:
        return None, None, False, -9
    m = compute_metrics(text, model, lid_model)
    return text, scrub_text(text), m.keep, 0
