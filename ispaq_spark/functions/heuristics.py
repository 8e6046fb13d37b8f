"""Gopher/C4-style heuristic metrics + stopword langid as pure Catalyst
column expressions: the SQL twin of reference_impl.heuristic_metrics, with
zero Python on the driver entry's path (__spark_entry__.entry) and the
driver queries' (with_stopword_langid).

The pipeline does not run these metric expressions: its one Arrow stage
calls reference_impl.heuristic_metrics on the texts already in the batch
(functions/extraction.py), because Spark interprets this twin's
per-token lambdas element by element instead of code-generating them.
The pipeline's keep/drop decision, keep_expr, stays here and in the JVM.

Graft slot: ispaq's 'simple metrics' business logic (basicStats / gaps
dispatched per group, ispaq/simple_metrics.py:146-239; metric math
IRISMustangMetrics/R/basicStatsMetric.R:25-59).

Formula contract (must match reference_impl.heuristic_metrics exactly —
integer arithmetic + single IEEE-754 double divisions; the 5-grams here
are hashed, see fivegram_col):
  word_count        = size(split(text, ' '))
  mean_word_len     = (length(text) - word_count + 1) / word_count
  stopword_ratio    = max_L |{t in tokens : t in STOPWORDS[L]}| / word_count
  symbol_word_ratio = regexp_count(text, SYMBOL) / word_count
  dup_5gram_frac    = 1 - distinct_5grams/total_5grams   (0.0 if < 5 words)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..contract import (
    LANGS,
    PII_COMBINED_PATTERN,
    SCRUB_RULES,
    STOPWORDS,
    THRESHOLDS,
    UNKNOWN_LANG,
)
from ..session import session_memo

TOKENS = "_tokens"  # internal working columns, dropped by with_heuristics
TOK_H = "_tok_h"
GRAMS = "_grams"

# Every char NOT in this set counts as a symbol — the complement of
# contract.SYMBOL_PATTERN's negated class. Counting via translate() (a
# char-map lookup) is ~20x cheaper than regexp_count with the class, with
# identical semantics for single-char class matches.
_ALLOWED_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 .,'-"
)


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def stopword_arrays(sc) -> dict[str, Column]:
    """Per language, its stopword set as a literal array of xxhash64 longs
    (xxhash64(lit) is constant-folded), built once per session: each is
    ten Py4J calls, and with_heuristics and with_stopword_langid share them."""
    return session_memo(
        sc,
        ("stopword_arrays",),
        lambda: {
            lang: F.array(*[F.xxhash64(F.lit(w)) for w in STOPWORDS[lang]])
            for lang in LANGS
        },
    )


def stopword_hits_hashed(tok_h: Column, sw: Column) -> Column:
    """Count (with duplicates) of token hashes in the stopword array ``sw``
    (stopword_arrays): per-token membership is ≤|SW| long compares instead
    of string compares — ~5x cheaper across the 5-language cascade.
    Collision risk per corpus ~ |tokens|·|SW|/2^64 (the same accepted
    tradeoff as the hashed 5-gram shingles)."""
    return F.size(F.filter(tok_h, lambda h: F.array_contains(sw, h)))


def token_hash_col(tokens: Column) -> Column:
    """Per-token xxhash64 array. MUST be materialized as a real column
    before feeding fivegram_col: higher-order functions are interpreted
    (never codegen'd) and never CSE'd, so an inline transform() closed over
    by the shingle lambda would re-hash EVERY token for EVERY shingle
    position — O(n²) per document (observed as XXH64 dominating jstack at
    300k docs)."""
    return F.transform(tokens, lambda t: F.xxhash64(t))


def fivegram_col(tok_h: Column, n: Column) -> Column:
    """5-gram shingle *hash* array — allocation-light distinct counting.

    Building the n shingle STRINGS per document (~30 UTF-16 chars each)
    made GC the scaling bottleneck at 32 threads; instead each token hash
    (precomputed once in `tok_h`, see token_hash_col) combines with 4
    successors via rotate-xor (pure long ops, ANSI-overflow-safe).
    Collision probability per doc is ~n²/2^64 — the exact-string reference
    parity tests stay exact in practice."""
    return F.when(
        n >= 5,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(4)),
            lambda i: _combine5(tok_h, i),
        ),
    )


def _combine5(tok_h: Column, i: Column) -> Column:
    acc = F.element_at(tok_h, i)
    for j in range(1, 5):
        rot = F.shiftleft(acc, 13).bitwiseXOR(F.shiftrightunsigned(acc, 51))
        acc = rot.bitwiseXOR(F.element_at(tok_h, i + F.lit(j)))
    return acc


def symbol_count(text: Column) -> Column:
    """Count of chars outside the allowed set, via translate (no regex):
    deleting every allowed char leaves exactly the symbol chars. Exactly
    equals regexp_count(text, SYMBOL_PATTERN) for a single-char negated
    class; tests/test_symbol_translate.py pins the parity."""
    return F.length(F.translate(text, _ALLOWED_CHARS, ""))


def pii_count(text: Column) -> Column:
    """ONE combined-alternation regexp_count instead of four passes — regex
    Matcher allocation per pass per row was the dominant JVM cost at 32
    threads (contract.PII_COMBINED_PATTERN; reference_impl.count_pii uses
    the same pattern, so parity is exact)."""
    return F.regexp_count(text, F.lit(PII_COMBINED_PATTERN)).cast("long")


def tox_count(text: Column) -> Column:
    (pat,) = [p for name, p, _r in SCRUB_RULES if name == "tox"]
    return F.regexp_count(text, F.lit(pat)).cast("long")


def _heuristic_projections(sc, text_col: str) -> tuple[dict[str, Column], ...]:
    """with_heuristics' columns as four projections, each reading only
    columns an earlier one materialized."""
    text = F.col(text_col)
    toks, tok_h = F.col(TOKENS), F.col(TOK_H)
    n = F.size(toks)
    # stopword_ratio (Gopher stop-word rule): max over languages of
    # stopword hit count / word count. pred_lang/lang_conf are NOT produced
    # here — they come from the fastText-capability classifier in the
    # Arrow stage (functions/extraction.py).
    hits = [stopword_hits_hashed(tok_h, sw) for sw in stopword_arrays(sc).values()]
    return (
        {TOKENS: F.when(text.isNotNull(), tokens_col(text))},
        {
            # One hash pass over the tokens feeds BOTH the stopword counts
            # and the 5-gram shingles; materialized as a column so no HOF
            # recomputes it (see token_hash_col).
            TOK_H: token_hash_col(toks),
            "word_count": F.when(text.isNotNull(), n.cast("long")),
            "mean_word_len": (F.length(text) - n + F.lit(1)) / n,
            "max_word_len": F.array_max(F.transform(toks, F.length)).cast("long"),
        },
        {
            "stopword_ratio": F.greatest(*hits) / n,
            "symbol_word_ratio": symbol_count(text) / n,
            GRAMS: fivegram_col(tok_h, n),
        },
        {
            "dup_5gram_frac": F.when(text.isNull(), F.lit(None).cast("double"))
            .when(
                F.col(GRAMS).isNotNull(),
                F.lit(1.0) - F.size(F.array_distinct(GRAMS)) / F.size(GRAMS),
            )
            .otherwise(F.lit(0.0)),
            "num_pii": F.when(text.isNotNull(), pii_count(text)),
            "num_tox": F.when(text.isNotNull(), tox_count(text)),
        },
    )


def with_heuristics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append all heuristic metric columns to ``df``.

    The expressions are built once per session and text column and applied
    as four projections, so a repeat call costs their analysis only.
    Null-safe: rows with NULL text get NULL metrics (quarantine rows flow
    through, the qualityFlag=-9 pattern of ispaq/simple_metrics.py:128-140).
    """
    sc = df.sparkSession.sparkContext
    projections = session_memo(
        sc, ("heuristics", text_col), lambda: _heuristic_projections(sc, text_col)
    )
    for cols in projections:
        df = df.withColumns(cols)
    return df.drop(TOKENS, TOK_H, GRAMS)


def with_stopword_langid(
    df: DataFrame, text_col: str = "text", out_col: str = "pred_lang"
) -> DataFrame:
    """Stopword-vote language ID as a pure-Catalyst cascade: argmax of
    per-language stopword hit counts, ties broken by language code
    ascending (LANGS is sorted), 'und' on zero hits. The SQL-expressible
    langid twin (reference_impl.langid); the pipeline's production langid
    is the classifier in the Arrow stage (functions/extraction.py)."""
    text = F.col(text_col)
    toks = tokens_col(text)
    sw = stopword_arrays(df.sparkSession.sparkContext)
    df = df.withColumn(TOK_H, token_hash_col(toks))
    hit_cols = {lang: f"_sw_{lang}" for lang in LANGS}
    for lang, c in hit_cols.items():
        df = df.withColumn(c, stopword_hits_hashed(F.col(TOK_H), sw[lang]))
    best = F.greatest(*[F.col(c) for c in hit_cols.values()])
    cascade = F.when(best <= 0, F.lit(UNKNOWN_LANG))
    for lang in LANGS:
        cascade = cascade.when(F.col(hit_cols[lang]) == best, F.lit(lang))
    return df.withColumn(
        out_col,
        # Total function: NULL text predicts 'und' (not NULL) — undetermined
        # is the classifier's answer for content it cannot see, and the SQL
        # cascade twin's ELSE branch lands there too (hostile-sweep finding:
        # NULL-text rows made the two engines' confusion matrices diverge).
        F.when(text.isNotNull(), cascade.otherwise(F.lit(UNKNOWN_LANG)))
        .otherwise(F.lit(UNKNOWN_LANG)),
    ).drop(TOK_H, *hit_cols.values())


def keep_expr() -> Column:
    """The keep/drop decision over metric columns — graft analog of ispaq's
    boolean metrics (sampleRateChannelMetric.R:42-46, PSDMetric.R:214).
    NULL-metric (quarantined) rows yield false."""
    t = THRESHOLDS
    cond = (
        (F.col("word_count") >= t["min_word_count"])
        & (F.col("word_count") <= t["max_word_count"])
        & (F.col("mean_word_len") >= t["min_mean_word_len"])
        & (F.col("mean_word_len") <= t["max_mean_word_len"])
        & (F.col("max_word_len") <= t["max_word_len"])
        & (F.col("stopword_ratio") >= t["min_stopword_ratio"])
        & (F.col("symbol_word_ratio") <= t["max_symbol_word_ratio"])
        & (F.col("dup_5gram_frac") <= t["max_dup_5gram_frac"])
        & (F.col("lang_conf") >= t["min_lang_conf"])
        & (F.col("perplexity") <= t["max_perplexity"])
    )
    return F.coalesce(cond, F.lit(False))
