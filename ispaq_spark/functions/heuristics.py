"""Gopher/C4-style heuristic metrics, stopword langid and the keep/drop
decision, as columns.

with_heuristics appends the eight heuristic columns with one Arrow-batched
pandas UDF that calls the same per-batch helper as the pipeline's Arrow
stage (functions/extraction.heuristic_batch, over
reference_impl.heuristic_metrics): one implementation of the metrics, two
callers. with_stopword_langid (the driver queries' stopword vote) and
keep_expr (the pipeline's decision) stay Catalyst expressions in the JVM.

Graft slot: ispaq's 'simple metrics' business logic (basicStats / gaps
dispatched per group, ispaq/simple_metrics.py:146-239; metric math
IRISMustangMetrics/R/basicStatsMetric.R:25-59).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..contract import LANGS, STOPWORDS, THRESHOLDS, UNKNOWN_LANG
from ..session import session_memo
from .extraction import HEURISTIC_COLUMNS, _drop_zip_finders, heuristic_batch

TOK_H = "_tok_h"  # internal working column, dropped by with_stopword_langid


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def stopword_arrays(sc) -> dict[str, Column]:
    """Per language, its stopword set as a literal array of xxhash64 longs
    (xxhash64(lit) is constant-folded), built once per session: each is
    ten Py4J calls, and every with_stopword_langid call reuses them."""
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
    Collision risk per corpus ~ |tokens|·|SW|/2^64."""
    return F.size(F.filter(tok_h, lambda h: F.array_contains(sw, h)))


def token_hash_col(tokens: Column) -> Column:
    """Per-token xxhash64 array. MUST be materialized as a real column
    before the per-language stopword filters read it: higher-order
    functions are interpreted (never codegen'd) and never CSE'd, so an
    inline transform() would re-hash every token once per language."""
    return F.transform(tokens, lambda t: F.xxhash64(t))


def _heuristics_udf():
    @F.pandas_udf(", ".join(f"{c} {t}" for c, t in HEURISTIC_COLUMNS.items()))
    def heuristics(text: pd.Series) -> pd.DataFrame:
        _drop_zip_finders()
        return pd.DataFrame(heuristic_batch(text, HEURISTIC_COLUMNS))

    return heuristics


def with_heuristics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the heuristic metric columns of ``text_col`` to ``df``.

    One pandas UDF (built once per session) computes all eight per Arrow
    batch, and one projection reads them out of its struct, so the plan
    has one ArrowEvalPython. Null-safe: rows with NULL text get NULL
    metrics (quarantine rows flow through, the qualityFlag=-9 pattern of
    ispaq/simple_metrics.py:128-140).
    """
    udf = session_memo(
        df.sparkSession.sparkContext, ("heuristics_udf",), _heuristics_udf
    )
    call = udf(F.col(text_col))
    return df.withColumns({c: call.getField(c) for c in HEURISTIC_COLUMNS})


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
