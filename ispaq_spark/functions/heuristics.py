"""Gopher/C4-style heuristic metrics, the stopword vote and the keep/drop
decision, as columns.

with_heuristics appends the eight heuristic columns and the stopword vote
with one Arrow-batched pandas UDF that calls the same per-batch helper as
the pipeline's Arrow stage (functions/extraction.heuristic_batch, over
reference_impl.heuristic_metrics) and reference_impl.langid: one
implementation of each, two callers. keep_expr (the pipeline's decision)
stays a Catalyst expression in the JVM.

Graft slot: ispaq's 'simple metrics' business logic (basicStats / gaps
dispatched per group, ispaq/simple_metrics.py:146-239; metric math
IRISMustangMetrics/R/basicStatsMetric.R:25-59).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..contract import THRESHOLDS, UNKNOWN_LANG
from ..reference_impl import langid
from ..session import session_memo
from .extraction import HEURISTIC_COLUMNS, _drop_zip_finders, heuristic_batch

# The stopword vote's column: reference_impl.langid's argmax language. Not
# named pred_lang, which an input may already hold (the classifier's).
STOPWORD_LANG = "stopword_lang"
_COLUMNS = {**HEURISTIC_COLUMNS, STOPWORD_LANG: "string"}


def _heuristics_udf():
    @F.pandas_udf(", ".join(f"{c} {t}" for c, t in _COLUMNS.items()))
    def heuristics(text: pd.Series) -> pd.DataFrame:
        _drop_zip_finders()
        out = heuristic_batch(text, HEURISTIC_COLUMNS)
        # NULL text votes 'und', not NULL: undetermined is the vote's
        # answer for content it cannot see, as in the oracle's ELSE branch.
        out[STOPWORD_LANG] = [
            langid(t.split(" "))[0] if t is not None else UNKNOWN_LANG
            for t in text
        ]
        return pd.DataFrame(out)

    return heuristics


def with_heuristics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the heuristic metric columns of ``text_col`` and its stopword
    vote (``stopword_lang``) to ``df``.

    One pandas UDF (built once per session) computes all nine per Arrow
    batch, and one projection reads them out of its struct, so the plan
    has one ArrowEvalPython. Null-safe: rows with NULL text get NULL
    metrics and the vote 'und' (quarantine rows flow through, the
    qualityFlag=-9 pattern of ispaq/simple_metrics.py:128-140).
    """
    udf = session_memo(
        df.sparkSession.sparkContext, ("heuristics_udf",), _heuristics_udf
    )
    call = udf(F.col(text_col))
    return df.withColumns({c: call.getField(c) for c in _COLUMNS})


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
