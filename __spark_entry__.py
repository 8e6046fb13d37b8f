"""Driver contract for the spark-graft builder (PySpark target).

entry()    — flagship: the quality-filter metric stage over `documents`.
queries()  — the 23 queries of ispaq_spark/driver_queries.py, in file
             order: library operators certified against DuckDB (dedup,
             curation, connected components, the stopword vote) and the
             remaining text catalogue queries.
oracle_sql() — DuckDB-equivalent SQL per query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ispaq_spark import driver_queries as _dq


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: heuristic quality metrics + stopword langid + keep decision
    over the documents table (the engine's core metric-set stage). The
    metrics and the vote come from one Arrow stage running
    reference_impl.heuristic_metrics (the pipeline's own function) and
    reference_impl.langid; the keep rule is a Catalyst expression. Data dir
    defaults to sf0.001 and is overridable via SPARK_GRAFT_ENTRY_SF_DIR for
    driver reuse at other scale factors."""
    import os

    from pyspark.sql import functions as F

    from ispaq_spark.functions.heuristics import STOPWORD_LANG, with_heuristics

    sf_dir = os.environ.get("SPARK_GRAFT_ENTRY_SF_DIR", "/root/testdata/sf0.001")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = with_heuristics(d, "text")
    return h.select(
        "doc_id",
        "lang",
        "word_count",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        "max_word_len",
        F.col(STOPWORD_LANG).alias("pred_lang"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("dup_5gram_frac", 6).alias("dup_5gram_frac"),
        (
            (F.col("word_count") >= 15)
            & (F.col("mean_word_len") <= 12.0)
            & (F.col("dup_5gram_frac") <= 0.3)
        ).alias("keep"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _dq.queries()


def oracle_sql() -> dict[str, str]:
    return _dq.oracle_sql()
