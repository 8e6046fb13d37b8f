"""Driver contract for the spark-graft builder (PySpark target).

entry()    — flagship: the quality-filter metric stage over `documents`.
queries()  — the queries of ispaq_spark/driver_queries.py: library
             operators certified against DuckDB (dedup, curation,
             similarity, BPE, langid, the two-stream signal operators),
             then the remaining relational and text catalogue queries.
oracle_sql() — DuckDB-equivalent SQL per query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ispaq_spark import driver_queries as _dq


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: heuristic quality metrics + langid + keep decision over the
    documents table (the engine's core metric-set stage). Data dir defaults
    to sf0.001 and is overridable via SPARK_GRAFT_SF_DIR for driver reuse at
    other scale factors."""
    import os

    from pyspark.sql import functions as F

    from ispaq_spark.functions.heuristics import (
        with_heuristics,
        with_stopword_langid,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ENTRY_SF_DIR", "/root/testdata/sf0.001")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = with_stopword_langid(with_heuristics(d, "text"), "text")
    return h.select(
        "doc_id",
        "lang",
        "word_count",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        "max_word_len",
        "pred_lang",
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
