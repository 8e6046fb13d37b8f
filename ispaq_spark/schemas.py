"""Explicit schema constants — the engine's single schema registry.

The reference declares schemas ad hoc at each construction site (availability
column tuple at ispaq/concierge.py:563-567, sqlite DDLs at ispaq/utils.py:37-147,
no inference, no evolution). Here every table shape lives in one module as a
StructType constant, per SURVEY.md §1.3.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages (BASELINE.json input_hint; the graft analog
# of the miniSEED waveform store, SURVEY.md §1.4).
# ---------------------------------------------------------------------------
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Output: wide per-document metric row. One column per metric — the wide form
# of ispaq's long/EAV GeneralValueMetric rows (IRISMustangMetrics/R/
# Class-Metric.R:487-573); unpivot at the sink if EAV output is required.
# ---------------------------------------------------------------------------
DOC_METRICS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("ds", StringType(), False),  # civil UTC day partition
        StructField("extracted_text", StringType(), True),
        StructField("scrubbed_text", StringType(), True),
        StructField("word_count", LongType(), True),
        StructField("mean_word_len", DoubleType(), True),
        StructField("max_word_len", LongType(), True),
        StructField("stopword_ratio", DoubleType(), True),
        StructField("symbol_word_ratio", DoubleType(), True),
        StructField("dup_5gram_frac", DoubleType(), True),
        StructField("pred_lang", StringType(), True),
        StructField("lang_conf", DoubleType(), True),
        StructField("perplexity", DoubleType(), True),
        StructField("num_pii", LongType(), True),
        StructField("num_tox", LongType(), True),
        StructField("keep", BooleanType(), True),
        # quality_flag: 0 = ok, -9 = quarantined (the reference's sentinel for
        # fetch/compute failure, ispaq/simple_metrics.py:128-140). Rows never
        # fail the job; they carry the flag.
        StructField("quality_flag", IntegerType(), False),
    ]
)
