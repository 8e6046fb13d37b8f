"""The end-to-end quality pipeline: pages -> metric columns -> keep/drop ->
scrub -> (metrics table, lineage rollups).

Graft of ispaq's execute path (ispaq/ispaq.py:443-466 ->
simple_metrics.py:83-258: day loop -> per-target fetch -> per-function rpy2
calls -> concat -> sink) as ONE declarative DataFrame plan: the one Arrow
stage (extraction, perplexity, langid and the heuristic metrics, one
reference-function call per group like ispaq's) batches through the
JVM<->Python boundary, and Catalyst fuses the scrub and the keep decision
into one projection over its output. There is no day loop — `ds` is a
partition column and Spark parallelizes across all days and documents at
once.

Scale posture (north rule): optional salting repartition for skewed domains
*before* the metric stages (run_request's `salt_buckets` preference), AQE
enabled in the session, model broadcast, quarantine instead of failure,
idempotent partition-overwrite sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .reference_impl import NgramLM
from .registry import PipelineContext, apply_columns, resolve
from .schemas import DOC_METRICS
from .session import session_memo


def salt_repartition(pages: DataFrame, buckets: int) -> DataFrame:
    """Salt-partition skewed domains: repartition on (ds, hash(url) % buckets)
    so one hot domain spreads over `buckets` tasks (SURVEY.md §4; the
    reference has no parallelism at all, ispaq/ispaq.py:443-705)."""
    return pages.repartition(
        buckets,
        F.date_format("warc_ts", "yyyy-MM-dd"),
        F.pmod(F.hash("url"), F.lit(buckets)),
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    metric_sets: tuple[str, ...] | str = "default",
    model: NgramLM | None = None,
    lid_model: dict | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> DOC_METRICS-shaped DataFrame.

    Every expression, the Arrow-stage UDF and the model broadcasts are
    built on a session's first call and reused (session.session_memo), so
    a repeat call costs one analysis of a few projections. A call with a
    different model replaces (destroys) the session's broadcast of the old
    one: run a DataFrame planned with one model before planning with
    another."""
    ctx = PipelineContext(spark=spark, model=model, lid_model=lid_model)

    # The union of the requested columns, computed once: one Arrow stage
    # however many sets ask for Python-computed columns.
    produced = frozenset(c for ms in resolve(metric_sets) for c in ms.columns)
    df = apply_columns(pages, ctx, produced)
    out = session_memo(
        spark.sparkContext, ("output", produced), lambda: _output_columns(produced)
    )
    return df.select(*out)


def _output_columns(produced: frozenset[str]) -> list:
    """The DOC_METRICS columns of ``produced``, typed, plus quality_flag.
    Quarantine: extraction failure carries qualityFlag=-9 and flows to the
    sink (ispaq/simple_metrics.py:128-140 — never fail the job for one
    row)."""
    names = [
        f.name
        for f in DOC_METRICS.fields
        if f.name in produced and f.name not in ("url", "ds", "quality_flag")
    ]
    flag = F.lit(0)
    if "extracted_text" in produced:
        flag = F.when(F.col("extracted_text").isNull(), F.lit(-9)).otherwise(flag)
    return [
        F.col("url").cast(_TYPES["url"]),
        F.date_format("warc_ts", "yyyy-MM-dd").alias("ds"),
        *[F.col(c).cast(_TYPES[c]) for c in names],
        flag.cast(_TYPES["quality_flag"]).alias("quality_flag"),
    ]


_TYPES = {f.name: f.dataType.simpleString() for f in DOC_METRICS.fields}


def rollup_lineage(metrics: DataFrame) -> DataFrame:
    """Per-partition lineage counts (FIXTURES.md §3; graft of the reference's
    per-day PSD/PDF aggregate tables, ispaq/utils.py:119-147). Map-side
    partial aggregation; one small shuffle."""
    return (
        metrics.groupBy(F.col("ds").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("docs_kept"),
            F.sum(
                F.when(~F.col("keep") & (F.col("quality_flag") == 0), 1)
                .otherwise(0)
            ).alias("docs_dropped"),
            F.sum(F.when(F.col("quality_flag") == -9, 1).otherwise(0)).alias(
                "docs_error"
            ),
        )
    )
