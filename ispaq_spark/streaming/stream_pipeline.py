"""Streaming quality pipeline: readStream(pages) -> the SAME metric stages
-> keep/drop -> windowed lineage rollups with watermark.

Every batch stage of the pipeline is per-row (no cross-row state), so the
identical stage functions apply to a streaming DataFrame unchanged — the
payoff of declaring stages as column transformations instead of imperative
loops. Only the lineage rollup changes shape: a watermarked window
aggregation instead of a plain groupBy (late pages beyond the watermark are
dropped from rollups but still scored and sunk).

The reference analog: ispaq's --starttime/--endtime day loop
(ispaq/simple_metrics.py:83-89) becomes window(warc_ts, '1 day') +
withWatermark; resume-after-failure is the checkpointLocation instead of
the SQLite upsert (ispaq/utils.py:157-272).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import run_pipeline
from ..reference_impl import NgramLM


def streaming_pages(
    spark: SparkSession, source_dir: str, schema=None
) -> DataFrame:
    """File-source stream of pages parquet (one micro-batch per new file)."""
    from ..schemas import PAGES

    return (
        spark.readStream.schema(schema or PAGES)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )


def streaming_metrics(
    spark: SparkSession,
    pages_stream: DataFrame,
    model: NgramLM | None = None,
) -> DataFrame:
    """Apply the batch metric stages to a stream — identical code path."""
    return run_pipeline(spark, pages_stream, model=model)


def streaming_rollup(metrics: DataFrame) -> DataFrame:
    """Watermarked daily rollup (append-mode friendly)."""
    with_ts = metrics.withColumn("event_ts", F.to_timestamp("ds"))
    return (
        with_ts.withWatermark("event_ts", "2 days")
        .groupBy(F.window("event_ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("docs_kept"),
            F.sum(F.when(F.col("quality_flag") == -9, 1).otherwise(0)).alias(
                "docs_error"
            ),
        )
        .select(
            F.col("w.start").alias("day"), "docs_in", "docs_kept", "docs_error"
        )
    )


def run_rollup_stream_once(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "ds string, keep boolean, quality_flag int",
):
    """Drain available metrics files through the WATERMARKED daily rollup
    into an exactly-once parquet file sink, then stop. Repeated calls with
    the same checkpoint resume the watermark where the last drain left it,
    so this is the restart loop of a production rollup job: rows later
    than the checkpointed watermark are dropped from their (already
    finalized) windows, and a window's row is emitted exactly once, in the
    first batch whose watermark passes the window end."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    q = (
        streaming_rollup(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, 300)
    return q


def _await_drained(q, timeout_sec: int) -> None:
    """awaitTermination(timeout) returns False when the query is STILL
    RUNNING — under this host's documented multi-x whole-box slowdowns a
    drain can exceed the budget, and silently returning would hand callers
    a directory of partial output despite the 'then stop' contract. Stop
    the query and raise instead."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream drain exceeded {timeout_sec}s; output is partial"
        )


def run_stream_once(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_metrics_out",
    model: NgramLM | None = None,
):
    """Drain all available input in micro-batches (availableNow), write
    per-doc metrics to an in-memory sink; returns the query after it
    finishes. Checkpoint dir gives exactly-once resume."""
    stream = streaming_pages(spark, source_dir)
    metrics = streaming_metrics(spark, stream, model=model)
    q = (
        metrics.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, 300)
    return q
