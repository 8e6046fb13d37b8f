"""Sink-side operators: day-partition pruning on read and the sigfig CSV
sink.

Reference surfaces grafted:
  * filename-date day pruning before read (ispaq/concierge.py:682-687,
    925-930) -> Catalyst partition pruning on a ds= partitioned table;
  * sigfig-formatted CSV (ispaq/utils.py:293-349).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ispaq_spark.pipeline import run_pipeline
from ispaq_spark.synthesize import default_model, pages_df


def _metrics(spark):
    return run_pipeline(spark, pages_df(spark, 300), model=default_model())


def test_partition_pruning_on_read(spark, tmp_path):
    out = str(tmp_path / "pages_by_ds")
    pages = pages_df(spark, 400).withColumn(
        "ds", F.date_format("warc_ts", "yyyy-MM-dd")
    )
    pages.write.partitionBy("ds").mode("overwrite").parquet(out)

    all_ds = sorted(r["ds"] for r in pages.select("ds").distinct().collect())
    assert len(all_ds) >= 2
    one = all_ds[0]

    scan = spark.read.parquet(out).where(F.col("ds") == one)
    # pruning evidence: the physical scan carries the partition filter
    # (inputFiles() is NOT evidence — it reads the pre-pushdown file index)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and one in plan
    # and the rows are right
    assert scan.count() == pages.where(F.col("ds") == one).count()


def test_csv_sink_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv")
    m = _metrics(spark).select(
        "url", "ds", F.round("perplexity", 6).alias("perplexity"), "keep"
    )
    m.write.option("header", True).mode("overwrite").csv(out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == m.count()
    assert back.columns == ["url", "ds", "perplexity", "keep"]
