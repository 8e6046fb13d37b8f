"""Bucketed-table co-located joins: executed evidence that the bucket
layout replaces the shuffle — the pre-partitioning strategy a 100-TB
deployment uses for fact tables repeatedly joined on one key."""

from __future__ import annotations

import contextlib
import uuid

import pytest
from pyspark.sql import functions as F


@contextlib.contextmanager
def _tmp_db(spark, tmp_path):
    name = f"bktdb_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {name} LOCATION '{tmp_path}/wh'")
    try:
        yield name
    finally:
        spark.sql(f"DROP DATABASE {name} CASCADE")


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    with _tmp_db(spark, tmp_path) as db:
        left = spark.range(0, 2000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).alias("x"),
        )
        right = spark.range(0, 2000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 11).alias("y"),
        )
        for df, name in ((left, "l"), (right, "r")):
            (df.write.mode("overwrite").format("parquet")
             .bucketBy(8, "doc_id").sortBy("doc_id")
             .saveAsTable(f"{db}.{name}"))
        yield db


def test_cobucketed_join_has_no_exchange(spark, bucketed_pair):
    """Same key, same bucket count on both sides: the join must consume
    the disk layout directly — zero Exchange nodes in the whole plan."""
    db = bucketed_pair
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        j = spark.table(f"{db}.l").join(spark.table(f"{db}.r"), "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == 2000


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_pair):
    """groupBy on the bucket key rides the layout too — aggregation
    without any shuffle."""
    db = bucketed_pair
    agg = spark.table(f"{db}.l").groupBy("doc_id").agg(F.sum("x"))
    plan = _plan(agg)
    assert "Exchange" not in plan, plan
    assert agg.count() == 2000


def test_mismatched_bucket_counts_still_correct(spark, tmp_path):
    """Different bucket counts can't line up — Spark must fall back to a
    shuffle on at least one side, and results stay correct (the layout is
    an optimization, never a semantics change)."""
    with _tmp_db(spark, tmp_path) as db:
        left = spark.range(0, 500).select(F.col("id").alias("k"))
        right = spark.range(0, 500).select(F.col("id").alias("k"))
        for df, name, n in ((left, "a", 8), (right, "b", 4)):
            (df.write.mode("overwrite").format("parquet")
             .bucketBy(n, "k").saveAsTable(f"{db}.{name}"))
        with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            j = spark.table(f"{db}.a").join(spark.table(f"{db}.b"), "k")
            assert j.count() == 500
            # one side may reuse its layout; the other must exchange
            assert "Exchange" in _plan(j)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: one hot key holding ~90% of the fact side must be
    detected and split at runtime (SortMergeJoin(skew=true) + an
    AQEShuffleRead marked skewed) — the executed evidence behind every
    'AQE handles residual skew' claim in the operator docstrings. The
    thresholds are scaled down to fixture sizes; production uses the
    defaults (256 MB / factor 5)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with contextlib.ExitStack() as st:
        for k, v in confs.items():
            st.enter_context(_conf(spark, k, v))
        left = spark.range(0, 100000).select(
            F.when(F.col("id") % 10 == 0, F.col("id") % 5)
            .otherwise(0)
            .alias("k"),
            (F.col("id") * 2).alias("pad"),
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 100000
        plan = _plan(j)  # the SAME QueryExecution the collect finalized
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan, plan
