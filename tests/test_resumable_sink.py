"""Resumable idempotent sink (ispaq_spark/sinks.py): upsert-by-partition +
manifest-fingerprint resume — the SQLite-upsert / Iceberg-snapshot analog."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from ispaq_spark.sinks import run_resumable, read_manifest
from ispaq_spark.synthesize import default_model, pages_df


def test_resume_skips_then_recomputes(spark, tmp_path):
    out = str(tmp_path / "metrics")
    model = default_model()
    pages = pages_df(spark, 400).cache()
    pages.count()

    # first run computes every day
    r1 = run_resumable(spark, pages, out, model=model)
    assert r1["computed"] and not r1["skipped"]
    full = spark.read.parquet(out)
    n_total = full.count()
    # parquet partition-type inference reads ds back as a date
    all_ds = sorted(str(r["ds"]) for r in full.select("ds").distinct().collect())
    assert all_ds == r1["computed"]

    # identical rerun is a complete no-op
    r2 = run_resumable(spark, pages, out, model=model)
    assert not r2["computed"] and r2["skipped"] == all_ds

    # simulate losing one partition's output (executor/driver crash between
    # write and manifest, or a deleted snapshot): only that day recomputes
    lost = all_ds[1]
    shutil.rmtree(f"{out}/ds={lost}")
    r3 = run_resumable(spark, pages, out, model=model)
    assert r3["computed"] == [lost]
    assert sorted(r3["skipped"] + r3["computed"]) == all_ds

    # the resumed table equals a from-scratch run, row for row
    assert spark.read.parquet(out).count() == n_total
    again = str(tmp_path / "metrics_fresh")
    run_resumable(spark, pages, again, model=model)
    a = spark.read.parquet(out).orderBy("url").toPandas()
    b = spark.read.parquet(again).orderBy("url").toPandas()
    assert a.equals(b)

    pages.unpersist()


def test_changed_input_invalidates_partition(spark, tmp_path):
    out = str(tmp_path / "metrics")
    model = default_model()
    pages = pages_df(spark, 300).cache()
    pages.count()
    run_resumable(spark, pages, out, model=model)
    manifest_before = read_manifest(out)

    # perturb one day's input (an extra page): only that day recomputes
    extra_ds = sorted(manifest_before)[0]
    extra = pages.limit(1).withColumn(
        "url", F.concat(F.col("url"), F.lit("-new"))
    ).withColumn("warc_ts", F.to_timestamp(F.lit(f"{extra_ds} 12:00:00")))
    perturbed = pages.unionByName(extra)
    r = run_resumable(spark, perturbed, out, model=model)
    assert r["computed"] == [extra_ds]
    assert read_manifest(out)[extra_ds] != manifest_before[extra_ds]
    pages.unpersist()


class _MemorySink:
    """A second MetricSink backend (collected rows + in-memory snapshot):
    proves run_resumable drives the interface, not the parquet backend —
    the shape an Iceberg-catalog implementation drops into."""

    def __init__(self):
        self.partitions: dict[str, list] = {}
        self.snapshot: dict[str, str] = {}
        self.merge_calls = 0

    def merge(self, metrics):
        self.merge_calls += 1
        for ds, rows in _group_by_ds(metrics):
            self.partitions[ds] = rows

    def read_snapshot(self):
        return dict(self.snapshot)

    def commit_snapshot(self, fingerprints):
        self.snapshot = dict(fingerprints)

    def partition_complete(self, ds):
        return ds in self.partitions


def _group_by_ds(metrics):
    from collections import defaultdict

    by_ds = defaultdict(list)
    for r in metrics.collect():
        by_ds[str(r["ds"])].append(r)
    return by_ds.items()


def test_equal_rows_replaced_by_equal_rows_invalidate_partition(spark, tmp_path):
    """A day whose rows go from (A, A) to (B, B) keeps its row count, and
    the fingerprint's equal hashes must not cancel: the day recomputes."""
    out = str(tmp_path / "metrics")
    page = pages_df(spark, 1)
    a = page.unionByName(page)
    b = a.withColumn("url", F.concat(F.col("url"), F.lit("-b")))
    r1 = run_resumable(spark, a, out, model=default_model())
    r2 = run_resumable(spark, b, out, model=default_model())
    assert r2["computed"] == r1["computed"] and len(r1["computed"]) == 1
    got = sorted(r["url"] for r in spark.read.parquet(out).collect())
    assert got == sorted(r["url"] for r in b.collect())


def test_run_resumable_drives_any_sink(spark):
    model = default_model()
    pages = pages_df(spark, 200).cache()
    pages.count()
    sink = _MemorySink()

    r1 = run_resumable(spark, pages, model=model, sink=sink)
    assert r1["computed"] and not r1["skipped"]
    assert sorted(sink.partitions) == r1["computed"]
    assert sink.merge_calls == 1

    # no-op rerun: the resume logic consults only the interface
    r2 = run_resumable(spark, pages, model=model, sink=sink)
    assert not r2["computed"]
    assert sink.merge_calls == 1

    # losing a partition in the backend triggers exactly that recompute
    lost = r1["computed"][0]
    del sink.partitions[lost]
    r3 = run_resumable(spark, pages, model=model, sink=sink)
    assert r3["computed"] == [lost]
    pages.unpersist()


def test_run_resumable_uses_caller_lid_model(spark, tmp_path, zz_lid_model):
    """The caller's langid model decides pred_lang in the sink; the default
    model never replaces it."""
    out = str(tmp_path / "metrics")
    pages = pages_df(spark, 60)
    run_resumable(spark, pages, out, model=default_model(),
                  lid_model=zz_lid_model)
    langs = {r["pred_lang"] for r in spark.read.parquet(out)
             .where(F.col("extracted_text").isNotNull())
             .select("pred_lang").distinct().collect()}
    assert langs == {"zz"}


def test_crash_before_manifest_rename_keeps_old_manifest(
    spark, tmp_path, monkeypatch
):
    """A crash after the temp manifest is written but before it is renamed
    over the old one leaves the old manifest readable, and the next run
    equals a clean recompute."""
    from ispaq_spark.sinks import ParquetManifestSink

    out = str(tmp_path / "metrics")
    model = default_model()
    pages = pages_df(spark, 200).cache()
    pages.count()
    run_resumable(spark, pages, out, model=model)
    sink = ParquetManifestSink(spark, out)
    before = sink.read_snapshot()
    assert before == read_manifest(out)

    # change one day's input, then crash between temp write and rename
    day = sorted(before)[0]
    extra = pages.limit(1).withColumn(
        "url", F.concat(F.col("url"), F.lit("-new"))
    ).withColumn("warc_ts", F.to_timestamp(F.lit(f"{day} 12:00:00")))
    changed = pages.unionByName(extra)

    def crash(self, src, dst):
        raise RuntimeError("crash before rename")

    monkeypatch.setattr(ParquetManifestSink, "_replace", crash)
    try:
        run_resumable(spark, changed, out, model=model)
        raise AssertionError("the injected crash did not happen")
    except RuntimeError as e:
        assert "crash before rename" in str(e)
    assert (tmp_path / "metrics" / "_ds_manifest.json.tmp").exists()
    assert sink.read_snapshot() == before

    monkeypatch.undo()
    r = run_resumable(spark, changed, out, model=model)
    assert r["computed"] == [day]
    clean = str(tmp_path / "clean")
    run_resumable(spark, changed, clean, model=model)
    a = spark.read.parquet(out).orderBy("url").toPandas()
    b = spark.read.parquet(clean).orderBy("url").toPandas()
    assert a.equals(b)
    assert read_manifest(out) == read_manifest(clean)
    pages.unpersist()
