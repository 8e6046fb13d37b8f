"""Idempotent, resumable batch sink — the Iceberg MERGE / snapshot-resume
posture expressed behind a backend-agnostic interface.

Reference surface grafted: the SQLite upsert sink keyed (target, start,
end) (ispaq/utils.py:157-272) makes reruns overwrite, never duplicate; the
PSD csv/db round-trip (ispaq/PSD_metrics.py:121-153, PDF_aggregator.py:
28-70) is its stage-checkpoint. Here:

  * `MetricSink` — the protocol `run_resumable` drives: `merge` (replace
    exactly the day partitions present in the batch), `read_snapshot` /
    `commit_snapshot` (per-partition input fingerprints), and
    `partition_complete`. A real Iceberg catalog backend implements the
    same four calls with MERGE INTO + snapshot metadata and drops in
    without touching the resume logic (tests/test_resumable_sink.py
    exercises the interface with a second, non-parquet backend).
  * `ParquetManifestSink` — the sandbox backend: dynamic partition
    overwrite on ds + a JSON manifest. ALL manifest/partition IO goes
    through the Hadoop FileSystem API resolved from the path's scheme, so
    an hdfs:// or s3a:// output path works identically to a local one
    (driver-local open()/isdir() would silently see every partition stale
    on a remote filesystem).

Crash-safe ordering: data partitions land via dynamic overwrite FIRST, the
snapshot manifest is replaced LAST, by a temp-file write and an atomic
rename — a failure anywhere in between only causes recompute, never a
stale partition being trusted or a torn manifest being read. At cluster scale the
manifest is tiny (one row per day partition) and the fingerprint scan is a
metadata-light aggregate over (url, warc_ts) only.
"""

from __future__ import annotations

import abc
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .reference_impl import NgramLM

MANIFEST = "_ds_manifest.json"


class MetricSink(abc.ABC):
    """What `run_resumable` needs from a sink backend. Keys are day
    partition values (ds strings); fingerprints are opaque strings."""

    @abc.abstractmethod
    def merge(self, metrics: DataFrame) -> None:
        """Upsert-by-partition: replace exactly the ds partitions present
        in `metrics`, leave every other partition untouched (Iceberg:
        MERGE INTO / dynamic overwrite)."""

    @abc.abstractmethod
    def read_snapshot(self) -> dict[str, str]:
        """Last committed {ds: input_fingerprint} (Iceberg: snapshot
        summary / table property). Empty dict when nothing committed."""

    @abc.abstractmethod
    def commit_snapshot(self, fingerprints: dict[str, str]) -> None:
        """Atomically replace the committed fingerprint map. MUST be
        called only after `merge` has fully landed."""

    @abc.abstractmethod
    def partition_complete(self, ds: str) -> bool:
        """Whether the ds partition's output physically exists (guards the
        crash window between commit_snapshot of a previous run and a
        partition lost afterwards)."""


class ParquetManifestSink(MetricSink):
    """Parquet + JSON-manifest backend; scheme-agnostic via Hadoop FS."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # -- Hadoop FileSystem plumbing (works for file:, hdfs:, s3a:, ...) --
    def _fs(self, path: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jpath

    def merge(self, metrics: DataFrame) -> None:
        (
            metrics.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ds")
            .parquet(self.path)
        )

    def read_snapshot(self) -> dict[str, str]:
        fs, jp = self._fs(f"{self.path}/{MANIFEST}")
        if not fs.exists(jp):
            return {}
        stream = fs.open(jp)
        try:
            raw = bytes(
                self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
                    stream
                )
            )
        finally:
            stream.close()
        try:
            return json.loads(raw.decode("utf-8"))
        except ValueError:
            return {}

    def commit_snapshot(self, fingerprints: dict[str, str]) -> None:
        """Write the manifest to a temp file under the sink path, then
        rename it over the old one: a reader sees the old manifest or the
        new one, never a torn one."""
        fs, tmp = self._fs(f"{self.path}/{MANIFEST}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(
                bytearray(
                    json.dumps(fingerprints, sort_keys=True).encode("utf-8")
                )
            )
        finally:
            out.close()
        self._replace(tmp, self._fs(f"{self.path}/{MANIFEST}")[1])

    def _replace(self, src, dst) -> None:
        """Rename ``src`` over ``dst`` (Hadoop FileContext rename with
        OVERWRITE: atomic on HDFS and on local filesystems)."""
        hfs = self.spark._jvm.org.apache.hadoop.fs
        fc = hfs.FileContext.getFileContext(
            dst.toUri(), self.spark._jsc.hadoopConfiguration()
        )
        opts = self.spark.sparkContext._gateway.new_array(hfs.Options.Rename, 1)
        opts[0] = hfs.Options.Rename.OVERWRITE
        fc.rename(src, dst, opts)

    def partition_complete(self, ds: str) -> bool:
        fs, jp = self._fs(f"{self.path}/ds={ds}")
        return bool(fs.isDirectory(jp))


def input_fingerprints(pages: DataFrame) -> dict[str, str]:
    """Per-day content fingerprint of the input, ``count:hi:lo``: the row
    count and the sums of the high and the low 32 bits of
    xxhash64(url, warc_ts) (together, the exact sum of the hashes).
    Commutative and associative, so partition order and parallelism never
    change it, and unlike an XOR, equal rows do not cancel. Each sum stays
    below 2^63, so ANSI mode cannot overflow, up to 2^31 rows a day."""
    rows = (
        pages.select(
            F.date_format("warc_ts", "yyyy-MM-dd").alias("ds"),
            F.xxhash64("url", "warc_ts").alias("h"),
        )
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
            F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
        )
        .collect()
    )
    return {r["ds"]: f"{r['n']}:{r['hi']}:{r['lo']}" for r in rows}


def read_manifest(path: str) -> dict[str, str]:
    """Driver-local manifest read for tests/tooling on local paths; the
    resume logic itself goes through MetricSink.read_snapshot."""
    try:
        with open(f"{path.rstrip('/')}/{MANIFEST}") as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    path: str | None = None,
    model: NgramLM | None = None,
    metric_sets="default",
    sink: MetricSink | None = None,
    lid_model: dict | None = None,
) -> dict:
    """Compute + sink only the stale day partitions; returns a report
    {'computed': [...], 'skipped': [...]}. Drives any MetricSink backend
    (default: ParquetManifestSink at `path`)."""
    from .pipeline import run_pipeline

    if sink is None:
        if path is None:
            raise ValueError("run_resumable needs a path or a sink")
        sink = ParquetManifestSink(spark, path)

    fps = input_fingerprints(pages)
    seen = sink.read_snapshot()
    stale = sorted(
        ds
        for ds, fp in fps.items()
        if seen.get(ds) != fp or not sink.partition_complete(ds)
    )
    if stale:
        subset = pages.where(
            F.date_format("warc_ts", "yyyy-MM-dd").isin(stale)
        )
        sink.merge(run_pipeline(spark, subset, metric_sets, model, lid_model))
        sink.commit_snapshot({**seen, **fps})
    return {
        "computed": stale,
        "skipped": sorted(set(fps) - set(stale)),
    }
