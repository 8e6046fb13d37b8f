"""The benchmark workloads and the traced per-layer probes.

BENCHMARK.json lists resume_incremental and curate_dedup; pipeline_default
runs with the same command. Each workload generates its inputs from the
seed (before any session exists), runs one full untimed warm-up job as
the last step of set-up, runs timed jobs
through the public API, and checks its outputs with correctness gates.
The per-layer probes call each layer's public functions one at a time on
the workload's inputs, inside ``Tracer`` spans.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ispaq_spark.curation import (
    CurationPolicy,
    assign_split,
    cap_per_source,
    curate_corpus,
    quality_filter,
)
from ispaq_spark.functions.heuristics import with_heuristics
from ispaq_spark.functions.scrub import scrubbed_col
from ispaq_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
)
from ispaq_spark.pipeline import rollup_lineage, run_pipeline
from ispaq_spark.reference_impl import label_document
from ispaq_spark.registry import REGISTRY, PipelineContext
from ispaq_spark.sinks import (
    ParquetManifestSink,
    input_fingerprints,
    read_manifest,
    run_resumable,
)
from ispaq_spark.synthesize import EPOCH

from . import inputs
from .harness import force, force_count, timed, Tracer
from .stats import median


def files_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*.parquet",
                                                     recursive=True))


def ds_of(day: int) -> str:
    return (EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d")


class Workload:
    name = ""
    # input docs of one timed job
    docs_per_job = 0
    # the layers the workload's jobs run, and so the ones its probe times
    layers: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.gate_results: dict[str, bool] = {}
        # extra summary figures: name -> {"value": ..., "unit": ...}
        self.extra: dict[str, dict] = {}

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self, spark: SparkSession, models) -> None:
        self.run_job(spark, models, -1)

    def prepare_job(self, k: int) -> None:
        """Untimed input change before timed job ``k``."""

    def run_job(self, spark: SparkSession, models, k: int) -> tuple[float, bool]:
        """One job: (seconds from the public call to its completed forced
        write, whether the job's own output check passed)."""
        raise NotImplementedError

    def gates(self, spark: SparkSession, models) -> None:
        """Fill ``gate_results`` (name -> passed)."""
        raise NotImplementedError

    def probe(self, spark: SparkSession, models, tracer: Tracer) -> dict:
        """Per-layer metrics of the layers in ``layers``."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# pipeline_default
# ---------------------------------------------------------------------------


class PipelineDefault(Workload):
    """run_pipeline(..., "default") over a pages table, forced by a noop
    write: map-only, every layer of the quality pipeline, no sink."""

    name = "pipeline_default"
    docs_per_job = 1000
    layers = ("pipeline", "extraction", "heuristics", "scrub")
    sample_every = 8

    def generate(self) -> None:
        self.pages_dir = os.path.join(self.work, "pages")
        self.rows = inputs.pages(self.docs_per_job, self.seed)
        inputs.write_parts(self.rows, inputs.PAGES_SCHEMA, self.pages_dir,
                           2 * self.cores)

    def run_job(self, spark, models, k):
        model, lid = models
        t, n = timed(lambda: force_count(run_pipeline(
            spark, spark.read.parquet(self.pages_dir), "default", model, lid)))
        return t, n == self.docs_per_job

    def gates(self, spark, models) -> None:
        model, lid = models
        by_url = {r["url"]: r for r in self.rows}
        sample = sorted(u for u in by_url if inputs.sampled(u, self.sample_every))
        out = (
            run_pipeline(spark, spark.read.parquet(self.pages_dir), "default",
                         model, lid)
            .where(F.col("url").isin(sample) | (F.col("quality_flag") == -9))
            .select("url", "extracted_text", "scrubbed_text", "keep",
                    "quality_flag")
            .collect()
        )
        got = {r["url"] for r in out}
        self.gate_results["sample_present"] = set(sample) <= got
        mismatches = 0
        for r in out:
            text, scrubbed, keep, flag = label_document(
                by_url[r["url"]]["html"], model, lid)
            if (r["extracted_text"], r["scrubbed_text"], bool(r["keep"]),
                    r["quality_flag"]) != (text, scrubbed, keep, flag):
                mismatches += 1
        self.gate_results["sample_matches_reference"] = mismatches == 0
        self.extra["gate_docs_checked"] = {"value": len(out), "unit": "count"}

    def probe(self, spark, models, tracer) -> dict:
        return probe_pipeline_layers(spark, models,
                                     spark.read.parquet(self.pages_dir), tracer)


# ---------------------------------------------------------------------------
# resume_incremental
# ---------------------------------------------------------------------------


class ResumeIncremental(Workload):
    """A new crawl day lands: replace one day's input, then run_resumable
    over all days (fingerprint scan, pipeline on the stale day, dynamic
    partition overwrite, manifest commit)."""

    name = "resume_incremental"
    days = 4
    docs_per_job = 500  # docs in one day
    layers = ("sinks", "pipeline", "extraction", "heuristics", "scrub")

    def generate(self) -> None:
        self.input_dir = os.path.join(self.work, "input")
        self.day_files: dict[int, list[str]] = {}
        for d in range(self.days):
            rows = inputs.day_pages(d, self.docs_per_job, self.seed,
                                    start=d * self.docs_per_job)
            self.day_files[d] = inputs.write_parts(
                rows, inputs.PAGES_SCHEMA, self.input_dir, self.cores,
                prefix=f"day{d}-v0")
        self.sink = os.path.join(self.work, "sink")

    def _read(self, spark) -> DataFrame:
        return spark.read.parquet(self.input_dir)

    def warmup(self, spark, models) -> None:
        # Fill the sink with every day partition.
        run_resumable(spark, self._read(spark), path=self.sink, model=models[0])

    def replace_day(self, k: int) -> int:
        d = k % self.days
        for p in self.day_files[d]:
            os.remove(p)
        rows = inputs.day_pages(d, self.docs_per_job, self.seed * 1000 + 1 + k,
                                start=(k + 1) * 10**6)
        self.day_files[d] = inputs.write_parts(
            rows, inputs.PAGES_SCHEMA, self.input_dir, self.cores,
            prefix=f"day{d}-v{k + 1}")
        return d

    def prepare_job(self, k) -> None:
        self.replaced = self.replace_day(k)

    def run_job(self, spark, models, k):
        t, rep = timed(run_resumable, spark, self._read(spark), path=self.sink,
                       model=models[0])
        d = self.replaced
        if k == 0:
            # Job 0's day is the same for a given seed, so this repeats
            # exactly; later jobs' days depend on how many fit the run.
            self.extra["bytes_stored_per_input_byte"] = {
                "value": tree_bytes(f"{self.sink}/ds={ds_of(d)}")
                / files_bytes(self.day_files[d]),
                "unit": "1",
            }
        return t, rep["computed"] == [ds_of(d)] and len(rep["skipped"]) == self.days - 1

    def gates(self, spark, models) -> None:
        model, lid = models
        current = self._read(spark)

        def lineage(df):
            return sorted((str(r[0]), *r[1:]) for r in
                          rollup_lineage(df).select(
                              "partition_id", "docs_in", "docs_kept",
                              "docs_dropped", "docs_error").collect())

        stored = lineage(spark.read.parquet(self.sink))
        fresh = lineage(run_pipeline(spark, current, "default", model, lid))
        self.gate_results["sink_lineage_matches_recompute"] = stored == fresh
        self.gate_results["manifest_matches_input"] = (
            read_manifest(self.sink) == input_fingerprints(current))

    def probe(self, spark, models, tracer) -> dict:
        d = self.replace_day(10**3)
        out = probe_sink(spark, models, self._read(spark),
                         files_bytes(self.day_files[d]), self.sink, tracer)
        day = spark.read.parquet(*self.day_files[d])
        out.update(probe_pipeline_layers(spark, models, day, tracer))
        return out


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------


class CurateDedup(Workload):
    """curate_corpus over a corpus with planted exact and near copies:
    shuffle- and join-heavy, no Python crossing."""

    name = "curate_dedup"
    base_docs = 500
    layers = ("dedup", "curation")
    exact_share = 0.10
    near_share = 0.10

    def generate(self) -> None:
        corpus = inputs.dedup_corpus(self.base_docs, self.seed,
                                     self.exact_share, self.near_share)
        self.exact_copy_ids = corpus.exact_copy_ids
        self.docs_per_job = len(corpus.rows)
        self.corpus_dir = os.path.join(self.work, "corpus")
        inputs.write_parts(corpus.rows, inputs.CORPUS_SCHEMA, self.corpus_dir,
                           self.cores)
        self.counts: list[int] = []
        self.policy = CurationPolicy()

    def _curated(self, spark) -> DataFrame:
        return curate_corpus(spark.read.parquet(self.corpus_dir),
                             policy=self.policy).curated

    def warmup(self, spark, models) -> None:
        force(self._curated(spark))

    def run_job(self, spark, models, k):
        t, n = timed(lambda: force_count(self._curated(spark)))
        self.counts.append(n)
        return t, n > 0

    def gates(self, spark, models) -> None:
        rows = (self._curated(spark)
                .select("doc_id", F.md5("text").alias("h"), "source").collect())
        hashes = [r["h"] for r in rows]
        per_source: dict[str, int] = {}
        for r in rows:
            per_source[r["source"]] = per_source.get(r["source"], 0) + 1
        g = self.gate_results
        g["no_duplicate_text"] = len(hashes) == len(set(hashes))
        g["planted_exact_copies_gone"] = not (
            {r["doc_id"] for r in rows} & self.exact_copy_ids)
        g["source_cap_held"] = max(per_source.values()) <= self.policy.cap_per_source
        g["survivors_stable"] = all(c == len(rows) for c in self.counts)

    def probe(self, spark, models, tracer) -> dict:
        return probe_dedup(spark.read.parquet(self.corpus_dir), self.policy,
                           tracer)


WORKLOADS = {w.name: w for w in (PipelineDefault, ResumeIncremental, CurateDedup)}


# ---------------------------------------------------------------------------
# Per-layer probes
# ---------------------------------------------------------------------------


def probe_pipeline_layers(spark, models, pages: DataFrame, tracer: Tracer) -> dict:
    """registry/pipeline planning, scan, the fused Arrow stage, heuristics
    and scrub, each forced on its own."""
    model, lid = models
    plans = [timed(run_pipeline, spark, pages, "default", model, lid)[0]
             for _ in range(5)]

    tracer.time("scan", force, pages.select("url", "warc_ts", "html"))
    ctx = PipelineContext(spark=spark, model=model, lid_model=lid)
    arrow = REGISTRY["extract_ppl"].apply(pages.select("url", "html"), ctx).drop(
        "html").cache()
    tracer.time("extraction", force, arrow)
    # The Arrow stage's output is cached now: heuristics and scrub are
    # timed over it, minus a plain scan of the cache.
    tracer.time("arrow_cached_scan", force, arrow)
    tracer.time("heuristics", force, with_heuristics(arrow, "extracted_text"))
    tracer.time("scrub", force, arrow.withColumn(
        "scrubbed_text", scrubbed_col("extracted_text")))
    arrow.unpersist()
    s = tracer.spans
    return {
        "pipeline.plan_s": median(plans),
        "scan.busy_s": s["scan"],
        "extraction.busy_s": s["extraction"] - s["scan"],
        "heuristics.busy_s": s["heuristics"] - s["arrow_cached_scan"],
        "scrub.busy_s": s["scrub"] - s["arrow_cached_scan"],
    }


def probe_sink(spark, models, pages: DataFrame, input_bytes: int, path: str,
               tracer: Tracer) -> dict:
    """run_resumable's steps one by one against a ParquetManifestSink:
    fingerprint scan, merge of the (pre-computed) stale partitions, commit."""
    model, lid = models
    sink = ParquetManifestSink(spark, path)
    fps = tracer.time("sinks.fingerprint", input_fingerprints, pages)
    seen = sink.read_snapshot()
    stale = sorted(ds for ds, fp in fps.items()
                   if seen.get(ds) != fp or not sink.partition_complete(ds))
    subset = pages.where(F.date_format("warc_ts", "yyyy-MM-dd").isin(stale))
    metrics = run_pipeline(spark, subset, "default", model, lid).cache()
    force(metrics)
    tracer.time("sinks.merge", sink.merge, metrics)
    tracer.time("sinks.commit", sink.commit_snapshot, {**seen, **fps})
    metrics.unpersist()
    written = sum(tree_bytes(f"{path}/ds={ds}") for ds in stale)
    s = tracer.spans
    return {
        "sinks.fingerprint_s": s["sinks.fingerprint"],
        "sinks.merge_s": s["sinks.merge"],
        "sinks.commit_s": s["sinks.commit"],
        "sinks.bytes_written": written,
        "sinks.partitions_recomputed": len(stale),
        "sinks.recompute_ratio": len(stale) / len(fps),
        "sinks.bytes_stored_per_input_byte": written / input_bytes,
    }


def probe_dedup(corpus: DataFrame, policy: CurationPolicy, tracer: Tracer) -> dict:
    """curate_corpus's stages one at a time, each forced over the cached
    output of the stage before it: exact dedup, then MinHash signatures ->
    LSH pairs -> Jaccard verify (near dedup's parts), then near dedup
    itself, quality filter, per-source cap and split."""
    cached: list[DataFrame] = []

    def stage(name: str, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.cache()
        cached.append(df)
        return df, tracer.time(name, force_count, df)

    exact, n_exact = stage("dedup.exact", exact_dedup(corpus, "text"))
    sigs, _ = stage("dedup.signatures", minhash_signatures(exact))
    pairs, candidates = stage("dedup.lsh_pairs", lsh_candidate_pairs(sigs))
    confirmed = tracer.time("dedup.verify", force_count,
                            jaccard_verify(exact, pairs))
    near, n_near = stage("curation.near_dedup", minhash_dedup(
        exact, threshold=policy.near_dup_threshold))
    quality, n_quality = stage("curation.quality", quality_filter(near, policy))
    capped, n_capped = stage("curation.cap", cap_per_source(
        quality, policy.cap_per_source))
    _, n_split = stage("curation.split", assign_split(capped, policy))
    for df in cached:
        df.unpersist()

    s = tracer.spans
    return {
        "dedup.exact_s": s["dedup.exact"],
        "dedup.signatures_s": s["dedup.signatures"],
        "dedup.lsh_pairs_s": s["dedup.lsh_pairs"],
        "dedup.verify_s": s["dedup.verify"],
        "dedup.lsh_candidates": candidates,
        "dedup.lsh_confirmed": confirmed,
        "dedup.lsh_precision": confirmed / candidates if candidates else 1.0,
        "curation.quality_s": s["curation.quality"],
        "curation.cap_s": s["curation.cap"],
        "curation.split_s": s["curation.split"],
        "curation.rows_out.exact_dedup": n_exact,
        "curation.rows_out.near_dedup": n_near,
        "curation.rows_out.quality": n_quality,
        "curation.rows_out.capped": n_capped,
        "curation.rows_out.split": n_split,
    }
