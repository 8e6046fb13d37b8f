"""Names, units and directions of every metric the benchmark reports.

BENCHMARK.json at the repository root lists the same metrics; a test
keeps the two in step. perfbench/README.md says which end-to-end metric
and workload each per-layer metric should move.
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "docs_per_cpu_s": ("docs/cpu-s", "higher"),
    "job_cpu_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
}

PER_LAYER = {
    # set-up
    "session.start_s": ("s", "lower"),
    "models.build_s": ("s", "lower"),
    "pipeline.warmup_s": ("s", "lower"),
    # registry / pipeline and its map layers
    "pipeline.plan_s": ("s", "lower"),
    "scan.busy_s": ("s", "lower"),
    "scan.input_bytes": ("bytes", "lower"),
    "extraction.busy_s": ("s", "lower"),
    "arrow.bytes_to_python": ("bytes", "lower"),
    "arrow.bytes_from_python": ("bytes", "lower"),
    "arrow.rows": ("count", "lower"),
    "arrow.python_boot_s": ("s", "lower"),
    "arrow.python_run_s": ("s", "lower"),
    "heuristics.busy_s": ("s", "lower"),
    "scrub.busy_s": ("s", "lower"),
    # sinks
    "sinks.fingerprint_s": ("s", "lower"),
    "sinks.merge_s": ("s", "lower"),
    "sinks.commit_s": ("s", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.partitions_recomputed": ("count", "lower"),
    "sinks.recompute_ratio": ("1", "lower"),
    "sinks.bytes_stored_per_input_byte": ("1", "lower"),
    # curation / operators.dedup
    "dedup.exact_s": ("s", "lower"),
    "dedup.signatures_s": ("s", "lower"),
    "dedup.lsh_pairs_s": ("s", "lower"),
    "dedup.verify_s": ("s", "lower"),
    "dedup.lsh_candidates": ("count", "lower"),
    "dedup.lsh_confirmed": ("count", "higher"),
    "dedup.lsh_precision": ("1", "higher"),
    "curation.quality_s": ("s", "lower"),
    "curation.cap_s": ("s", "lower"),
    "curation.split_s": ("s", "lower"),
    "curation.rows_out.exact_dedup": ("count", "lower"),
    "curation.rows_out.near_dedup": ("count", "lower"),
    "curation.rows_out.quality": ("count", "lower"),
    "curation.rows_out.capped": ("count", "lower"),
    "curation.rows_out.split": ("count", "lower"),
    # Spark engine, per timed job, from the event log
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.jvm_gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "spark.task_skew": ("1", "lower"),
    # the traced run's own end-to-end figures (tracing overhead)
    "trace.docs_per_s": ("docs/s", "higher"),
    "trace.job_s": ("s", "lower"),
    "trace.job_cpu_s": ("s", "lower"),
}


def as_metrics(values: dict[str, float], table: dict) -> dict:
    """The result line's ``metrics`` object: every metric of ``table``, in
    its order, with its unit. A metric of a layer the workload does not
    run is absent from ``values`` and reported as 0."""
    return {name: {"value": values.get(name, 0), "unit": unit}
            for name, (unit, _) in table.items()}
