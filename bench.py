"""Headline benchmark — prints ONE JSON line.

Runs (a) the end-to-end quality pipeline over a deterministic synthetic
pages corpus sized to the scale factor, and (b) the headline operator
queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR, on
local[$SPARK_GRAFT_CPUS]. Every query is forced with a noop-format write
(full computation, no driver collect).

Every timing is a min-of-N (N=5 pipeline, 3 elsewhere) with a per-query
spread (max-min) column: this VM shows 2-4x whole-box bimodal slowdowns
(BENCH/BASELINE.md), so single samples cannot show regressions.

Output protocol (round-4 fix — BENCH_r03.json was truncated because the
per-query timings + spread dicts pushed the single JSON line past the
driver's tail-capture window, leaving "parsed": null):

  line 1: {"detail": "per_query", "queries": {...min sec...},
           "spread": {...max-min...}}          (also written to
           BENCH_DETAIL.json next to this script)
  final line: {"metric": "total_bench_sec", "value": N, "unit": "sec",
               "sf": ..., "docs_per_sec": ..., "docs_per_sec_marginal": ...,
               "n_docs": ..., "cpus": ..., "n_queries": ...,
               "detail_path": "BENCH_DETAIL.json"}

The FINAL line is the compact headline the driver must parse; per-query
timings stay recoverable from the earlier line and the sidecar file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = (
    "langid_confusion",
    "minhash_signatures",
    "jaccard_pairs",
    "minhash_lsh_neardup",
    "chunk_dedup",
    "neardup_components",
    "salted_skew_agg",
    "stratified_sample",
    "decontaminate",
    # round-3 additions
    "lsh_jaccard_verify",
    "dsir_resample",
    "canonical_docs",
    "split_assign",
    "adaptive_quality_cut",
    "source_overlap",
    "domain_cap",
    "char_entropy",
    "curation_report",
    "lsh_containment_verify",
    # round-4 additions
    "substring_dedup",
    "dup_cluster_hist",
    "intradoc_dedup",
)


def sf_of(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else 0.1


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from ispaq_spark import driver_queries as dq
    from ispaq_spark.pipeline import run_pipeline, rollup_lineage
    from ispaq_spark.session import get_spark
    from ispaq_spark.synthesize import default_model, pages_df

    sf = sf_of(SF_DIR)
    spark = get_spark(
        app_name="ispaq_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # --- end-to-end quality pipeline (the engine's headline job) ---------
    # Sized so fixed per-job overhead (task scheduling, python worker
    # spin-up) doesn't dominate the docs/sec figure: steady-state at sf0.1
    # is ~17k docs/s on 32 cores, so 60k docs ≈ 4s of real work.
    n_docs = max(500, int(600_000 * sf))
    model = default_model()
    # Parquet input, not .cache(): the in-memory columnar cache of the html
    # binary column scans SLOWER than a parquet file in the OS page cache
    # (measured 2.5x per-doc at 60k docs), and parquet is what production
    # reads — the same protocol as perfbench's workloads. Generation runs in
    # a SUBPROCESS JVM so the timed session's reused python workers and
    # heap never see the generator's allocation churn.
    import subprocess
    import tempfile

    pages_dir = os.path.join(
        tempfile.mkdtemp(prefix="bench_pages_"), "pages.parquet"
    )
    gen_script = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from ispaq_spark.session import get_spark\n"
        "from {gen_module} import {gen}\n"
        "spark = get_spark(app_name='bench_gen', master='local[{cpus}]')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "{gen}(spark, {n}, partitions={parts}).write.mode('overwrite')"
        ".parquet({out!r})\n"
        "spark.stop()\n"
    ).format(
        repo=os.path.dirname(os.path.abspath(__file__)),
        gen_module=pages_df.__module__,
        gen=pages_df.__name__,
        cpus=CPUS,
        n=n_docs,
        parts=CPUS * 4,
        out=pages_dir,
    )
    subprocess.run([sys.executable, "-c", gen_script], check=True)
    pages = spark.read.parquet(pages_dir)
    # warm-up: one FULL untimed pass. A limit() warm-up collapses to a
    # handful of tasks, so the first full-width run still pays every python
    # worker's broadcast-model unpickle + JVM heap growth + codegen at once
    # (measured: 39s first full pass vs 5-7s steady-state at 60k docs).
    force(run_pipeline(spark, pages, model=model))

    spreads: dict[str, float] = {}

    def timed(reps: int, fn) -> tuple[float, float]:
        """(min, max-min) over `reps` runs. The min is the timing; the
        spread is the variance column — under this VM's documented 2-4x
        whole-box bimodality a single sample per query cannot distinguish
        a regression from box noise (BENCH/BASELINE.md variance note)."""
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
        return min(samples), max(samples) - min(samples)

    def min_of(reps: int, fn) -> float:
        return timed(reps, fn)[0]

    # min-of-5 reps (the scaling-harness protocol, widened): a single rep
    # at this corpus size is ~70% fixed per-job overhead + variance and
    # understated steady-state ~7x in round 1; this VM additionally shows
    # BIMODAL whole-box slowdowns (identical config measured 7s and 27s an
    # hour apart — see "Single-box variance" in BENCH/BASELINE.md), so the
    # repo's performance measure is perfbench (BENCHMARK.json), not this
    # JSON's docs_per_sec.
    pipeline_sec, pipeline_spread = timed(
        5, lambda: force(run_pipeline(spark, pages, model=model))
    )
    timings["quality_pipeline"] = round(pipeline_sec, 3)
    spreads["quality_pipeline"] = round(pipeline_spread, 3)

    # marginal (steady-state) docs/sec via a two-size difference quotient:
    # rate over the docs ADDED between half and full corpus, with the fixed
    # per-job cost cancelled out.
    import glob as _glob

    files = sorted(_glob.glob(pages_dir + "/part-*.parquet"))
    pages_half = spark.read.parquet(*files[: max(1, len(files) // 2)])
    n_half = pages_half.count()
    half_sec = min_of(
        3, lambda: force(run_pipeline(spark, pages_half, model=model))
    )
    marginal = (
        (n_docs - n_half) / (pipeline_sec - half_sec)
        if pipeline_sec > half_sec
        else n_docs / pipeline_sec
    )

    sec, spread = timed(
        3, lambda: force(rollup_lineage(run_pipeline(spark, pages, model=model)))
    )
    timings["pipeline_with_rollup"] = round(sec, 3)
    spreads["pipeline_with_rollup"] = round(spread, 3)

    # --- operator queries at SF_DIR: min-of-3 each ------------------------
    qs = dq.queries()
    for name in BENCH_QUERIES:
        sec, spread = timed(3, lambda: force(qs[name](spark, SF_DIR)))
        timings[name] = round(sec, 3)
        spreads[name] = round(spread, 3)

    total = round(sum(timings.values()), 3)
    detail = {"detail": "per_query", "queries": timings, "spread": spreads}
    # Noise-controlled round-over-round ratios (an earlier interleaved run
    # of prev and cur implementations in one pinned JVM, recorded in
    # BENCH/BASELINE.md) ride the sidecar when the ratio file exists — raw
    # cross-run diffs are uninterpretable under this box's 2-4x bimodality.
    ratio_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        "RATIO_vs_prev.json",
    )
    if os.path.exists(ratio_path):
        with open(ratio_path) as f:
            ratio = json.load(f)
        detail["ratio_vs_prev"] = {
            n: r["ratio"] for n, r in ratio["queries"].items()
        }
        detail["ratio_prev_ref"] = ratio["prev_ref"]
        detail["ratio_protocol"] = ratio["protocol"]
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # Per-query detail on its OWN earlier line (+ sidecar file): the driver
    # captures a bounded stdout tail and parses the final JSON line, so the
    # headline line below must stay compact (BENCH_r03 lesson).
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "docs_per_sec": round(n_docs / pipeline_sec, 1),
                "docs_per_sec_marginal": round(marginal, 1),
                "n_docs": n_docs,
                "cpus": CPUS,
                "n_queries": len(timings),
                "detail_path": "BENCH_DETAIL.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    ).parse_args()
    main()
