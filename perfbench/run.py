"""Repo benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed under perfbench/.work/ (removed on exit), then sets up once from a
cold JVM (session start, model build, one full warm-up job: ``setup_s``),
runs ``SETTLE_JOBS`` untimed jobs (at most ``SETTLE_MAX_S`` seconds),
then timed jobs back to back for ``--seconds``, checks the outputs, and
prints one JSON object as the last line of standard output. The line
before it is a summary: box, job times, correctness gates, and the
wall-time ``docs_per_s`` / ``job_s``, ``failed_ratio`` and
``bytes_stored_per_input_byte`` figures with units.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log for the timed jobs, then calls the public functions of
each layer the workload runs, one at a time, and reports the per-layer
metrics. perfbench/README.md says what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_JOBS = 3
SETTLE_JOBS = 6
SETTLE_MAX_S = 12.0


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ispaq_spark", "__init__.py")):
        print(f"perfbench: no ispaq_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.harness import (
        Box, Tracer, build_models, session_conf, shutdown_jvm, start_session,
        timed,
    )
    from perfbench.metrics import END_TO_END, PER_LAYER, as_metrics
    from perfbench.stats import PeakRss, cpu_steal_s, median, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    box = Box.detect()
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    for d in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark takes its scratch dirs from SPARK_LOCAL_DIRS when that is set;
    # point it inside the run's work dir like everything else.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    import pyarrow as pa

    pa.set_cpu_count(box.slots)
    wl = WORKLOADS[args.workload](work, args.seed, box.slots)
    try:
        wl.generate()
        conf = session_conf(box, ROOT, work, event_log)

        # -- set-up from a cold JVM ----------------------------------------
        t_session, spark = timed(start_session, box, conf)
        t_models, models = timed(build_models)
        t_warm, _ = timed(wl.warmup, spark, models)
        setup_s = t_session + t_models + t_warm

        def run_one(k: int) -> tuple[float, float]:
            """One job: (wall seconds, CPU seconds of the Spark processes
            less their JIT compiler threads)."""
            wl.prepare_job(k)
            cpu0 = tree_cpu_s(os.getpid())
            try:
                t, ok = wl.run_job(spark, models, k)
            except Exception:
                traceback.print_exc()
                t, ok = float("nan"), False
            results.append(ok)
            return t, tree_cpu_s(os.getpid()) - cpu0

        # -- settle: untimed jobs ------------------------------------------
        # After the cold first job, the JIT keeps compiling Spark's hot
        # paths and jobs keep getting faster for about six more jobs;
        # timing from the start of that slope put each run's median at a
        # different point on it. A count, not a time, so that a run on a
        # slower host starts timing at the same point of the slope.
        results: list[bool] = []
        settle_s = []
        end = time.perf_counter() + SETTLE_MAX_S
        while len(settle_s) < SETTLE_JOBS and time.perf_counter() < end:
            settle_s.append(run_one(len(results))[0])

        # -- timed jobs -----------------------------------------------------
        tracer = Tracer(spark if args.trace else None)
        job_s, job_cpu_s = [], []
        steal0 = cpu_steal_s()
        deadline = time.perf_counter() + args.seconds
        with PeakRss() as rss, tracer.span("jobs"):
            while len(job_s) < MIN_JOBS or time.perf_counter() < deadline:
                t, cpu = run_one(len(results))
                job_s.append(t)
                job_cpu_s.append(cpu)
        steal_s = cpu_steal_s() - steal0
        attempted, failed = len(results), results.count(False)

        # -- correctness gates ---------------------------------------------
        try:
            wl.gates(spark, models)
        except Exception:
            traceback.print_exc()
            wl.gate_results["gates_ran"] = False
        attempted += len(wl.gate_results)
        failed += sum(not ok for ok in wl.gate_results.values())

        ok = [(t, cpu) for t, cpu in zip(job_s, job_cpu_s) if t == t]
        job_med = median(t for t, _ in ok) if ok else float("nan")
        cpu_med = median(cpu for _, cpu in ok) if ok else float("nan")
        docs_per_s = wl.docs_per_job / job_med

        if args.trace:
            layers = wl.probe(spark, models, tracer)
            shutdown_jvm()
            from perfbench.eventlog import (
                arrow_metrics, read_group_metrics, spark_metrics,
            )

            groups = read_group_metrics(event_log)
            layers.update(spark_metrics(groups["jobs"], jobs=len(job_s)))
            if "extraction" in groups:
                layers.update(arrow_metrics(groups["extraction"]))
            if "scan" in groups:
                layers["scan.input_bytes"] = groups["scan"].input_bytes
            layers.update({
                "session.start_s": t_session,
                "models.build_s": t_models,
                "pipeline.warmup_s": t_warm,
                "trace.job_s": job_med,
                "trace.docs_per_s": docs_per_s,
                "trace.job_cpu_s": cpu_med,
            })
            metrics = as_metrics(layers, PER_LAYER)
        else:
            shutdown_jvm()
            metrics = as_metrics({
                "docs_per_cpu_s": wl.docs_per_job / cpu_med,
                "job_cpu_s": cpu_med,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_bytes / 2**20,
            }, END_TO_END)
    except Exception:
        traceback.print_exc()
        shutdown_jvm()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": box.cores,
        "slots": box.slots,
        "driver_heap_mb": box.heap_mb,
        "docs_per_job": wl.docs_per_job,
        "layers_run": wl.layers,
        "settle_job_s_all": settle_s,
        "jobs": len(job_s),
        "job_s_all": job_s,
        "job_cpu_s_all": job_cpu_s,
        "jobs_cpu_steal_s": steal_s,
        "setup_parts_s": {"session": t_session, "models": t_models,
                          "warmup": t_warm},
        "gates": wl.gate_results,
        "docs_per_s": {"value": docs_per_s, "unit": "docs/s"},
        "job_s": {"value": job_med, "unit": "s"},
        "failed_ratio": {"value": failed / attempted, "unit": "1"},
        **wl.extra,
        "run_wall_s": time.perf_counter() - T_START,
    }
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
