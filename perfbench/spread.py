"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload pipeline_default --seeds 1-10
    python3 perfbench/spread.py --results out1.txt out2.txt ...

For every metric it prints the median, the quartiles and the spread
(Q3 - Q1) / median that a metric's bound in BENCHMARK.json is compared
against. ``--results`` summarizes saved standard outputs of run.py instead
of running it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def summary_of(stdout: str) -> dict:
    """The wall-time figures, job times and CPU steal from a run's summary
    line."""
    lines = stdout.strip().splitlines()
    s = json.loads(lines[-2])["summary"] if len(lines) > 1 else {}
    return {k: s.get(k) for k in ("docs_per_s", "job_s", "settle_job_s_all",
                                  "job_s_all", "job_cpu_s_all",
                                  "jobs_cpu_steal_s", "run_wall_s")}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return {**last_json(proc.stdout), "summary": summary_of(proc.stdout)}


def summarize(results: list[dict]) -> dict[str, dict]:
    """Spread of every metric, and of the summary's wall-time figures."""
    figures = [{**r["metrics"], **{k: v for k, v in r.get("summary", {}).items()
                                   if isinstance(v, dict)}} for r in results]
    out = {}
    for name in sorted({k for f in figures for k in f}):
        vals = [f[name]["value"] for f in figures if name in f]
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals * 3)
        out[name] = {"n": len(vals), "median": median(vals), "q1": q1, "q3": q3,
                     "spread": quartile_spread(vals)}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--results", nargs="*")
    args = p.parse_args(argv)

    if args.results:
        results = [last_json(open(f).read()) for f in args.results]
    elif args.workload:
        results = []
        for seed in parse_seeds(args.seeds):
            results.append(run_once(args.workload, seed, args.seconds, args.trace))
            print(json.dumps({"seed": seed, **results[-1]}), flush=True)
    else:
        p.error("give --workload or --results")
    bad = [r for r in results if not r["correct"]]
    for name, s in summarize(results).items():
        print(f"{name:40s} n={s['n']:2d} median={s['median']:.6g} "
              f"q1={s['q1']:.6g} q3={s['q3']:.6g} spread={s['spread']:.4f}")
    print(f"incorrect runs: {len(bad)} of {len(results)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
