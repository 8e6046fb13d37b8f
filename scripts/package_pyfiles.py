"""Package the engine for `spark-submit --py-files`.

Produces dist/ispaq_spark.zip (the importable package, no tests/bench) and
prints the submit command. The model artifacts ride the driver and reach
executors via sparkContext.broadcast, once per session (the Arrow stage,
functions/extraction.py), so the zip
is all that ships — the evalresp-style external-binary path of the
reference (ispaq/evalresp.py:26-238) has no executor-side install step
here.

Usage:
  python scripts/package_pyfiles.py [dist_dir]
  spark-submit --py-files dist/ispaq_spark.zip scripts/run_job.py <args>
"""

from __future__ import annotations

import argparse
import os
import zipfile

EXCLUDE_DIRS = {"__pycache__"}


def build(repo: str, dist: str) -> str:
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "ispaq_spark.zip")
    pkg = os.path.join(repo, "ispaq_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d not in EXCLUDE_DIRS]
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, repo))
    return out


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "dist_dir",
        nargs="?",
        default=os.path.join(repo, "dist"),
        help="directory to write ispaq_spark.zip into (default: <repo>/dist)",
    )
    path = build(repo, ap.parse_args().dist_dir)
    print(path)
    print(
        "submit: spark-submit --master <cluster> "
        f"--py-files {path} scripts/run_job.py --input <pages> --output <metrics>"
    )
