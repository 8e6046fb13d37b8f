"""Layout-hostile fixture: sf0.01 VALUES, adversarial PHYSICAL layout.

The oracle certification so far varies the corpus's values (hostile) and
cardinality (degenerate) but always presents rows in the generator's
original order, in one comfortable parquet row group per table. On a real
cluster neither property holds: file-split assignment, scan order within a
task, and shuffle arrival order are all nondeterministic, so at 10^12
documents every query effectively runs on a random permutation of its
input. Any result that depends on physical row order — an implicit
first()/limit without a total order, a window tiebreak missing a key
column, an aggregation whose "arbitrary" element leaks into the output —
is a wrong answer at scale that the value-hostile fixtures can never see.

This script keeps every VALUE byte-identical to /root/testdata/sf0.01 and
attacks only the layout:

  * each table's rows are permuted by a seeded PCG64 permutation
    (a different one per table, so co-shuffled tables don't stay aligned);
  * each table is written with tiny row groups (37 rows) and tiny data
    pages, so Spark's split planning and DuckDB's row-group scan both see
    many fragments instead of one;
  * `documents` is additionally REVERSED before permuting so the giant-id
    tail rows lead the file (first-fragment bias).

Certification is two independent checks:
  1. engine-vs-engine on the shuffled layout —
         python3 scripts/check_oracle.py testdata_shuffled
  2. Spark-vs-Spark across layouts (layout invariance) —
         python3 scripts/check_layout_invariance.py

Deterministic (fixed seeds, no wall clock). Output defaults to
testdata_shuffled/ at the repo root.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Each table's permutation seed, fixed per table rather than taken from its
# position in the list, so the committed fixture reproduces byte for byte.
SEEDS = {
    "documents": 1008,
}


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "out_dir",
        nargs="?",
        default=os.path.join(REPO, "testdata_shuffled"),
        help="output directory (default: testdata_shuffled at the repo root)",
    )
    out = ap.parse_args().out_dir
    os.makedirs(out, exist_ok=True)
    for name, seed in SEEDS.items():
        t = pq.read_table(f"{SRC}/{name}.parquet")
        n = t.num_rows
        rng = np.random.Generator(np.random.PCG64(seed))
        perm = rng.permutation(n)
        if name == "documents":
            perm = perm[::-1].copy()
        shuffled = t.take(perm)
        pq.write_table(
            shuffled,
            f"{out}/{name}.parquet",
            row_group_size=37,
            data_page_size=1024,
        )
        back = pq.ParquetFile(f"{out}/{name}.parquet")
        assert back.metadata.num_rows == n
        assert back.schema_arrow == t.schema
        print(f"{name}: {n} rows permuted, {back.metadata.num_row_groups} row groups")
    print(f"shuffled fixture written to {out}")


if __name__ == "__main__":
    main()
