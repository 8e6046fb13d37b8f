"""Degenerate-shape oracle fixture: the smallest corpus a 10^12-doc job
actually meets.

The hostile fixture (make_hostile_fixture.py) concentrates VALUE edge
cases at normal cardinality; this one concentrates CARDINALITY edge
cases — the shapes a per-day pipeline is guaranteed to hit in production
(a nearly-empty day partition, a re-crawl day that is 100% duplicates, a
single-source day) and that tiny-k algorithms (LSH banding, stratified
cuts) must survive without crashing or diverging from the SQL oracle:

  documents   6 rows: one 3-copy exact-duplicate cluster spanning two
              sources (the all-duplicate day), one single-token doc, one
              ordinary doc, one NULL text — every dedup/cluster/sample
              query runs with fewer rows than its usual strata/buckets.

Everything is sliced or constructed deterministically from
/root/testdata/sf0.001 — no wall clock, no randomness. Output defaults to
testdata_degenerate/ at the repo root; sweep with

    python3 scripts/make_degenerate_fixture.py
    python3 scripts/check_oracle.py testdata_degenerate

`--empty` writes the limiting case instead: ZERO-row tables (schemas
intact) — the empty day partition:

    python3 scripts/make_degenerate_fixture.py /tmp/testdata_empty --empty
    python3 scripts/check_oracle.py /tmp/testdata_empty
"""

from __future__ import annotations

import argparse
import os

import pyarrow as pa
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata/sf0.001")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(name: str) -> pa.Table:
    return pq.read_table(os.path.join(SRC, f"{name}.parquet"))


def write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


DUP_TEXT = (
    "the quick brown fox jumps over the lazy dog and then the quick "
    "brown fox jumps over the lazy dog again and again"
)


def build_documents(base: pa.Table) -> pa.Table:
    rows = {
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": [
            DUP_TEXT,
            DUP_TEXT,
            DUP_TEXT,
            "solitary",
            "an ordinary document with some plain words about a table "
            "scan and a hash join and a filter",
            None,
        ],
        "lang": ["en", "en", "fr", "en", "en", "en"],
        "source": ["src0", "src0", "src1", "src1", "src2", "src0"],
    }
    rows["n_chars"] = [len(t) if t is not None else 0 for t in rows["text"]]
    cols = []
    for f in base.schema:
        arr = pa.array(rows[f.name], type=f.type)
        cols.append(arr)
    return pa.Table.from_arrays(cols, schema=base.schema)


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "out_dir",
        nargs="?",
        default=os.path.join(REPO, "testdata_degenerate"),
        help="output directory (default: testdata_degenerate at the repo root)",
    )
    ap.add_argument(
        "--empty", action="store_true", help="write zero-row tables instead"
    )
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)
    builders = {
        "documents": build_documents,
    }
    for name, build in builders.items():
        base = load(name)
        write(args.out_dir, name, base.slice(0, 0) if args.empty else build(base))
    kind = "zero-row" if args.empty else "degenerate"
    print(f"{kind} fixture written to {args.out_dir}")

if __name__ == "__main__":
    main()
