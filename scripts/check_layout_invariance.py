"""Layout-invariance gate: every query must return the SAME value multiset
on the original and layout-shuffled copies of the corpus.

check_oracle.py proves Spark==DuckDB on one physical layout; this check
proves Spark==Spark across layouts — the property a 1000-executor cluster
actually relies on, since file-split assignment and scan order are
nondeterministic there. A query that passes the oracle but fails here has
an order-dependent pick (implicit first(), underspecified window/rank
tiebreak, "any value" aggregate leaking into output) that would flip
answers run-to-run at 10^12 rows.

Float columns are compared after rounding to 6 decimals — the repo's own
cross-engine r6 convention: two Spark runs over different partition orders
re-associate float sums exactly the way two engines do, and every shipped
query already rounds the doubles it emits.

Usage: python3 scripts/check_layout_invariance.py [base_dir] [shuffled_dir] [query ...]
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback

import pandas as pd

sys.path.insert(0, ".")


def normalize(df: pd.DataFrame, ndigits: int = 6) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v))
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(ndigits)
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "base_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="original layout (default: %(default)s)",
    )
    ap.add_argument(
        "shuffled_dir",
        nargs="?",
        default="testdata_shuffled",
        help="layout-shuffled copy (default: %(default)s)",
    )
    ap.add_argument("query", nargs="*", help="queries to run (default: all)")
    args = ap.parse_args()
    base, shuf, only = args.base_dir, args.shuffled_dir, set(args.query)

    import __spark_entry__ as entry_mod
    from ispaq_spark.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            a = normalize(fn(spark, base).toPandas())
            b = normalize(fn(spark, shuf).toPandas())
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} != {list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} != {len(b)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(
                a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-6
            )
        except AssertionError as ex:
            print(f"FAIL {name}: values differ across layouts\n{str(ex)[:800]}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(a)} rows layout-invariant [{dt:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
