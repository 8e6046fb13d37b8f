"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, sorted column names, and an
order-insensitive value multiset (floats rounded to 9 decimals before
comparison to absorb representation noise the driver's hash may or may not
absorb — mismatches at 1e-6 scale would still surface).

Usage: python3 scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ("documents",)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # bytes/lists -> str for comparability
            df[c] = df[c].map(lambda v: str(v))
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
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
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="directory of the fixture tables (default: %(default)s)",
    )
    ap.add_argument("query", nargs="*", help="queries to run (default: all)")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    only = set(args.query)

    import __spark_entry__ as entry_mod
    from ispaq_spark.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        a, b = normalize(sdf), normalize(odf)
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
                a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
            )
        except AssertionError as ex:
            print(f"FAIL {name}: values differ\n{str(ex)[:800]}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(a)} rows [{dt:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
