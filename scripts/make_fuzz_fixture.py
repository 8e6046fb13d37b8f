"""Seeded fuzz fixture: random INTERACTION mixes of the hostile classes.

The hostile fixture hand-places each cross-engine hazard once, at a fixed
row, in a fixed combination. This fuzzer draws the SAME hazard classes
(NULL/empty/whitespace/unicode/metachar texts, duplicate clusters,
skewed hot keys) but places them at seeded-random rows with seeded-random
parameters, so every seed exercises a different interaction mix — a NULL
text that lands in the densest LSH band, a duplicate pair whose copies
fall in the same stratified-sample cell. Schemas and value domains stay
identical to the base fixture so all registered queries apply, and the
invariants the repo's oracles assume are preserved:

  * n_chars == len(text) (0 for NULL) — recomputed after every mutation;
  * numeric magnitudes capped at 1e6 (the 6-absolute-decimal rounding
    convention needs sig+6 digits of cross-engine float agreement);
  * no extra giant documents (the documented fixture-scale quadratic
    oracle twins materialize texts per candidate pair; the hostile
    fixture's singleton-block giant already covers that axis);
  * row order is ALSO permuted per seed (layout varies with the values).

Usage:
    python3 scripts/make_fuzz_fixture.py SEED [out_dir]
    python3 scripts/check_oracle.py testdata_fuzz_s<SEED>

Deterministic per seed; no wall clock.
"""

from __future__ import annotations

import argparse
import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HAZARD_TEXTS = [
    "",
    " ",
    "   ",
    "hello",
    "\U0001F980",
    "\U0001D518\U0001D52B\U0001D526 \U0001F980\U0001F525 汉字测试 ßẞ straße",
    "café café café",
    "it's a \"quoted\" value; DROP TABLE docs; -- comment",
    "a.b a*b a(b [c] \\d +e ^f$ {g} |h",
    "x" * 2_000,
    "the the the the the the the the the the the the the the the the",
    "tab\tand\nnewline mixed nbsp",
]
LANGS = ["en", "de", "zh", "fr", "es"]


def fuzz_documents(t: pa.Table, rng: random.Random) -> pa.Table:
    df = t.to_pandas()
    n = len(df)
    idx = list(range(n))

    def sample(k):
        return rng.sample(idx, min(k, n))

    for i in sample(rng.randint(3, 10)):  # NULL texts
        df.loc[i, "text"] = None
    for i in sample(rng.randint(5, 15)):  # hazard pool texts
        df.loc[i, "text"] = rng.choice(HAZARD_TEXTS)
        df.loc[i, "lang"] = rng.choice(LANGS)
    # random exact-dup clusters: c clusters of size 2..5, copies land at
    # random rows (crossing sources/langs by construction)
    for _ in range(rng.randint(2, 6)):
        members = sample(rng.randint(2, 5))
        src_text = df.loc[rng.choice(idx), "text"]
        for i in members:
            df.loc[i, "text"] = src_text
    # hot-source skew: reassign a random fraction to one hot source
    hot_frac = rng.uniform(0.1, 0.5)
    hot_src = f"src{rng.randint(0, 3)}"
    for i in sample(int(hot_frac * n)):
        df.loc[i, "source"] = hot_src
    # restore the invariant after all text mutations
    df["n_chars"] = df["text"].map(lambda s: len(s) if s is not None else 0)
    df["n_chars"] = df["n_chars"].astype("int64")
    return pa.Table.from_pandas(df, preserve_index=False)


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("seed", type=int, help="fuzz seed")
    ap.add_argument(
        "out_dir",
        nargs="?",
        help="output directory (default: testdata_fuzz_s<SEED> at the repo root)",
    )
    args = ap.parse_args()
    seed = args.seed
    out = args.out_dir or os.path.join(REPO, f"testdata_fuzz_s{seed}")
    os.makedirs(out, exist_ok=True)
    fuzzers = {
        "documents": fuzz_documents,
    }
    for name, fuzz in fuzzers.items():
        # each table draws from its own streams, keyed on (seed, name), so
        # adding or dropping a table leaves every other table's bytes alone
        rng = random.Random(f"{seed}|{name}")
        perm_rng = np.random.Generator(
            np.random.PCG64([seed, zlib.crc32(name.encode())])
        )
        base = pq.read_table(f"{SRC}/{name}.parquet")
        fuzzed = fuzz(base, rng).select(base.column_names).cast(base.schema)
        fuzzed = fuzzed.take(perm_rng.permutation(fuzzed.num_rows))
        pq.write_table(fuzzed, f"{out}/{name}.parquet")
        print(f"{name}: {fuzzed.num_rows} rows fuzzed (seed {seed})")
    print(f"fuzz fixture written to {out}")


if __name__ == "__main__":
    main()
