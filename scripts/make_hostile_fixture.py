"""Adversarial oracle fixture: the sf0.01 tables re-shaped to be HOSTILE.

The per-round driver gate proves Spark==DuckDB on two scales of the SAME
friendly generator; this script builds the cheapest remaining way to find a
wrong answer — a fixture that concentrates the classic cross-engine edge
cases while keeping every schema and value domain identical to
/root/testdata/sf0.01 so all registered queries still apply:

  documents   zipfian source skew (src0 carries ~45% of docs); empty and
              whitespace-only texts; single-token docs; astral-plane
              unicode (emoji, math alphanumerics, CJK) and combining
              marks; quote/semicolon/regex-metachar tokens (SQL- and
              regex-escape hazards); a 10k-char single word; NULL texts
              (the friendly fixture has none); exact-duplicate clusters
              spanning sources; ONE 10^6-token document built from a
              3-token cycle + unique tail (repeat structure dedup must
              find, with O(n) not O(n^2) first-occurrence probes).

Everything is deterministic (fixed seed, no wall clock). Output dir
defaults to testdata_hostile/ at the repo root; run the full sweep with

    python3 scripts/make_hostile_fixture.py
    python3 scripts/check_oracle.py testdata_hostile
"""

from __future__ import annotations

import argparse
import os

import pyarrow as pa
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LANGS = ["en", "de", "zh", "fr", "es"]

HOSTILE_TEXTS = [
    "",                                   # empty string
    " ",                                  # single space
    "   ",                                # runs of spaces -> '' tokens
    "hello",                              # single token
    "\U0001F980",                         # single astral-plane token
    "\U0001D518\U0001D52B\U0001D526 \U0001F980\U0001F525 "
    "汉字测试 ßẞ straße",  # astral+CJK+sharp-s
    "café café café",    # NFC vs NFD combining marks
    "it's a \"quoted\" value; DROP TABLE docs; -- comment",
    "a.b a*b a(b [c] \\d +e ^f$ {g} |h",  # regex metachars as tokens
    "x" * 10_000,                         # one 10k-char word
    "the the the the the the the the the the the the the the the the",
    "tab\tand\nnewline mixed nbsp",  # whitespace that is NOT ' '
]


def load(name: str) -> pa.Table:
    return pq.read_table(f"{SRC}/{name}.parquet")


def write(out: str, name: str, table: pa.Table, like: pa.Table) -> None:
    table = table.select(like.column_names).cast(like.schema)
    pq.write_table(table, f"{out}/{name}.parquet")


def zipf_source(i: int) -> str:
    # deterministic zipf-ish: src0 ~45%, src1 ~18%, src2 ~9%, tail uniform
    r = (i * 2654435761) % 100
    if r < 45:
        return "src0"
    if r < 63:
        return "src1"
    if r < 72:
        return "src2"
    return f"src{3 + (i % 17)}"


def build_documents(base: pa.Table) -> pa.Table:
    n = base.num_rows
    doc_id, text, lang, source, n_chars = [], [], [], [], []

    def add(i, t, lg):
        doc_id.append(i)
        text.append(t)
        lang.append(lg)
        source.append(zipf_source(i))
        n_chars.append(len(t) if t is not None else 0)

    base_text = base.column("text").to_pylist()
    base_lang = base.column("lang").to_pylist()
    n_inject = len(HOSTILE_TEXTS) + 2 + 6 + 1  # hostile + nulls + dups + giant
    for i in range(n - n_inject):
        add(i, base_text[i], base_lang[i])
    i = n - n_inject
    for t in HOSTILE_TEXTS:
        add(i, t, LANGS[i % 5])
        i += 1
    for _ in range(2):  # NULL texts (friendly fixture has none)
        add(i, None, LANGS[i % 5])
        i += 1
    dup = "exact duplicate cluster spans sources and langs alike"
    for _ in range(6):  # exact-dup cluster crossing sources
        add(i, dup, "en")
        i += 1
    # ONE 10^6-token document: 3-token cycle (first-occurrence probes stay
    # O(1) per gram) + a unique tail so it is not pure repetition. It gets
    # its own (source, lang) block: the registry's documented
    # fixture-scale QUADRATIC oracle twins (jaccard_pairs,
    # cosine_neardup, neardup_components' blocked pair join) materialize
    # full texts per candidate pair, and a 4.7MB text times hundreds of
    # same-block partners is a deliberate OOM, not a fairness test — the
    # singleton block keeps the giant doc on every LINEAR path (token
    # explodes, gram grids, LSH signatures, ppl) while pair oracles
    # see it only as a block of one.
    giant = "spam ham eggs " * 333_330 + " ".join(
        f"uniq{k}" for k in range(10)
    )
    doc_id.append(i)
    text.append(giant)
    lang.append("en")
    source.append("src_giant_solo")
    n_chars.append(len(giant))
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "out_dir",
        nargs="?",
        default=os.path.join(REPO, "testdata_hostile"),
        help="output directory (default: testdata_hostile at the repo root)",
    )
    out = ap.parse_args().out_dir
    os.makedirs(out, exist_ok=True)
    builders = {
        "documents": build_documents,
    }
    for name, fn in builders.items():
        base = load(name)
        write(out, name, fn(base), base)
    for name in builders:
        t = pq.read_table(f"{out}/{name}.parquet")
        print(f"{name}: {t.num_rows} rows, schema ok")
    print(f"hostile fixture written to {out}")

if __name__ == "__main__":
    main()
