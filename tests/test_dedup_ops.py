"""Pure-Python twins for the three span-grain dedup operators, run against
a constructed corpus that exercises the edges the parquet fixtures don't:
boundary-straddling duplicates, whole-doc copies, sub-width docs, and
in-document loops. The twins re-derive the SEMANTICS independently (no
Spark, no SQL), so a bug shared by the query and its DuckDB oracle —
both relational — would still be caught here.

Operators covered (driver_queries.py): `chunk_dedup` (fixed 8-word grid),
`substring_dedup` (sliding 8-gram, exact for >= 8-token duplicated runs),
`intradoc_dedup` (within-doc repeated 3-gram collapse). The document-grain
operators of `operators/dedup.py` (`exact_dedup`, MinHash signatures, LSH
candidate pairs, `minhash_dedup`) are checked id for id the same way at
the end of the file.
"""

from __future__ import annotations

import hashlib
import random

import pytest

CHUNK_W = 8
SUB_W = 8

# ---------------------------------------------------------------------------
# Python twins (independent re-derivations of the operator semantics)
# ---------------------------------------------------------------------------


def chunk_dedup_local(docs: dict[int, str]) -> dict[int, tuple[str, int]]:
    """Fixed-grid span dedup: global first occurrence by (doc_id, idx)."""
    seen: dict[str, tuple[int, int]] = {}
    spans: dict[int, list[tuple[int, str]]] = {}
    for doc_id in sorted(docs):
        ws = docs[doc_id].split(" ")
        chunks = [
            " ".join(ws[i : i + CHUNK_W]) for i in range(0, len(ws), CHUNK_W)
        ]
        spans[doc_id] = list(enumerate(chunks))
        for idx, c in spans[doc_id]:
            seen.setdefault(c, (doc_id, idx))
    out = {}
    for doc_id, chs in spans.items():
        kept = [c for idx, c in chs if seen[c] == (doc_id, idx)]
        removed = sum(1 for idx, c in chs if seen[c] != (doc_id, idx))
        out[doc_id] = (" ".join(kept), removed)
    return out


def substring_dedup_local(docs: dict[int, str]) -> dict[int, tuple[str, int]]:
    """Sliding-gram dedup: token removed iff covered by an 8-gram whose
    first occurrence (by doc_id, pos) is elsewhere."""
    first: dict[str, tuple[int, int]] = {}
    grams: dict[int, list[tuple[int, str]]] = {}
    for doc_id in sorted(docs):
        ws = docs[doc_id].split(" ")
        g = [
            (p, " ".join(ws[p : p + SUB_W]))
            for p in range(0, max(len(ws) - SUB_W + 1, 0))
        ]
        grams[doc_id] = g
        for p, gr in g:
            first.setdefault(gr, (doc_id, p))
    out = {}
    for doc_id, g in grams.items():
        ws = docs[doc_id].split(" ")
        removed = set()
        for p, gr in g:
            if first[gr] != (doc_id, p):
                removed.update(range(p, p + SUB_W))
        kept = [w for i, w in enumerate(ws) if i not in removed]
        out[doc_id] = (" ".join(kept), len(removed))
    return out


def intradoc_dedup_local(text: str) -> tuple[str, int, int]:
    """Within-doc repeated-3-gram collapse (first occurrence survives)."""
    ws = text.split(" ")
    gs = [" ".join(ws[i : i + 3]) for i in range(0, max(len(ws) - 2, 0))]
    repstarts = [i for i, g in enumerate(gs) if gs.index(g) != i]
    rem = set()
    for i in repstarts:
        rem.update(range(i, i + 3))
    kept = [w for t, w in enumerate(ws) if t not in rem]
    return " ".join(kept), len(repstarts), len(rem)


# ---------------------------------------------------------------------------
# Constructed corpus: the edges that matter
# ---------------------------------------------------------------------------

BOILER = " ".join(f"b{i}" for i in range(8))  # one exact 8-word span
rng = random.Random(41)


def _words(n: int, tag: str) -> str:
    return " ".join(f"{tag}{rng.randint(0, 50)}_{i}" for i in range(n))


CORPUS = {
    # 0: source of the boilerplate span, grid-aligned
    0: BOILER + " " + _words(24, "a"),
    # 1: same span grid-aligned -> BOTH operators remove it
    1: BOILER + " " + _words(17, "c"),
    # 2: same span STRADDLING the 8-word grid (3 words of prefix) ->
    #    chunk_dedup MUST miss it, substring_dedup MUST remove it
    2: "p0 p1 p2 " + BOILER + " " + _words(13, "d"),
    # 3: exact whole-doc copy of 1 -> everything removed by both
    3: BOILER + " " + _words(17, "c"),
    # 4: shorter than one span/gram -> untouched everywhere
    4: "tiny doc here",
    # 5: in-document loop (the intradoc case): a 5-word phrase repeated
    5: ("l0 l1 l2 l3 l4 " * 3) + _words(9, "e"),
}
# doc 3 duplicates doc 1's randomness: force identical text
CORPUS[3] = CORPUS[1]


@pytest.fixture(scope="module")
def results(spark, tmp_path_factory):
    """Run all three Spark operators once over the constructed corpus."""
    import pandas as pd

    from ispaq_spark import driver_queries as dq

    sf_dir = str(tmp_path_factory.mktemp("dedup_ops"))
    pdf = pd.DataFrame(
        {
            "doc_id": list(CORPUS),
            "text": [CORPUS[k] for k in CORPUS],
            "lang": ["en"] * len(CORPUS),
            "source": ["s0"] * len(CORPUS),
            "n_chars": [len(CORPUS[k]) for k in CORPUS],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    qs = dq.queries()
    return {
        name: {r["doc_id"]: r.asDict() for r in qs[name](spark, sf_dir).collect()}
        for name in ("chunk_dedup", "substring_dedup", "intradoc_dedup")
    }


def test_chunk_dedup_matches_twin_and_misses_straddler(results):
    got = results["chunk_dedup"]
    want = chunk_dedup_local(CORPUS)
    for doc_id, (clean, removed) in want.items():
        assert got[doc_id]["clean_text"] == clean, doc_id
        assert got[doc_id]["removed_chunks"] == removed, doc_id
    # the straddling copy survives the fixed grid (its spans differ)...
    assert BOILER in got[2]["clean_text"]
    # ...while the aligned copy and the whole-doc copy lose it
    assert BOILER not in got[1]["clean_text"] or got[1]["removed_chunks"] > 0
    assert got[3]["clean_text"] == ""


def test_substring_dedup_matches_twin_and_catches_straddler(results):
    got = results["substring_dedup"]
    want = substring_dedup_local(CORPUS)
    for doc_id, (clean, removed) in want.items():
        assert got[doc_id]["clean_text"] == clean, doc_id
        assert got[doc_id]["n_removed"] == removed, doc_id
    # the discriminating case: the sliding grid removes the straddling
    # boilerplate that chunk_dedup's fixed grid cannot see
    assert BOILER not in got[2]["clean_text"]
    assert got[2]["n_removed"] >= SUB_W
    # token conservation: kept + removed == total
    for doc_id, row in got.items():
        n_kept = len(row["clean_text"].split(" ")) if row["clean_text"] else 0
        assert n_kept + row["n_removed"] == row["n_tokens"], doc_id


def test_intradoc_dedup_matches_twin(results):
    got = results["intradoc_dedup"]
    for doc_id, text in CORPUS.items():
        clean, n_rep, n_rem = intradoc_dedup_local(text)
        row = got[doc_id]
        assert row["clean_text"] == clean, doc_id
        assert row["n_repeat_grams"] == n_rep, doc_id
        assert row["n_removed"] == n_rem, doc_id
    # the loop doc actually collapses
    assert got[5]["n_removed"] > 0
    # cross-doc copies are NOT intradoc dups: doc 3 keeps everything
    assert got[3]["n_removed"] == 0


# ---------------------------------------------------------------------------
# shingles_of: the shared builder every gram-grain operator rides on.
# Property-checks the binary-doubling form (O(log k) zip passes) against a
# direct Python slice for every width 1..9, both separators, and the edge
# shapes the hostile fixture taught us to fear: empty, sub-width, exact-k,
# multibyte/astral tokens.
# ---------------------------------------------------------------------------


def test_shingles_of_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from ispaq_spark.operators.dedup import shingles_of

    cases = [
        [],
        ["a"],
        ["a", "b"],
        ["a", "b", "c"],
        ["a", "b", "c", "d", "e"],
        list("abcdefghij"),
        ["x"] * 7,
        [f"tok{i}" for i in range(20)],
        ["é", "漢", "字", "𝔘", "b"],
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id int, toks array<string>"
    )
    for k in range(1, 10):
        for sep in (" ", ""):
            got = {
                r["id"]: r["g"]
                for r in df.select(
                    "id", shingles_of(F.col("toks"), k, sep).alias("g")
                ).collect()
            }
            for i, c in enumerate(cases):
                exp = (
                    [sep.join(c[p : p + k]) for p in range(len(c) - k + 1)]
                    if len(c) >= k
                    else None
                )
                assert got[i] == exp, (k, sep, c)


# ---------------------------------------------------------------------------
# Document-grain dedup (operators/dedup.py) against a pure-Python oracle:
# exact dedup keeps the minimum id per text (NULL ids first); MinHash value
# j is min(int(md5(f"{j}|{shingle}")[:8], 16)) over the word 3-shingles;
# candidates share the band key f"{mh0}_{mh1}" or f"{mh2}_{mh3}"; a dup is
# the higher id of a candidate pair with word-set Jaccard >= 0.8. Compared
# id for id on the fixture corpus, a planted corpus, edge rows and one hot
# bucket.
# ---------------------------------------------------------------------------

NEAR_T = 0.8


def nulls_first(i):
    return (i is not None, i)


def exact_keep_local(rows):
    """Surviving ids, one per distinct text (None text is one group)."""
    best = {}
    for i, text in rows:
        if text not in best or nulls_first(i) < nulls_first(best[text]):
            best[text] = i
    return sorted(best.values(), key=nulls_first)


def minhash_local(text):
    toks = text.split(" ") if text is not None else []
    if len(toks) < 3:
        return None
    grams = [" ".join(toks[p : p + 3]) for p in range(len(toks) - 2)]
    return tuple(
        min(int(hashlib.md5(f"{j}|{g}".encode()).hexdigest()[:8], 16)
            for g in grams)
        for j in range(4)
    )


def candidates_local(rows):
    buckets = {}
    for i, text in rows:
        mh = minhash_local(text)
        if mh is None or i is None:
            continue
        for band in (f"0:{mh[0]}_{mh[1]}", f"1:{mh[2]}_{mh[3]}"):
            buckets.setdefault(band, []).append(i)
    return {
        (a, b)
        for ids in buckets.values()
        for a in ids
        for b in ids
        if a < b
    }


def near_dups_local(rows):
    text = dict(rows)

    def jac(a, b):
        sa, sb = set(text[a].split(" ")), set(text[b].split(" "))
        return len(sa & sb) / len(sa | sb)

    return {b for a, b in candidates_local(rows) if jac(a, b) >= NEAR_T}


def _planted_rows():
    r = random.Random(7)
    vocab = [f"w{i}" for i in range(3000)]
    base = [
        " ".join(r.choice(vocab) for _ in range(r.randint(20, 60)))
        for _ in range(60)
    ]
    rows = list(enumerate(base))
    nid = len(rows)
    for src in (3, 11, 29):  # verbatim copies
        rows.append((nid, base[src]))
        nid += 1
    for src in (5, 17, 41, 52):  # two tokens changed
        toks = base[src].split(" ")
        for p in r.sample(range(len(toks)), 2):
            toks[p] = f"x{nid}_{p}"
        rows.append((nid, " ".join(toks)))
        nid += 1
    return rows


EDGE_ROWS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta theta"),
    (None, "alpha beta gamma delta epsilon zeta eta theta"),
    (None, "iota kappa lambda mu nu xi omicron pi"),
    (4, "iota kappa lambda mu nu xi omicron pi"),
    (5, None),
    (6, None),
    (7, "two words"),
    (8, "two words"),
    (9, "one"),
    (10, ""),
    (11, "three tokens here"),
    (12, "three tokens here"),
]


def _hot_rows():
    """~300 near-identical docs: one shared 120-token body plus one
    unique tail token, so almost all share both band buckets."""
    body = " ".join(f"h{i}" for i in range(120))
    return [(100 + i, f"{body} t{i}") for i in range(300)]


def _fixture_rows():
    import pyarrow.parquet as pq

    from test_curation import SF_DIR

    tb = pq.read_table(f"{SF_DIR}/documents.parquet",
                       columns=["doc_id", "text"])
    return list(zip(tb["doc_id"].to_pylist(), tb["text"].to_pylist()))


DOC_CORPORA = {
    "fixture": _fixture_rows,
    "planted": _planted_rows,
    "edges": lambda: EDGE_ROWS,
    "hot_bucket": _hot_rows,
}


@pytest.fixture(scope="module", params=sorted(DOC_CORPORA))
def doc_corpus(request, spark):
    rows = DOC_CORPORA[request.param]()
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return request.param, rows, df


def _ids(df):
    return sorted((r[0] for r in df.collect()), key=nulls_first)


def test_exact_dedup_matches_oracle(doc_corpus):
    from ispaq_spark.operators.dedup import exact_dedup

    _, rows, df = doc_corpus
    out = exact_dedup(df, "text")
    assert out.columns == df.columns
    assert _ids(out.select("doc_id")) == exact_keep_local(rows)


def test_minhash_lsh_matches_oracle(doc_corpus):
    from ispaq_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup,
        minhash_signatures,
    )

    name, rows, df = doc_corpus
    sigs = minhash_signatures(df)
    got_sigs = {r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
                for r in sigs.where("doc_id IS NOT NULL").collect()}
    want_sigs = {i: minhash_local(t) for i, t in rows
                 if i is not None and minhash_local(t) is not None}
    assert got_sigs == want_sigs

    pairs = [tuple(r) for r in lsh_candidate_pairs(sigs).collect()]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == candidates_local(rows)

    dups = near_dups_local(rows)
    want = sorted((i for i, _ in rows if i not in dups), key=nulls_first)
    assert _ids(minhash_dedup(df).select("doc_id")) == want
    if name in ("planted", "hot_bucket"):
        assert dups  # the corpus really exercises the verify
    if name == "hot_bucket":
        assert len(candidates_local(rows)) > 10_000
