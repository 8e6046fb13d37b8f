"""Round-3 operators: DSIR importance resampling, canonical-doc selection,
deterministic splits — semantic edge cases on hand-built fixtures (known
target mixtures, tied cluster quality, split stability under corpus
growth)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from ispaq_spark.driver_queries import (
    q_canonical_docs,
    q_dsir_resample,
    q_split_assign,
)


def _write(df, sf_dir: str, name: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture(scope="module")
def fx(spark):
    """documents: an English slice rich in 'alpha beta' vocabulary and a
    'xx' slice with disjoint vocabulary; duplicate clusters with a clear
    longest member; enough rows for stable distributions."""
    sf_dir = tempfile.mkdtemp(prefix="r3fx_")
    rows = []
    for i in range(40):
        rows.append((i, "alpha beta gamma delta " * 5, "en", "w1", 115))
    for i in range(40, 80):
        rows.append((i, "zork quux blarg fnord " * 5, "xx", "w2", 110))
    # exact-text duplicate cluster in en (same minhash signature), with one
    # longer member appended extra content -> different signature cluster
    for i in range(80, 84):
        rows.append((i, "dup dup dup common shingle text", "en", "w1", 31))
    _write(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ),
        sf_dir,
        "documents",
    )
    return sf_dir


def test_dsir_prefers_target_language_docs(spark, fx):
    """With target = the 'en' slice and disjoint vocabularies, every
    en-vocab doc must outweigh every xx-vocab doc."""
    got = q_dsir_resample(spark, fx).collect()
    w = {r["doc_id"]: r["dsir_weight"] for r in got}
    en_w = [v for k, v in w.items() if k < 40]
    xx_w = [v for k, v in w.items() if 40 <= k < 80]
    assert en_w and xx_w
    assert min(en_w) > max(xx_w)


def test_canonical_docs_picks_longest_then_min_id(spark, fx):
    got = {
        tuple([r["mh0"], r["mh1"], r["mh2"], r["mh3"]]): r
        for r in q_canonical_docs(spark, fx).collect()
    }
    # the 4-member exact-dup cluster: identical n_chars -> min doc_id wins
    clusters = [r for r in got.values() if r["n_members"] == 4]
    assert any(r["keep_id"] == 80 and r["keep_chars"] == 31 for r in clusters)


def test_canonical_docs_tie_breaks_on_quality(spark):
    """Same signature, different n_chars -> the longer doc is kept even
    with a larger doc_id."""
    sf_dir = tempfile.mkdtemp(prefix="r3tie_")
    rows = [
        (1, "same shingle content here", "en", "s", 10),
        (2, "same shingle content here", "en", "s", 99),  # longer wins
    ]
    _write(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ),
        sf_dir,
        "documents",
    )
    got = q_canonical_docs(spark, sf_dir).collect()
    assert len(got) == 1
    assert got[0]["keep_id"] == 2 and got[0]["keep_chars"] == 99


def test_split_assignments_stable_under_corpus_growth(spark, fx):
    """A document's split is a pure function of its id: adding documents
    must not move any existing doc between splits (the leakage failure of
    fraction-based randomSplit)."""
    sf2 = tempfile.mkdtemp(prefix="r3grow_")
    base = spark.read.parquet(f"{fx}/documents.parquet")
    extra = spark.createDataFrame(
        [(1000 + i, f"new doc {i}", "en", "w3", 9) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _write(base.union(extra), sf2, "documents")

    def per_doc(sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        from ispaq_spark.operators.dedup import hex_hash

        b = F.pmod(
            hex_hash(
                F.concat(F.lit("split|"), F.col("doc_id").cast("string"))
            ),
            F.lit(100),
        )
        return {
            r["doc_id"]: r["s"]
            for r in d.select(
                "doc_id",
                F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("s"),
            ).collect()
        }

    before, after = per_doc(fx), per_doc(sf2)
    assert all(after[k] == v for k, v in before.items())
    # and the rollup totals reconcile with the per-doc assignment
    got = q_split_assign(spark, sf2).collect()
    assert sum(r["n_docs"] for r in got) == len(after)
