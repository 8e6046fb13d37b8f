"""Round-3 operators: DSIR importance resampling, canonical-doc selection,
deterministic splits, the density-capped geo estimator — semantic edge
cases on hand-built fixtures (known target mixtures, tied cluster quality,
split stability under corpus growth, geo counts around the cap)."""

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


def _geo_tables(spark, n_sup: int, n_cust: int):
    """Key-derived coordinate tables matching the geo_radius family."""
    sup = spark.range(1, n_sup + 1).select(
        F.col("id").alias("s_suppkey"),
        ((F.col("id") * 7919 % 18000) / 100.0 - 90.0).alias("slat"),
        ((F.col("id") * 104729 % 36000) / 100.0 - 180.0).alias("slon"),
    )
    cust = spark.range(1, n_cust + 1).select(
        F.col("id").alias("c_custkey"),
        ((F.col("id") * 7919 % 18000) / 100.0 - 90.0).alias("clat"),
        ((F.col("id") * 104729 % 36000) / 100.0 - 180.0).alias("clon"),
    )
    return sup, cust


def _geo_exact(spark, sup, cust):
    """Brute-force exact within-radius counts (test oracle)."""
    central = F.degrees(
        F.acos(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(-1.0),
                    F.sin(F.radians("slat")) * F.sin(F.radians("clat"))
                    + F.cos(F.radians("slat"))
                    * F.cos(F.radians("clat"))
                    * F.cos(F.radians(F.col("slon") - F.col("clon"))),
                ),
            )
        )
    )
    return (
        sup.crossJoin(cust)
        .where(central <= 20.0)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_within"))
    )


def test_geo_banded_exact_below_cap(spark):
    """Density dial, exact regime: while no latitude band exceeds the cap
    the lottery keeps everything and the banded count must equal the
    brute-force count row for row."""
    from ispaq_spark.driver_queries import _geo_banded_count

    sup, cust = _geo_tables(spark, 40, 800)  # ~80/band << cap
    got = {
        r["s_suppkey"]: r["n_within"]
        for r in _geo_banded_count(sup, cust).collect()
    }
    want = {
        r["s_suppkey"]: r["n_within"]
        for r in _geo_exact(spark, sup, cust).collect()
    }
    assert got == want


def test_geo_banded_estimator_above_cap(spark):
    """Density dial, estimator regime: with bands far above the cap the
    result must be (a) deterministic across runs and (b) a stratified
    estimate within a tight tolerance of the exact count per supplier —
    while the join itself touches only ~cap rows per band."""
    from ispaq_spark.driver_queries import _geo_banded_count

    sup, cust = _geo_tables(spark, 25, 20_000)  # ~2000/band >> cap=600
    got1 = {
        r["s_suppkey"]: r["n_within"]
        for r in _geo_banded_count(sup, cust).collect()
    }
    got2 = {
        r["s_suppkey"]: r["n_within"]
        for r in _geo_banded_count(sup, cust).collect()
    }
    assert got1 == got2  # hash lottery -> reproducible across retries
    want = {
        r["s_suppkey"]: r["n_within"]
        for r in _geo_exact(spark, sup, cust).collect()
    }
    assert set(got1) == set(want)
    for k, est in got1.items():
        exact = want[k]
        # matched-per-supplier is in the hundreds here -> SE ~ a few
        # percent; 20% is a loose, flake-proof bound that still catches a
        # broken weighting (estimates off by p or 1/p fail by miles)
        assert abs(est - exact) <= max(0.20 * exact, 10), (k, est, exact)
