"""Round-2 operators: C4-style span dedup, near-dup connected components,
skew-salted aggregation — edge cases the sf fixtures don't exercise
(multi-hop chains, fully duplicated documents)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ispaq_spark.driver_queries import (
    q_chunk_dedup,
    q_neardup_components,
    q_salted_skew_agg,
)


def _write(df, sf_dir: str, name: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docs"))
    span = "a b c d e f g h"  # exactly one 8-word chunk
    tailed = span + " tail one two three"
    rows = [
        (0, span, "en", "s0", len(span)),
        (1, tailed, "en", "s0", len(tailed)),  # first chunk dups doc 0's
        (2, span, "en", "s0", len(span)),  # fully duplicated doc
        (3, "unique words only in here now", "en", "s0", 29),
    ]
    _write(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
            "source string, n_chars long"
        ),
        d,
        "docs_chunk",
    )
    # chunk_dedup reads `documents`
    spark.read.parquet(f"{d}/docs_chunk.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    return d


def test_chunk_dedup_first_occurrence_wins(spark, docs_dir):
    out = {r["doc_id"]: r for r in q_chunk_dedup(spark, docs_dir).collect()}
    assert out[0]["clean_text"] == "a b c d e f g h"
    assert out[0]["removed_chunks"] == 0
    # doc 1 loses its first chunk (doc 0 owns it) but keeps its tail chunk
    assert out[1]["clean_text"] == "tail one two three"
    assert out[1]["removed_chunks"] == 1
    # doc 2 is entirely duplicate spans -> empty text, still emits a row
    assert out[2]["clean_text"] == ""
    assert out[2]["removed_chunks"] == 1
    assert out[3]["removed_chunks"] == 0


@pytest.fixture(scope="module")
def chain_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chain"))
    w = [f"w{i}" for i in range(10)]
    a = " ".join(w)  # {w0..w9}
    b = " ".join(w[:9] + ["x"])  # J(a,b)=9/11=.818
    c = " ".join(w[:8] + ["x", "y"])  # J(b,c)=9/11=.818, J(a,c)=8/12=.667
    iso1 = "p q r s t u v"  # isolated pair, own component
    iso2 = "p q r s t u v"
    lone = "totally separate vocabulary entirely"
    rows = [
        (10, a, "en", "s0", len(a)),
        (11, b, "en", "s0", len(b)),
        (12, c, "en", "s0", len(c)),
        (20, iso1, "en", "s0", len(iso1)),
        (21, iso2, "en", "s0", len(iso2)),
        (30, lone, "en", "s0", len(lone)),
    ]
    _write(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
            "source string, n_chars long"
        ),
        d,
        "documents",
    )
    return d


def test_components_transitive_chain(spark, chain_dir):
    out = {r["doc_id"]: r["comp"] for r in
           q_neardup_components(spark, chain_dir).collect()}
    # A~B and B~C but NOT A~C: transitivity must still cluster all three
    assert out[10] == out[11] == out[12] == 10
    assert out[20] == out[21] == 20
    assert 30 not in out  # no edges -> not a component member


def test_salted_agg_matches_plain(spark, chain_dir):
    salted = {r["source"]: r for r in
              q_salted_skew_agg(spark, chain_dir).collect()}
    plain = {
        r["source"]: r
        for r in spark.read.parquet(f"{chain_dir}/documents.parquet")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
        .collect()
    }
    assert set(salted) == set(plain)
    for s in plain:
        assert salted[s]["n_docs"] == plain[s]["n_docs"]
        assert salted[s]["total_chars"] == plain[s]["total_chars"]
