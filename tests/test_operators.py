"""Dedup operator tests on a deterministic corpus with known
near-duplicates."""

from __future__ import annotations

import pytest

from ispaq_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " extra tail words here"),  # near dup of 0
        (3, "completely different text about spark and parquet files"),
        (4, "another unrelated document mentioning engines and queries"),
        (5, base.replace("quick", "rapid")),  # near dup of 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(corpus):
    out = exact_dedup(corpus, "text")
    assert out.count() == 5  # 0/1 collapse
    kept = {r["doc_id"] for r in out.collect()}
    assert 0 in kept and 1 not in kept  # deterministic winner = min id


def test_minhash_lsh_finds_near_dups(corpus):
    sigs = minhash_signatures(corpus, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    cand = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in cand  # exact dup always a candidate
    confirmed = jaccard_verify(corpus, pairs, "doc_id", "text", 0.8)
    conf = {(r["id_a"], r["id_b"]) for r in confirmed.collect()}
    assert (0, 1) in conf
    # unrelated docs never confirmed
    assert not any(3 in p or 4 in p for p in conf)


def test_minhash_dedup_end_to_end(corpus):
    out = minhash_dedup(corpus, "doc_id", "text", threshold=0.8)
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 1 not in ids
    assert 3 in ids and 4 in ids
