"""Scrub: the JVM regexp_replace chain == the reference chain, byte-for-
byte on every fixture doc."""

from __future__ import annotations

from pyspark.sql import functions as F

from ispaq_spark.functions.scrub import scrub_sql
from ispaq_spark.reference_impl import scrub_text

# Text on which Java's and Python's `\b` disagree: numerals that are not
# decimal digits (², ½, Ⅻ) before the word, a combining mark (U+0301)
# after it. The tox rule's ASCII word boundary reads each the same way in
# both engines.
BOUNDARY_CASES = {
    "²frak": "²<TOX>",
    "½frak": "½<TOX>",
    "Ⅻfrak": "Ⅻ<TOX>",
    "frak\u0301": "<TOX>\u0301",
    "frakk": "frakk",
}


def test_scrub_sql_byte_identity(spark, fixture_labels):
    texts = [
        (url, lab["text"])
        for url, lab in fixture_labels.items()
        if lab["text"] is not None
    ] + [(f"boundary:{text}", text) for text in BOUNDARY_CASES]
    df = spark.createDataFrame(texts, ["url", "text"])
    out = df.select("url", scrub_sql(F.col("text")).alias("sql_scrub")).collect()
    assert len(out) > 300
    ref = {url: scrub_text(text) for url, text in texts}
    for r in out:
        assert r["sql_scrub"] == ref[r["url"]], r["url"]
    for text, want in BOUNDARY_CASES.items():
        assert ref[f"boundary:{text}"] == want, text
