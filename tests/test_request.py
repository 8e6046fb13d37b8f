"""Declarative request surface (ispaq_spark/request.py): preference-file
parsing, alias resolution + validation, target/time selection, and an
end-to-end pipeline run driven from a preference file — the graft of
ispaq's `ispaq.py -P prefs -M alias -S alias --starttime` workflow
(ispaq/user_request.py:197-302)."""

from __future__ import annotations

import datetime as dt
import re

import pytest

from ispaq_spark.request import (
    _glob_to_regex,
    build_request,
    parse_preferences,
    run_request,
    select_pages,
)
from ispaq_spark.synthesize import default_model, pages_df

PREFS = "preference_files/default.txt"


def test_parse_sections_and_comments(tmp_path):
    p = tmp_path / "prefs.txt"
    p.write_text(
        """
# leading comment
Metrics:
  quick: heuristicsOnly   # trailing comment
  two: extraction, decision

Targets:
  mine: https://a.example.org/*, https://b.example.org/p/?

Data_Access:
  input: /data/pages
  output:

Preferences:
  sigfigs: 4
"""
    )
    prefs = parse_preferences(str(p))
    assert prefs["metrics"]["quick"] == ["heuristicsOnly"]
    assert prefs["metrics"]["two"] == ["extraction", "decision"]
    assert prefs["targets"]["mine"] == [
        "https://a.example.org/*",
        "https://b.example.org/p/?",
    ]
    assert prefs["data_access"]["input"] == "/data/pages"
    assert prefs["data_access"]["output"] is None  # empty value = optional
    assert prefs["preferences"]["sigfigs"] == "4"


def test_alias_and_column_resolution():
    req = build_request(PREFS, metrics="langOnly")
    assert req.metric_sets == ("langid",)  # columns -> provider set
    req = build_request(PREFS, metrics="customStats")
    assert req.metric_sets == ("heuristics", "perplexity", "decision")
    # a literal registry set list works without the file
    req = build_request(None, metrics="extraction,heuristics")
    assert req.metric_sets == ("extraction", "heuristics")


def test_invalid_metric_name_fails_loudly():
    with pytest.raises(ValueError, match="invalid metric name.*valid"):
        build_request(PREFS, metrics="no_such_metric")


def test_target_alias_vs_literal_vs_invalid():
    req = build_request(PREFS, targets="hotSites")
    assert req.url_globs == (
        "https://site000.example.org/*",
        "https://site001.example.org/*",
    )
    req = build_request(PREFS, targets="https://x.example.org/*")
    assert req.url_globs == ("https://x.example.org/*",)
    with pytest.raises(ValueError, match="invalid target parameter"):
        build_request(PREFS, targets="notAnAliasOrGlob")


def test_time_range_defaults_one_day():
    req = build_request(PREFS, starttime="2024-03-02")
    assert req.starttime == dt.datetime(2024, 3, 2)
    assert req.endtime == dt.datetime(2024, 3, 3)
    with pytest.raises(ValueError, match="endtime given without"):
        build_request(PREFS, endtime="2024-03-02")
    with pytest.raises(ValueError, match="invalid start time"):
        build_request(PREFS, starttime="tomorrow")


def test_glob_to_regex_translation():
    """SNCL glob semantics, checked with find (not full-match) semantics as
    Spark's rlike applies them: `?` is exactly one character, `*` any run,
    regex metacharacters match only themselves, and the pattern is
    anchored at both ends."""

    def hit(glob: str, s: str) -> bool:
        return re.search(_glob_to_regex(glob), s) is not None

    assert hit("a?c", "abc") and hit("a?c", "a.c")
    assert not hit("a?c", "ac") and not hit("a?c", "abbc")
    assert hit("a*c", "ac") and hit("a*c", "abbbc") and hit("a*", "a")
    assert not hit("a*c", "abd")
    for lit in ("a.b", "(a)", "a+b", "a|b"):
        assert hit(lit, lit)
    assert not hit("a.b", "axb")
    assert not hit("(a)", "a")
    assert not hit("a+b", "aab")
    assert not hit("a|b", "a") and not hit("a|b", "b")
    assert not hit("abc", "xabc") and not hit("abc", "abcx")
    assert not hit("https://x.org/*", "ftp://https://x.org/p")


def test_select_pages_filters(spark):
    pages = pages_df(spark, 300).cache()
    pages.count()
    req = build_request(
        PREFS, targets="hotSites", starttime="2024-03-01", endtime="2024-03-03"
    )
    sel = select_pages(pages, req)
    rows = sel.select("url", "warc_ts").collect()
    assert rows  # the Zipf domain skew guarantees hot-site pages exist
    for r in rows:
        assert r["url"].startswith(
            ("https://site000.example.org/", "https://site001.example.org/")
        )
        assert dt.datetime(2024, 3, 1) <= r["warc_ts"] < dt.datetime(2024, 3, 3)
    pages.unpersist()


def test_run_request_from_preference_file(spark, tmp_path):
    """The full -P/-M/-S workflow: preference file -> filtered pages ->
    pipeline -> resumable sink, then a no-op resume."""
    pages = pages_df(spark, 300).cache()
    pages.count()
    out = str(tmp_path / "metrics")
    req = build_request(
        PREFS, metrics="default", targets="allArchive", output_path=out
    )
    report = run_request(spark, req, pages=pages, model=default_model())
    assert report["computed"] and not report["skipped"]
    got = spark.read.parquet(out)
    assert {"url", "keep", "scrubbed_text", "pred_lang"} <= set(got.columns)
    assert got.count() == 300
    # resume is a no-op through the same request
    r2 = run_request(spark, req, pages=pages, model=default_model())
    assert not r2["computed"]
    pages.unpersist()


def test_run_request_without_sink_returns_df(spark):
    pages = pages_df(spark, 60)
    req = build_request(PREFS, metrics="heuristicsOnly")
    df = run_request(spark, req, pages=pages, model=default_model())
    assert df.count() == 60
    assert "word_count" in df.columns and "keep" not in df.columns


@pytest.mark.parametrize("resumable", [True, False])
def test_run_request_threads_lid_model(spark, tmp_path, zz_lid_model, resumable):
    """The resumable and the direct path take the same model arguments:
    the caller's langid model decides pred_lang in both."""
    from pyspark.sql import functions as F

    req = build_request(PREFS, metrics="langOnly",
                        output_path=str(tmp_path / "metrics"))
    got = run_request(spark, req, pages=pages_df(spark, 40),
                      resumable=resumable, lid_model=zz_lid_model)
    if resumable:
        got = spark.read.parquet(req.output_path)
    langs = {r["pred_lang"] for r in got.where(
        F.col("extracted_text").isNotNull()).select("pred_lang").distinct().collect()}
    assert langs == {"zz"}
