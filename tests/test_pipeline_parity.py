"""The north-rule correctness gates (BASELINE.json):
keep/drop F1 >= 0.99 and byte-identical scrubbed text vs the reference
labeler, over the deterministic fixture corpus."""

from __future__ import annotations

import pytest

from ispaq_spark.pipeline import rollup_lineage, run_pipeline
from ispaq_spark.request import UserRequest, run_request


@pytest.fixture(scope="module")
def pipeline_rows(spark, fixture_pages, model):
    out = run_pipeline(spark, fixture_pages, model=model)
    return {r["url"]: r for r in out.collect()}


def test_rowcount(pipeline_rows, fixture_labels):
    assert len(pipeline_rows) == len(fixture_labels) == 400


def test_keep_f1(pipeline_rows, fixture_labels):
    tp = fp = fn = 0
    for url, lab in fixture_labels.items():
        got = bool(pipeline_rows[url]["keep"])
        want = lab["keep"]
        tp += got and want
        fp += got and not want
        fn += (not got) and want
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1} (tp={tp} fp={fp} fn={fn})"
    # exact parity expected, not just F1 — flag any drift loudly
    assert fp == 0 and fn == 0


def test_scrubbed_text_byte_identical(pipeline_rows, fixture_labels):
    for url, lab in fixture_labels.items():
        assert pipeline_rows[url]["scrubbed_text"] == lab["scrubbed_text"], url


def test_extracted_text_byte_identical(pipeline_rows, fixture_labels):
    for url, lab in fixture_labels.items():
        assert pipeline_rows[url]["extracted_text"] == lab["text"], url


def test_quarantine_flags(pipeline_rows, fixture_labels):
    n_err = 0
    for url, lab in fixture_labels.items():
        assert pipeline_rows[url]["quality_flag"] == lab["quality_flag"], url
        n_err += lab["quality_flag"] == -9
    assert n_err > 0  # fixture must exercise the quarantine path


def test_quarantined_rows_never_kept(pipeline_rows):
    for url, r in pipeline_rows.items():
        if r["quality_flag"] == -9:
            assert r["keep"] is False
            assert r["extracted_text"] is None


def test_lineage_rollup_sums(spark, fixture_pages, model, pipeline_rows):
    out = run_pipeline(spark, fixture_pages, model=model)
    roll = {r["partition_id"]: r for r in rollup_lineage(out).collect()}
    assert sum(r["docs_in"] for r in roll.values()) == 400
    for r in roll.values():
        assert r["docs_in"] == r["docs_kept"] + r["docs_dropped"] + r["docs_error"]


def test_salted_run_same_result(spark, fixture_pages, model, pipeline_rows):
    """The `salt_buckets` preference repartitions before the metric stages
    and changes no row."""
    req = UserRequest(metric_sets=("default",), preferences={"salt_buckets": 16})
    salted = run_request(spark, req, pages=fixture_pages, model=model)
    rows = {r["url"]: r for r in salted.collect()}
    assert len(rows) == len(pipeline_rows)
    for url, r in rows.items():
        assert bool(r["keep"]) == bool(pipeline_rows[url]["keep"])
        assert r["scrubbed_text"] == pipeline_rows[url]["scrubbed_text"]


PARITY_ALIASES = ("default", "modular", "fusedScrub", "heuristicsOnly", "scrubOnly")

# Output column -> its field in the fixture labels (label_document's tuple).
_LABEL_FIELDS = {
    "extracted_text": "text",
    "scrubbed_text": "scrubbed_text",
    "keep": "keep",
    "quality_flag": "quality_flag",
}


@pytest.fixture(scope="module")
def reference_metrics(fixture_labels, model):
    """compute_metrics for every extractable fixture doc: the metric values
    label_document decides keep on."""
    from ispaq_spark.reference_impl import compute_metrics

    return {
        url: compute_metrics(lab["text"], model)
        for url, lab in fixture_labels.items()
        if lab["text"] is not None
    }


@pytest.mark.parametrize("alias", PARITY_ALIASES)
def test_alias_columns_match_reference(
    spark, fixture_pages, model, fixture_labels, reference_metrics, alias
):
    """Every column each alias produces equals the reference labeler's
    value exactly; quarantined rows carry NULL metrics."""
    rows = {
        r["url"]: r.asDict()
        for r in run_pipeline(spark, fixture_pages, alias, model).collect()
    }
    assert set(rows) == set(fixture_labels)
    produced = set(next(iter(rows.values()))) - {"url", "ds"}
    assert {"extracted_text", "quality_flag"} <= produced
    for url, lab in fixture_labels.items():
        m = reference_metrics.get(url)
        for c in produced:
            if c in _LABEL_FIELDS:
                want = lab[_LABEL_FIELDS[c]]
            else:
                want = None if m is None else getattr(m, c)
            assert rows[url][c] == want, (alias, url, c)


@pytest.mark.parametrize("alias", ("heuristicsOnly", "default"))
def test_unextractable_html_gives_null_heuristics(spark, model, alias):
    """Undecodable and empty html quarantine with NULL heuristics: not NaN,
    not 0, in the bigint columns as in the double ones."""
    import datetime as dt

    from ispaq_spark.functions.extraction import HEURISTIC_COLUMNS

    ts = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("u-undecodable", ts, b"<p>caf\xe9 \xff</p>"),
            ("u-empty", ts, b""),
            ("u-no-text", ts, b"<html><script>x</script></html>"),
            ("u-text", ts, b"<p>the cat and the dog</p>"),
        ],
        "url string, warc_ts timestamp, html binary",
    )
    rows = {r["url"]: r for r in run_pipeline(spark, pages, alias, model).collect()}
    for url in ("u-undecodable", "u-empty", "u-no-text"):
        assert rows[url]["quality_flag"] == -9, url
        for c in HEURISTIC_COLUMNS:
            assert rows[url][c] is None, (url, c)
    assert rows["u-text"]["word_count"] == 5
    assert rows["u-text"]["dup_5gram_frac"] == 0.0
