from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def gen_pages_local(n: int) -> list[dict]:
    """The first ``n`` rows of ``synthesize.pages_df``, built in Python."""
    from ispaq_spark.synthesize import make_page

    return [make_page(i) for i in range(n)]


@pytest.fixture(scope="session")
def spark():
    from ispaq_spark.session import get_spark

    s = get_spark(app_name="ispaq_spark_tests", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def model():
    from ispaq_spark.synthesize import default_model

    return default_model()


@pytest.fixture(scope="session")
def zz_lid_model():
    """A langid model that knows only 'zz': it predicts 'zz' with
    confidence 1.0 for every document with any character n-gram, so a
    pred_lang of 'zz' shows which model scored a row."""
    from ispaq_spark.reference_impl import train_langid
    from ispaq_spark.synthesize import langid_corpus

    return train_langid([("zz", text) for _, text in langid_corpus(30)])


@pytest.fixture(scope="session")
def fixture_pages(spark):
    """400 deterministic pages, cached for the whole session."""
    from ispaq_spark.synthesize import pages_df

    df = pages_df(spark, 400, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def fixture_labels(model):
    """Reference-truth labels for the same 400 pages (FIXTURES.md §1)."""
    from ispaq_spark.reference_impl import label_document

    out = {}
    for p in gen_pages_local(400):
        text, scrubbed, keep, qf = label_document(p["html"], model)
        out[p["url"]] = {
            "text": text,
            "scrubbed_text": scrubbed,
            "keep": keep,
            "quality_flag": qf,
        }
    return out
