"""Driver-contract regression: every queries() entry runs and matches its
DuckDB oracle at sf0.001 (the full sf0.01 gate is scripts/check_oracle.py /
the round driver), every query outside CATALOGUE runs a library
operator on its Spark side, and the committed fixtures hold exactly the
tables the oracle reads."""

from __future__ import annotations

import inspect
import re
import types
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from scripts.check_oracle import TABLES, normalize

SF_DIR = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "keep" in df.columns
    # the metrics and the stopword vote cross into Python once, as a batch
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "xxhash64" not in plan and "lambdafunction" not in plan


def _spark_round6(x: float) -> float:
    """Spark's round(x, 6): HALF_UP on the double's shortest decimal."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _entry_row(lang, text):
    """entry()'s projection of one document, from reference_impl."""
    from ispaq_spark.contract import UNKNOWN_LANG
    from ispaq_spark.reference_impl import heuristic_metrics, langid

    if text is None:  # NULL metrics, so keep is NULL too
        return {"lang": lang, "word_count": None, "mean_word_len": None,
                "max_word_len": None, "pred_lang": UNKNOWN_LANG,
                "stopword_ratio": None, "dup_5gram_frac": None, "keep": None}
    m = heuristic_metrics(text)
    return {
        "lang": lang,
        "word_count": m["word_count"],
        "mean_word_len": _spark_round6(m["mean_word_len"]),
        "max_word_len": m["max_word_len"],
        "pred_lang": langid(text.split(" "))[0],
        "stopword_ratio": _spark_round6(m["stopword_ratio"]),
        "dup_5gram_frac": _spark_round6(m["dup_5gram_frac"]),
        "keep": m["word_count"] >= 15
        and m["mean_word_len"] <= 12.0
        and m["dup_5gram_frac"] <= 0.3,
    }


# sf0.001 has no NULL text and no repeated 5-gram; the hostile fixture has
# both.
@pytest.mark.parametrize(
    "sf_dir", [SF_DIR, str(REPO / "testdata_hostile")], ids=["sf0.001", "hostile"]
)
def test_entry_values_equal_reference(spark, monkeypatch, sf_dir):
    """Every entry() row equals the same projection built in Python from
    reference_impl.heuristic_metrics and the stopword vote
    reference_impl.langid."""
    monkeypatch.setenv("SPARK_GRAFT_ENTRY_SF_DIR", sf_dir)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    want = {
        int(doc_id): _entry_row(lang, text)
        for doc_id, lang, text in zip(docs["doc_id"], docs["lang"], docs["text"])
    }
    got = {r["doc_id"]: r.asDict() for r in entry_mod.entry(spark).collect()}
    assert got.keys() == want.keys() and len(want) == len(docs) > 0
    assert {r["pred_lang"] for r in want.values()} - {"und"}
    assert {r["keep"] for r in want.values()} >= {True, False}
    for doc_id, row in want.items():
        assert {c: got[doc_id][c] for c in row} == row, doc_id


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, con, name):
    fn = entry_mod.queries()[name]
    sdf = normalize(fn(spark, SF_DIR).toPandas())
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract
        return
    odf = normalize(con.execute(sql).df())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(
        sdf, odf, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
    )


LIBRARY = (
    "ispaq_spark.operators",
    "ispaq_spark.curation",
    "ispaq_spark.functions",
)


def _library_calls(fn, seen=None) -> set[str]:
    """Library functions `fn` names, directly, in nested lambdas and
    functions, or through helpers defined in driver_queries."""
    from ispaq_spark import driver_queries as dq

    seen = set() if seen is None else seen
    found: set[str] = set()
    codes = [fn.__code__]
    while codes:
        code = codes.pop()
        codes.extend(
            c for c in code.co_consts if isinstance(c, types.CodeType)
        )
        for name in code.co_names:
            obj = getattr(dq, name, None)
            if not inspect.isfunction(obj) or obj in seen:
                continue
            seen.add(obj)
            if obj.__module__.startswith(LIBRARY):
                found.add(f"{obj.__module__}.{name}")
            elif obj.__module__ == dq.__name__:
                found |= _library_calls(obj, seen)
    return found


# Catalogue queries whose Spark side reaches no library function yet. The
# list only shrinks: each entry leaves it when its query is deleted or
# rewired to a library operator.
CATALOGUE = frozenset(
    {
        "adaptive_quality_cut",
        "char_entropy",
        "chunk_dedup",
        "dup_cluster_hist",
        "salted_skew_agg",
        "source_overlap",
    }
)


def test_every_query_calls_the_library():
    """The oracle must certify code users run: each query outside
    CATALOGUE reaches at least one function of ispaq_spark.operators,
    .curation or .functions, and CATALOGUE names exactly the rest."""
    qs = entry_mod.queries()
    assert {name for name, fn in qs.items() if not _library_calls(fn)} == CATALOGUE


def test_fixtures_hold_exactly_the_tables_queries_read():
    """Every table check_oracle registers is named in some oracle query,
    and every testdata_*/ fixture holds exactly those tables, so a table
    no query reads cannot linger in the fixtures."""
    sqls = entry_mod.oracle_sql().values()
    read = {t for t in TABLES for q in sqls if re.search(rf"\b{t}\b", q)}
    assert set(TABLES) == read
    fixtures = sorted(p for p in REPO.glob("testdata_*") if p.is_dir())
    assert fixtures
    want = {f"{t}.parquet" for t in TABLES}
    for d in fixtures:
        assert {p.name for p in d.iterdir()} == want, d.name
