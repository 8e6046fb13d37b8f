"""Driver-contract regression: every queries() entry runs and matches its
DuckDB oracle at sf0.001 (the full sf0.01 gate is scripts/check_oracle.py /
the round driver), and every query outside CATALOGUE runs a library
operator on its Spark side."""

from __future__ import annotations

import inspect
import types

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from scripts.check_oracle import TABLES, normalize

SF_DIR = "/root/testdata/sf0.001"


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
        "argmax_peak",
        "asof_join",
        "basic_stats",
        "bm25_rank",
        "char_entropy",
        "chunk_dedup",
        "corr_per_group",
        "cube_totals",
        "dim_join_agg",
        "dup_cluster_hist",
        "epoch_overlap",
        "funnel_steps",
        "gaps",
        "geo_radius",
        "geo_radius_banded",
        "glob_subset",
        "hist2d",
        "int8_topk",
        "interval_join",
        "inverted_index",
        "ivf_topk",
        "max_stalta",
        "merge_upsert",
        "mode_per_group",
        "ols_resid",
        "pack_sequences",
        "pairs_self_join",
        "piecewise_model",
        "pivot_metrics",
        "psd_quantiles",
        "psd_windows",
        "rlike_filter",
        "rolling_range",
        "rollup_periods",
        "salted_skew_agg",
        "semi_anti",
        "sessionize",
        "sigfig",
        "snr_window",
        "source_overlap",
        "spikes_hampel",
        "state_flags",
        "top1_per_key",
        "unpivot_eav",
        "variant_extract",
        "vocab_topk",
    }
)


def test_every_query_calls_the_library():
    """The oracle must certify code users run: each query outside
    CATALOGUE reaches at least one function of ispaq_spark.operators,
    .curation or .functions, and CATALOGUE names exactly the rest."""
    qs = entry_mod.queries()
    assert {name for name, fn in qs.items() if not _library_calls(fn)} == CATALOGUE
