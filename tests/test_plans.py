"""Physical-plan regression gates — the 100-TB posture, asserted.

Each test pins a plan property that matters at 1000-executor scale and that
a silent regression (lost broadcast hint, a new per-row Python UDF, a
cartesian product) would destroy. `.explain()` by hand doesn't survive
refactors; these do.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ispaq_spark import driver_queries as dq

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dim_join_is_broadcast_not_smj(spark):
    """availability-style dimension joins must broadcast: shuffling the fact
    side on a join key at 100 TB is the canonical self-inflicted wound."""
    plan = plan_of(dq.queries()["dim_join_agg"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_are_real_semi_joins(spark):
    plan = plan_of(dq.queries()["semi_anti"](spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_interval_join_no_cartesian(spark):
    """The event-window join must plan as an equi-join on user_id with the
    range as post-filter, never a cartesian product."""
    plan = plan_of(dq.queries()["interval_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_aggregates_are_partial_final(spark):
    """basic_stats must map-side combine (two HashAggregate phases), so the
    shuffle carries partial states, not rows."""
    plan = plan_of(dq.queries()["basic_stats"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the whole table (ispaq parsed
    whole miniSEED files for every metric — SURVEY §4 row 2 is the free
    win we must not give back)."""
    q = dq.queries()["glob_subset"](spark, SF_DIR)
    plan = plan_of(q)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "p_name" not in scan[0] and "p_retailprice" not in scan[0]


def test_filter_pushdown_reaches_scan(spark):
    """A plain comparison predicate lands in PushedFilters."""
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_pipeline_python_is_arrow_only(spark):
    """North-rule hot path: Python only ever appears as Arrow-batched
    (ArrowEvalPython / MapInPandas), never row-at-a-time BatchEvalPython."""
    from ispaq_spark.pipeline import run_pipeline
    from ispaq_spark.synthesize import default_model, pages_df

    out = run_pipeline(spark, pages_df(spark, 50), model=default_model())
    plan = plan_of(out)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


# Registry aliases, registry set names and the preference file's own
# Metrics aliases: every request the library accepts.
_REQUESTS = (
    "default", "modular", "fusedScrub", "heuristicsOnly", "scrubOnly",
    "extraction", "perplexity", "langid", "extract_ppl", "extract_ppl_scrub",
    "langOnly", "customStats",
)


@pytest.mark.parametrize("request_name", _REQUESTS)
def test_every_request_plans_one_arrow_stage(spark, request_name):
    """However many sets a request names, its Python work crosses the
    JVM<->Python boundary exactly once."""
    from ispaq_spark.pipeline import run_pipeline
    from ispaq_spark.request import build_request
    from ispaq_spark.synthesize import default_lid_model, default_model, pages_df

    req = build_request("preference_files/default.txt", metrics=request_name)
    out = run_pipeline(spark, pages_df(spark, 20), req.metric_sets,
                       default_model(), default_lid_model())
    assert plan_of(out).count("ArrowEvalPython") == 1, request_name


def test_heuristics_only_builds_no_model(spark, monkeypatch):
    """A request without scores never builds the LM or the langid model."""
    import ispaq_spark.synthesize as synth
    from ispaq_spark.pipeline import run_pipeline

    def refuse():
        raise AssertionError("model built for a request without scores")

    pages = synth.pages_df(spark, 20)
    monkeypatch.setattr(synth, "default_model", refuse)
    monkeypatch.setattr(synth, "default_lid_model", refuse)
    out = run_pipeline(spark, pages, "heuristicsOnly")
    assert out.count() == 20
    assert "perplexity" not in out.columns and "pred_lang" not in out.columns


def test_heuristics_all_jvm(spark):
    """The heuristics metric set is pure Catalyst: zero Python operators of
    any kind in its plan."""
    from ispaq_spark.functions.heuristics import with_heuristics

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(with_heuristics(d, "text"))
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_top1_single_shuffle(spark):
    """row_number top-1 needs exactly one exchange (the window partition)."""
    plan = plan_of(dq.queries()["top1_per_key"](spark, SF_DIR))
    assert plan.count("Exchange") == 1


def test_ivf_prunes_before_distance(spark):
    """IVF ANN must join the probe labels BEFORE computing cosine: the
    optimized plan joins on label with the broadcast probe set."""
    plan = plan_of(dq.queries()["ivf_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_asof_join_single_shuffle_no_join(spark):
    """The as-of join compiles to union + window: exactly one exchange (the
    per-user window partition), zero join operators, and the event-type
    disjunction pushed to the scan — the shape that stays linear when one
    user has a million preceding clicks."""
    plan = plan_of(dq.queries()["asof_join"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "PushedFilters: [" in plan and "event_type" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_bm25_stats_broadcast(spark):
    """Corpus statistics (N, avgdl, per-term df) must reach the scoring map
    as a broadcast single row, never a shuffle join keyed on anything."""
    plan = plan_of(dq.queries()["bm25_rank"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_no_shuffle(spark):
    """Hash-gated sampling is a pure scan+filter: zero exchanges, so it
    composes into any downstream stage without a barrier."""
    plan = plan_of(dq.queries()["stratified_sample"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_int8_query_vector_broadcast(spark):
    """The quantized query vector rides a broadcast; the corpus side never
    shuffles for the ranking (only the final top-k exchange)."""
    plan = plan_of(dq.queries()["int8_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_dedup_ranks_on_hash_key(spark):
    """The first-occurrence ranking exchange must be keyed on the 8-byte
    xxhash64 of the span, NOT the span string — a string key ships the
    whole corpus text through the ranking shuffle. Text may cross the wire
    only once, in the reassembly join on doc_id."""
    import re

    plan = plan_of(dq.queries()["chunk_dedup"](spark, SF_DIR))
    # the window exchange is keyed on the hash column
    assert re.search(r"hashpartitioning\(h#\d+", plan), plan
    # the span string column must not appear in ANY exchange key
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "chunk#" not in keys, keys
    assert "CartesianProduct" not in plan
    # window + per-doc agg + reassembly join sides; more = lost
    # co-partitioning
    assert plan.count("Exchange") <= 5


def test_dup_cluster_hist_never_shuffles_text(spark):
    """Both aggregates of the cluster-size histogram shuffle hashes and
    counts only: no exchange key or exchange input may carry the text
    column (the md5 collapses it map-side)."""
    import re

    plan = plan_of(dq.queries()["dup_cluster_hist"](spark, SF_DIR))
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in keys, keys
    # partial aggregate (map-side md5+count) below the first exchange
    assert plan.count("HashAggregate") >= 4  # partial/final x 2 aggs


def test_intradoc_dedup_zero_exchanges(spark):
    """Within-document repetition removal is pure per-row array algebra:
    the plan must contain NO exchange of any kind — it composes into any
    pipeline stage without a barrier."""
    plan = plan_of(dq.queries()["intradoc_dedup"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_substring_dedup_ranks_on_hash_key(spark):
    """Sliding-gram substring dedup: like chunk_dedup, the first-occurrence
    ranking exchange must carry the 8-byte gram hash, never the gram
    string."""
    import re

    plan = plan_of(dq.queries()["substring_dedup"](spark, SF_DIR))
    assert re.search(r"hashpartitioning\(h#\d+", plan), plan
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "gram#" not in keys, keys
    assert "CartesianProduct" not in plan


def test_salted_agg_partial_final(spark):
    """The salted two-phase aggregation must still map-side combine within
    each phase (partial/final HashAggregate pairs)."""
    plan = plan_of(dq.queries()["salted_skew_agg"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2


def test_decontaminate_broadcast_semi_join(spark):
    """The benchmark gram set must broadcast into a left-semi join — the
    corpus side never shuffles for the containment check."""
    plan = plan_of(dq.queries()["decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_topk_partial_aggregation(spark):
    """The token count must map-side combine before its shuffle (the
    shuffle carries vocab-sized partials, never one row per token
    instance) and the top-K window adds exactly one more exchange."""
    plan = plan_of(dq.queries()["vocab_topk"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2


def test_pack_sequences_single_window_shuffle(spark):
    """Sequence packing is one window over the token-count table: a single
    exchange on the partition key, no joins, no iteration."""
    plan = plan_of(dq.queries()["pack_sequences"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_pack_sequences_window_key_includes_bucket(spark):
    """The packing window must partition on (lang, doc_id-bucket), not lang
    alone: a lang-only window sorts the dominant language's whole corpus in
    ONE task at scale. Gate the exchange key itself."""
    import re

    plan = plan_of(dq.queries()["pack_sequences"](spark, SF_DIR))
    m = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert m, plan
    keys = m.group(1)
    assert "lang" in keys and "bkt" in keys, keys


def test_pivot_single_aggregation_no_extra_job(spark):
    """Long->wide pivot with pinned values must compile to one conditional
    partial+final aggregation — one exchange on user_id, no join, and no
    extra distinct pass to discover the pivot columns (that discovery job
    is what an unpinned pivot() adds and what a 10^12-row table forbids)."""
    plan = plan_of(dq.queries()["pivot_metrics"](spark, SF_DIR))
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_geo_radius_stays_broadcast_nlj(spark):
    """geo_radius is a deliberate broadcast nested-loop over two
    dimension-sized sides (docstring SIZE CONTRACT). A silent fallback to
    a non-broadcast cartesian product is the failure mode this pins out;
    the fact-scale path is geo_radius_banded."""
    plan = plan_of(dq.queries()["geo_radius"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_geo_radius_banded_is_equi_join(spark):
    """The fact-scale geo query must plan as a band-key EQUI-join (shuffle
    or broadcast hash) — no nested loop, no cartesian — so it survives
    both sides fact-sized."""
    plan = plan_of(dq.queries()["geo_radius_banded"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dsir_scoring_join_is_broadcast_topk_not_sort(spark):
    """dsir_resample: the 64-row log-ratio table must broadcast back onto
    the token stream (a shuffled join would repartition the whole corpus
    by bucket), and the top-k must be TakeOrderedAndProject, never a
    global Sort of every document's weight."""
    plan = plan_of(dq.queries()["dsir_resample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_canonical_docs_single_agg_no_window(spark):
    """canonical_docs picks the per-cluster representative via
    max_by(struct) partial aggregation — one signature-keyed exchange, no
    window sort, no join (the oracle's row_number form is for DuckDB
    only; windows force a per-cluster sort a 10^12-doc dedup can't pay)."""
    plan = plan_of(dq.queries()["canonical_docs"](spark, SF_DIR))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_split_assign_map_side_only(spark):
    """split_assign is a pure map-side hash predicate + tiny rollup: one
    exchange for the (lang, split) aggregate, no join, no window."""
    plan = plan_of(dq.queries()["split_assign"](spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1


def test_pmi_joins_broadcast_topk_not_sort(spark):
    """pmi_bigrams: vocab-sized count tables must broadcast onto the
    bigram counts, and the top-k must be TakeOrderedAndProject — a global
    Sort of all bigrams or a shuffled vocab join is the scale failure."""
    plan = plan_of(dq.queries()["pmi_bigrams"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_adaptive_cut_threshold_broadcast(spark):
    """adaptive_quality_cut: the per-lang percentile table is |langs| rows
    and must broadcast back; the corpus shuffles only on the lang key."""
    plan = plan_of(dq.queries()["adaptive_quality_cut"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_source_overlap_hash_equi_join(spark):
    """source_overlap: fingerprint self-join must be a hash equi-join on
    the content hash — never nested-loop/cartesian."""
    plan = plan_of(dq.queries()["source_overlap"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_inverted_index_single_exchange(spark):
    """inverted_index: the rank window and the final aggregate share the
    token hash partitioning — exactly ONE exchange in the whole plan (a
    second would mean the window sort's distribution isn't being reused)."""
    plan = plan_of(dq.queries()["inverted_index"](spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan


def test_bpe_pair_counts_vocab_collapse_then_takeordered(spark):
    """bpe_pair_counts: corpus collapses to the word-vocab aggregate before
    pair generation (two exchanges total: word agg, pair agg) and the
    top-20 is a TakeOrdered, not a global sort."""
    plan = plan_of(dq.queries()["bpe_pair_counts"](spark, SF_DIR))
    assert plan.count("Exchange") == 2, plan
    assert "TakeOrderedAndProject" in plan


def test_funnel_single_user_exchange(spark):
    """funnel_steps: four cascaded min-if windows + the per-user collapse
    must share ONE hash exchange on user_id (the naive 4-self-join form
    shuffles the fact table five times); the only other exchange is the
    SinglePartition reduce for the 1-row answer."""
    plan = plan_of(dq.queries()["funnel_steps"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_char_entropy_exchange_budget(spark):
    """char_entropy: exactly three exchanges — (doc,source,ch) count with
    map-side combine, the per-doc entropy window (whose doc_id partitioning
    the doc-level aggregate reuses), and the dimension-sized source
    rollup. A fourth exchange means the window/groupBy reuse regressed."""
    plan = plan_of(dq.queries()["char_entropy"](spark, SF_DIR))
    assert plan.count("Exchange") == 3, plan


def test_driver_window_is_exactly_the_cap_and_all_registered():
    """The driver certifies the first 50 queries() entries per round; the
    rotation list must therefore contain exactly 50 distinct registered
    names, and queries() must lead with them in order — a typo'd name
    would silently shrink the certified window."""
    pri = dq._DRIVER_PRIORITY
    names = list(dq.queries())
    assert len(pri) == 50
    assert len(set(pri)) == 50
    assert set(pri) <= set(names)
    assert names[:50] == pri


def test_grouping_sets_emit_grand_total_on_empty_input(spark, tmp_path):
    """SQL-standard empty-input semantics: the () grouping set owes a
    grand-total row (count 0) even when the input is EMPTY. Spark's
    Expand-based .cube()/.rollup() emit zero rows there (the zero-row
    fixture sweep caught the divergence vs the DuckDB oracle), so
    cube_totals/rollup_periods derive their grouping sets from the
    finest aggregate instead — this pins the empty-day contract."""
    import pyarrow.parquet as pq

    for name in ["events", "lineitem"]:
        tb = pq.read_table(f"/root/testdata/sf0.001/{name}.parquet")
        pq.write_table(tb.slice(0, 0), str(tmp_path / f"{name}.parquet"))
    sf = str(tmp_path)
    import ispaq_spark.driver_queries as dq

    cube = dq.queries()["cube_totals"](spark, sf).collect()
    assert len(cube) == 1
    assert (cube[0]["event_type"], cube[0]["m"]) == (None, None)
    assert cube[0]["n"] == 0 and cube[0]["sum_value"] is None

    roll = dq.queries()["rollup_periods"](spark, sf).collect()
    assert len(roll) == 1
    assert roll[0]["period"] == "ALL"
    assert roll[0]["n"] == 0 and roll[0]["sum_qty"] is None


# ---------------------------------------------------------------------------
# Curation: exact dedup as one aggregate, LSH as one band-bucket aggregate.
# Exchange counts are taken with AQE off, so they are the static plan.
# ---------------------------------------------------------------------------


@pytest.fixture
def aqe_off(spark):
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_curate_corpus_six_exchanges_no_smj(spark, aqe_off):
    """exact dedup -> LSH -> quality -> cap -> split plans at most six
    Exchanges (18 with a content-hash window and a per-band self-join),
    with no sort-merge join and no window keyed on the content hash."""
    from ispaq_spark.curation import curate_corpus

    plan = plan_of(curate_corpus(_docs(spark)).curated)
    assert plan.count("Exchange") <= 6
    assert "SortMergeJoin" not in plan
    ops = [ln.lstrip(" :+-") for ln in plan.splitlines()]
    windows = [op for op in ops if op.startswith("Window [")]
    # the per-source cap is the only window
    assert windows
    assert all("windowspecdefinition(source#" in w for w in windows)


def test_lsh_candidate_pairs_plans_no_join(spark, aqe_off):
    from ispaq_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    plan = plan_of(lsh_candidate_pairs(minhash_signatures(_docs(spark))))
    assert "Join" not in plan


def test_decontaminate_anti_join_takes_hits_without_distinct(spark, aqe_off):
    """The hit ids feed the anti-join as they come: the broadcast gram
    set's distinct is the only shuffle (four Exchanges with a `distinct`
    on the hit ids)."""
    from ispaq_spark.curation import decontaminate

    docs = _docs(spark)
    plan = plan_of(decontaminate(docs, docs.where("doc_id < 10")))
    assert plan.count("Exchange") <= 3
