"""Median/spread helpers, process-tree CPU and RSS, and generator
determinism."""

import os
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.stats import (
    PeakRss,
    cpu_steal_s,
    descendants,
    median,
    quartile_spread,
    tree_cpu_s,
    tree_peak_rss_bytes,
)


def test_median_odd_even_and_empty():
    assert median([3, 1, 2]) == 2.0
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 12.0, 10.5, 10.2, 9.8, 11.5, 10.1, 10.9]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert quartile_spread([5.0] * 10) == 0.0
    assert quartile_spread([7.0]) == 0.0


def test_peak_rss_counts_children_and_resets():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in descendants(os.getpid())
        assert tree_peak_rss_bytes(os.getpid()) > tree_peak_rss_bytes(child.pid) > 0
        big = bytearray(64 * 2**20)
        del big
        before = tree_peak_rss_bytes(os.getpid())
        with PeakRss() as rss:
            pass
        # The 64 MiB freed before the region is not in its peak.
        assert tree_peak_rss_bytes(child.pid) <= rss.peak_bytes < before
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in descendants(os.getpid())


def test_tree_cpu_counts_children_and_skips_named_threads():
    spin = "import time\nt = time.process_time() + 0.3\nwhile time.process_time() < t: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", spin])
    try:
        deadline = time.monotonic() + 20
        while tree_cpu_s(os.getpid()) < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tree_cpu_s(os.getpid()) >= 0.25
        # Skipping every thread of the child (its one thread is named
        # "python3...") leaves out all of its CPU.
        assert tree_cpu_s(os.getpid(), skip_threads=("python",)) < 0.05
    finally:
        child.kill()
        child.wait(timeout=10)


def test_cpu_steal_is_a_nondecreasing_counter():
    a = cpu_steal_s()
    b = cpu_steal_s()
    assert 0.0 <= a <= b


def test_pages_same_seed_same_rows_other_seed_differs():
    assert inputs.pages(50, seed=7) == inputs.pages(50, seed=7)
    assert inputs.pages(50, seed=7) != inputs.pages(50, seed=8)


def test_day_pages_land_on_their_day():
    rows = inputs.day_pages(3, 40, seed=5, start=100)
    assert {(r["warc_ts"] - inputs.EPOCH).days for r in rows} == {3}
    assert rows == inputs.day_pages(3, 40, seed=5, start=100)


def test_dedup_corpus_is_deterministic_and_plants_copies():
    a = inputs.dedup_corpus(400, seed=3, exact_share=0.1, near_share=0.1)
    b = inputs.dedup_corpus(400, seed=3, exact_share=0.1, near_share=0.1)
    assert a.rows == b.rows and a.exact_copy_ids == b.exact_copy_ids
    assert len(a.rows) == 400 + len(a.exact_copy_ids) + len(a.near_copy_ids)
    assert len(a.exact_copy_ids) == len(a.near_copy_ids) == 40
    by_id = {r["doc_id"]: r for r in a.rows}
    text_min_id = {}
    for r in a.rows:
        text_min_id[r["text"]] = min(r["doc_id"], text_min_id.get(r["text"], r["doc_id"]))
    for cid in a.exact_copy_ids:
        # the copy never wins exact dedup's smallest-id rule
        assert text_min_id[by_id[cid]["text"]] < cid
    assert len({r["doc_id"] for r in a.rows}) == len(a.rows)


def test_written_parts_round_trip(tmp_path):
    rows = inputs.pages(30, seed=2)
    files = inputs.write_parts(rows, inputs.PAGES_SCHEMA, str(tmp_path), 4)
    assert len(files) == 4
    back = [r for f in files for r in pq.read_table(f).to_pylist()]
    assert [r["url"] for r in back] == [r["url"] for r in rows]
    assert [r["html"] for r in back] == [r["html"] for r in rows]
