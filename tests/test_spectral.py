"""Welch cross-spectrum + orientation scan: physics fixtures with known
answers, and parity between the cogroup, collected, and relational forms."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ispaq_spark.operators.spectral import (
    BINS,
    NPERSEG,
    cogroup_orientation,
    cogroup_welch,
    collected_welch,
    hann,
    orientation_numpy,
    orientation_scan,
    welch_xspec,
)


@pytest.fixture(scope="module")
def sf_dir() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_hann_matches_numpy():
    assert np.allclose(hann(8), np.hanning(8))


def test_welch_too_short_yields_nothing():
    assert welch_xspec([1.0] * (NPERSEG - 1), [1.0] * NPERSEG) == []


def test_welch_coherent_sinusoid_pair():
    # y is a scaled, phase-shifted copy of x at bin-2 frequency: coherence
    # must be ~1 at every bin (linear relation), gain scales with amplitude
    # at the driven bin, and the phase at bin 2 recovers the shift.
    n = 32
    t = np.arange(n)
    shift = 0.7
    x = np.sin(2 * np.pi * 2 * t / NPERSEG)  # bin 2 of an 8-pt segment
    y = 3.0 * np.sin(2 * np.pi * 2 * t / NPERSEG - shift)
    rows = {k: (coh, gain, ph) for k, coh, gain, ph in welch_xspec(x, y)}
    coh2, gain2, ph2 = rows[2]
    assert coh2 == pytest.approx(1.0, abs=1e-9)
    assert gain2 == pytest.approx(3.0, rel=1e-6)
    # X * conj(Y): phase(Pxy) = phase(x) - phase(y) = +shift
    assert ph2 == pytest.approx(shift, abs=1e-6)


def test_welch_independent_bins_uncorrelated_phase_nulled():
    # x drives bin 2 only, y drives bin 1 only: at x's bin, y has ~zero
    # power -> row filtered or coherence tiny with phase nulled.
    rng = np.random.RandomState(7)
    n = 64
    t = np.arange(n)
    x = np.sin(2 * np.pi * 2 * t / NPERSEG) + 0.01 * rng.randn(n)
    y = np.sin(2 * np.pi * 1 * t / NPERSEG) + 0.01 * rng.randn(n)
    rows = {k: (coh, gain, ph) for k, coh, gain, ph in welch_xspec(x, y)}
    # noise keeps all bins alive; cross-coherence between independent
    # signals is far below the coherent case
    assert rows[2][0] < 0.9
    for k, (coh, gain, ph) in rows.items():
        if coh < 1e-3:
            assert ph is None


def test_welch_single_segment_coherence_is_one():
    rng = np.random.RandomState(3)
    x, y = rng.randn(NPERSEG), rng.randn(NPERSEG)
    for k, coh, gain, ph in welch_xspec(x, y):
        assert coh == pytest.approx(1.0, abs=1e-9)


def test_cogroup_and_collected_welch_match(spark):
    rng = np.random.RandomState(11)
    rows = []
    for uid in range(6):
        for i in range(20):
            rows.append((uid, i, i, float(rng.randn())))          # left
    left = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, value double"
    )
    rows_r = [
        (uid, i, i, float(rng.randn()))
        for uid in range(6)
        for i in range(17)
    ]
    right = spark.createDataFrame(
        rows_r, "user_id long, ts long, event_id long, value double"
    )

    def key(df):
        return {
            (r["user_id"], r["freq_bin"]): (
                r["coherence"], r["gain"], r["phase"]
            )
            for r in df.collect()
        }

    a = key(cogroup_welch(left, right))
    b = key(collected_welch(left, right))
    assert set(a) == set(b) and len(a) == 6 * len(BINS)
    for k in a:
        for x, y in zip(a[k], b[k]):
            if x is None:
                assert y is None
            else:
                assert x == pytest.approx(y, abs=1e-12)


def test_orientation_recovers_known_rotation():
    # ref IS the horizontal pair rotated by theta0: the scan must return
    # theta0 with corr ~ 1.
    rng = np.random.RandomState(5)
    n = rng.randn(200)
    e = rng.randn(200)
    for theta0 in (0, 37, 182, 359):
        th = math.radians(theta0)
        ref = n * math.cos(th) + e * math.sin(th)
        ang, corr, cnt = orientation_numpy(n, e, ref)
        assert ang == theta0
        assert corr == pytest.approx(1.0, abs=1e-9)
        assert cnt == 200


def test_orientation_too_short_returns_none():
    assert orientation_numpy([1.0] * 3, [1.0] * 3, [1.0] * 3) is None


def test_cogroup_orientation_matches_relational_query(spark, sf_dir):
    """The (angles x samples) matrix-product cogroup form and the all-JVM
    closed-form scan (`orientation_scan`) must agree on the real test
    tables."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def side(evt):
        return ev.where(F.col("event_type") == evt).select(
            "user_id", "ts", "event_id", "value"
        )

    # The cogroup form truncates each series to the min TRIPLE length; the
    # relational form aligns via an inner join on the row index — identical
    # sample sets, so identical sums.
    got = {
        r["user_id"]: (r["best_angle"], r["best_corr"], r["n_samples"])
        for r in cogroup_orientation(
            side("error"), side("click"), side("view")
        ).collect()
    }
    want = {
        r["user_id"]: (r["best_angle"], r["best_corr"], r["n_samples"])
        for r in orientation_scan(
            side("error"), side("click"), side("view")
        ).collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert got[uid][1] == pytest.approx(want[uid][1], abs=2e-6)
        assert got[uid][2] == want[uid][2]
