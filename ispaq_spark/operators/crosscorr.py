"""Two-stream cogrouped correlation — the reference's dual-Stream UDF
surface as `cogroup().applyInPandas`.

Graft slot: `apply_correlation_metric` (ispaq/irismustangmetrics.py:160-187)
drives R `crossCorrelationMetric` (IRISMustangMetrics/R/
crossCorrelationMetric.R:46-161): two aligned series -> peak signed
cross-correlation within a lag window + the lag at the peak. Here the two
"streams" are two event-type series per user; each cogroup batch carries
ONE key's two series as Arrow frames — the idiomatic Spark shape for
pairwise-signal business logic (no driver loop over pairs, no collect).

Numeric contract: Pearson r is computed with the one-pass sum formula
r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²) · sqrt(n·Σy² − (Σy)²))
so a SQL oracle using the same sums agrees to float rounding.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MAX_LAG = 2
MIN_OVERLAP = 4

RESULT_SCHEMA = "user_id bigint, best_lag int, peak_corr double, n_pairs int"


def _r6(v: float) -> float:
    """Half-away-from-zero 6-decimal rounding — the SQL ROUND() rule, NOT
    Python's banker's rounding, so the argmax below compares exactly the
    values the DuckDB oracle ranks on."""
    return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6


def lagged_peak(e, c) -> tuple[int, float, int] | None:
    """(best_lag, peak_corr, n_pairs): max Pearson r over lag in
    [-MAX_LAG, MAX_LAG] pairing e[i] with c[i+lag]; ties -> smaller lag.
    The ±10 s ccf window of crossCorrelationMetric.R:139-153, index-lagged.

    Vectorized: each lag is two aligned numpy slices (no copies beyond the
    initial array build) and the five Pearson sums are numpy reductions —
    the per-element Python loops this replaced were ~10 ms/key, the
    dominant cost of the cogroup variant at bench scale."""
    e = np.asarray(e, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    best = None
    for lag in range(-MAX_LAG, MAX_LAG + 1):
        lo = max(0, -lag)
        hi = min(len(e), len(c) - lag)
        n = hi - lo
        if n < MIN_OVERLAP:
            continue
        x = e[lo:hi]
        y = c[lo + lag : hi + lag]
        sx = float(x.sum()); sy = float(y.sum())
        sxx = float(x @ x); syy = float(y @ y); sxy = float(x @ y)
        den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        if den <= 0:
            continue
        # round BEFORE the argmax (round-before-argmax convention): numpy's
        # pairwise summation and the oracle's sequential list_sum differ in
        # the last ulp, so a raw-value comparison could pick a different
        # tied lag per engine; the returned peak is the rounded value the
        # oracle also emits.
        r = _r6((n * sxy - sx * sy) / den)
        if best is None or r > best[1]:
            best = (lag, r, n)
    return best


def cogroup_xcorr(
    left: DataFrame, right: DataFrame, key: str = "user_id"
) -> DataFrame:
    """left/right: (key, ts, event_id, value) streams. One Arrow batch per
    key via cogroup; series ordered by (ts, event_id) inside the batch."""

    def compute(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty or r.empty:
            return pd.DataFrame(
                columns=["user_id", "best_lag", "peak_corr", "n_pairs"]
            )
        uid = int(l[key].iloc[0] if not l.empty else r[key].iloc[0])
        e = list(l.sort_values(["ts", "event_id"])["value"])
        c = list(r.sort_values(["ts", "event_id"])["value"])
        best = lagged_peak(e, c)
        if best is None:
            return pd.DataFrame(
                columns=["user_id", "best_lag", "peak_corr", "n_pairs"]
            )
        lag, corr, n = best
        return pd.DataFrame(
            [{"user_id": uid, "best_lag": lag, "peak_corr": corr, "n_pairs": n}]
        )

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(compute, schema=RESULT_SCHEMA)
    )
