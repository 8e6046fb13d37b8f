"""Frequency-domain two-stream operators: Welch cross-spectra and the
rotation/orientation correlation scan.

Graft slots (the reference's largest math block):

* ``welch_xspec`` / ``cogroup_welch`` / ``collected_welch`` — Welch
  cross-spectrum -> transfer-function gain, phase, and magnitude-squared
  coherence |Pxy|^2/(Pxx*Pyy) per frequency bin, the semantics of
  `crossSpectrum` (IRISSeismic/R/spectralUtils.R:44-214) as consumed by
  `transferFunctionMetric` (IRISMustangMetrics/R/transferFunctionMetric.R:
  58-305, gain/phase/coherence at :252-280). Hann-windowed 50%-overlap
  segments, segment-averaged auto/cross spectra; the Welch normalization
  constant (1/(fs*sum(w^2))) cancels in all three outputs and is omitted.

* ``orientation_scan`` / ``orientation_numpy`` / ``cogroup_orientation`` —
  the 360-angle rotation x correlation argmax of
  `orientationCheck_metrics.py:298-368`: rotate the horizontal pair (n, e)
  through every integer azimuth, Pearson-correlate each rotation against a
  reference stream, keep the argmax angle. ``orientation_scan`` expands
  corr(n*cos+e*sin, ref) into 10 per-key sums so the whole scan is
  JVM-side — the production path, certified by the `orientation_scan`
  driver query. The numpy form is ONE (angles x 2) @ (2 x samples) matrix
  product per key; its cogroup is the per-key-imperative surface and the
  parity witness.

Numeric contract with the SQL oracles: np.fft.rfft computes
X[k] = sum_t x_t * exp(-2*pi*i*k*t/N), so re(X[k]) = sum_t x_t cos(...)
and im(X[k]) = -sum_t x_t sin(...) — the oracle states exactly those sums.
Phase is NULL when coherence < PHASE_MIN_COH: at negligible coherence the
averaged cross-spectrum is a near-zero vector and atan2 of float noise is
not a number two engines can agree on.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NPERSEG = 8
STEP = 4  # 50% overlap
BINS = (1, 2, 3)  # skip DC and Nyquist
PHASE_MIN_COH = 1e-3
MIN_ORIENT_N = 8

WELCH_SCHEMA = (
    "user_id bigint, freq_bin int, coherence double, gain double, "
    "phase double"
)


def hann(n: int) -> np.ndarray:
    """Symmetric Hann: w_t = 0.5 - 0.5*cos(2*pi*t/(n-1)) — the window both
    the kernel and the SQL oracle state explicitly."""
    t = np.arange(n, dtype=np.float64)
    return 0.5 - 0.5 * np.cos(2.0 * np.pi * t / (n - 1))


def welch_xspec(
    x,
    y,
    nperseg: int = NPERSEG,
    step: int = STEP,
    bins: tuple[int, ...] = BINS,
) -> list[tuple[int, float, float, float | None]]:
    """(freq_bin, coherence, gain, phase|None) rows for one aligned series
    pair. Both series truncate to the shorter length; pairs shorter than
    one segment yield no rows. Single-segment pairs have coherence
    identically 1 (the estimator's known bias floor at K=1)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    ln = min(len(x), len(y))
    if ln < nperseg:
        return []
    w = hann(nperseg)
    ks = np.asarray(bins)
    nseg = (ln - nperseg) // step + 1
    xs = np.empty((nseg, len(bins)), dtype=np.complex128)
    ys = np.empty_like(xs)
    for s in range(nseg):
        o = s * step
        xs[s] = np.fft.rfft(w * x[o : o + nperseg])[ks]
        ys[s] = np.fft.rfft(w * y[o : o + nperseg])[ks]
    pxx = (xs.real**2 + xs.imag**2).mean(axis=0)
    pyy = (ys.real**2 + ys.imag**2).mean(axis=0)
    pxy = (xs * np.conj(ys)).mean(axis=0)
    out: list[tuple[int, float, float, float | None]] = []
    for i, k in enumerate(bins):
        if pxx[i] <= 0.0 or pyy[i] <= 0.0:
            continue
        mag2 = pxy[i].real ** 2 + pxy[i].imag ** 2
        coh = mag2 / (pxx[i] * pyy[i])
        gain = math.sqrt(mag2) / pxx[i]
        phase = (
            math.atan2(pxy[i].imag, pxy[i].real)
            if coh >= PHASE_MIN_COH
            else None
        )
        out.append((int(k), float(coh), float(gain), phase))
    return out


def cogroup_welch(
    left: DataFrame, right: DataFrame, key: str = "user_id"
) -> DataFrame:
    """left/right: (key, ts, event_id, value) streams; one Arrow batch per
    key via cogroup carries both series, ordered by (ts, event_id) inside
    the batch. Idiomatic when per-key frames are large (long traces); for
    billions of tiny keys use ``collected_welch`` (per-batch dispatch)."""

    def compute(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        cols = ["user_id", "freq_bin", "coherence", "gain", "phase"]
        if l.empty or r.empty:
            return pd.DataFrame(columns=cols)
        uid = int(l[key].iloc[0])
        x = list(l.sort_values(["ts", "event_id"])["value"])
        y = list(r.sort_values(["ts", "event_id"])["value"])
        rows = [
            {
                "user_id": uid,
                "freq_bin": k,
                "coherence": coh,
                "gain": gain,
                "phase": phase,
            }
            for k, coh, gain, phase in welch_xspec(x, y)
        ]
        return pd.DataFrame(rows, columns=cols)

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(compute, schema=WELCH_SCHEMA)
    )


def collected_welch(
    left: DataFrame, right: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Group-count-scale form: each side pre-aggregates to (key, ordered
    value array) JVM-side, the sides equi-join on the key, and ONE scalar
    pandas UDF scores thousands of keys per Arrow batch (vs one Python
    dispatch per key for the cogroup form) — same rationale as
    operators/crosscorr.collected_xcorr."""

    def seq(df: DataFrame, out: str) -> DataFrame:
        arr = F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        )
        return df.groupBy(key).agg(arr.alias(out))

    j = seq(left, "xseq").join(seq(right, "yseq"), key)

    @F.pandas_udf(
        "array<struct<freq_bin:int, coherence:double, gain:double, "
        "phase:double>>"
    )
    def score(xseq: pd.Series, yseq: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [
                    {
                        "freq_bin": k,
                        "coherence": coh,
                        "gain": gain,
                        "phase": phase,
                    }
                    for k, coh, gain, phase in welch_xspec(list(x), list(y))
                ]
                for x, y in zip(xseq, yseq)
            ]
        )

    out = j.select(key, F.explode(score("xseq", "yseq")).alias("r"))
    return out.select(
        key,
        out["r"]["freq_bin"].alias("freq_bin"),
        out["r"]["coherence"].alias("coherence"),
        out["r"]["gain"].alias("gain"),
        out["r"]["phase"].alias("phase"),
    )


def orientation_numpy(
    n, e, ref, n_angles: int = 360
) -> tuple[int, float, int] | None:
    """(best_angle_deg, best_corr, n_samples) for one key: rotate (n, e)
    through every integer azimuth as ONE (angles x 2) @ (2 x samples)
    matrix product, Pearson-correlate every rotation against `ref` with
    vectorized sum formulas, argmax with ties to the smaller angle."""
    n = np.asarray(n, dtype=np.float64)
    e = np.asarray(e, dtype=np.float64)
    ref = np.asarray(ref, dtype=np.float64)
    cnt = min(len(n), len(e), len(ref))
    if cnt < MIN_ORIENT_N:
        return None
    n, e, ref = n[:cnt], e[:cnt], ref[:cnt]
    theta = np.arange(n_angles) * (np.pi / 180.0)
    rot = np.stack([np.cos(theta), np.sin(theta)], axis=1)  # (angles, 2)
    R = rot @ np.stack([n, e])  # (angles, samples)
    sr = float(ref.sum())
    srr = float(ref @ ref)
    sR = R.sum(axis=1)
    sRR = (R * R).sum(axis=1)
    sRr = R @ ref
    den = np.sqrt(cnt * sRR - sR * sR) * math.sqrt(cnt * srr - sr * sr)
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = np.where(den > 0, (cnt * sRr - sR * sr) / den, -np.inf)
    if not np.isfinite(corr).any():
        return None
    best = int(np.argmax(corr))  # argmax takes the FIRST max: smaller angle
    return best, float(corr[best]), cnt


def cogroup_orientation(
    north: DataFrame,
    east: DataFrame,
    reference: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Three-stream cogroup surface: (key, ts, event_id, value) per side.
    Spark cogroups exactly two groupings, so the horizontal pair rides one
    frame tagged by a `chan` column and the reference the other."""
    horiz = north.withColumn("chan", F.lit("n")).unionByName(
        east.withColumn("chan", F.lit("e"))
    )

    def compute(h: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        cols = ["user_id", "best_angle", "best_corr", "n_samples"]
        if h.empty or r.empty:
            return pd.DataFrame(columns=cols)
        uid = int(h[key].iloc[0])
        hs = h.sort_values(["ts", "event_id"])
        n = list(hs[hs["chan"] == "n"]["value"])
        e = list(hs[hs["chan"] == "e"]["value"])
        ref = list(r.sort_values(["ts", "event_id"])["value"])
        best = orientation_numpy(n, e, ref)
        if best is None:
            return pd.DataFrame(columns=cols)
        ang, corr, cnt = best
        return pd.DataFrame(
            [
                {
                    "user_id": uid,
                    "best_angle": ang,
                    "best_corr": corr,
                    "n_samples": cnt,
                }
            ]
        )

    return (
        horiz.groupBy(key)
        .cogroup(reference.groupBy(key))
        .applyInPandas(
            compute,
            schema=(
                "user_id bigint, best_angle int, best_corr double, "
                "n_samples int"
            ),
        )
    )


def _dsum(c: F.Column) -> F.Column:
    """Accumulation-order-independent sum of a double column: each value
    is cast to DECIMAL(38,9), summed exactly, and returned as double. A raw
    double sum differs by ~n ulps between partial-aggregation trees, which
    can flip a value rounded to 6 decimals."""
    return F.sum(c.cast("decimal(38,9)")).cast("double")


def orientation_scan(
    north: DataFrame,
    east: DataFrame,
    reference: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """(key, best_angle, best_corr, n_samples), all JVM-side: the three
    (key, ts, event_id, value) streams align on their per-key (ts,
    event_id) rank, corr(n*cos + e*sin, ref) at every integer azimuth
    expands in closed form over 10 per-key sums (one aggregation shuffle),
    the 360 angles explode map-side, and a max-struct aggregate takes the
    argmax. Keys with fewer than MIN_ORIENT_N aligned samples are dropped.

    The sums are decimal (see `_dsum`) and the correlation is rounded to 6
    decimals BEFORE the argmax, ties to the smaller angle, so the picked
    angle does not depend on accumulation order."""
    w = Window.partitionBy(key).orderBy("ts", "event_id")

    def indexed(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            key,
            (F.row_number().over(w) - 1).alias("t"),
            F.col("value").alias(out),
        )

    tri = (
        indexed(north, "nv")
        .join(indexed(east, "ev"), [key, "t"])
        .join(indexed(reference, "rv"), [key, "t"])
    )
    nv, ev, rv = F.col("nv"), F.col("ev"), F.col("rv")
    sums = (
        tri.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _dsum(nv).alias("sn"),
            _dsum(ev).alias("se"),
            _dsum(rv).alias("sr"),
            _dsum(nv * nv).alias("snn"),
            _dsum(ev * ev).alias("see"),
            _dsum(nv * ev).alias("sne"),
            _dsum(nv * rv).alias("snr"),
            _dsum(ev * rv).alias("ser"),
            _dsum(rv * rv).alias("srr"),
        )
        .where(F.col("cnt") >= MIN_ORIENT_N)
    )
    ang = sums.select(
        "*",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(359).cast("bigint"))
        ).alias("angle"),
    )
    cth, sth = F.cos(F.radians("angle")), F.sin(F.radians("angle"))
    sbr = cth * F.col("sn") + sth * F.col("se")
    sbrr = (
        cth * cth * F.col("snn")
        + F.lit(2) * cth * sth * F.col("sne")
        + sth * sth * F.col("see")
    )
    sbrf = cth * F.col("snr") + sth * F.col("ser")
    den_a = F.col("cnt") * sbrr - sbr * sbr
    den_b = F.col("cnt") * F.col("srr") - F.col("sr") * F.col("sr")
    corr = (F.col("cnt") * sbrf - sbr * F.col("sr")) / (
        F.sqrt(den_a) * F.sqrt(den_b)
    )
    scored = ang.where((den_a > 0) & (den_b > 0)).select(
        key, "cnt", "angle", F.round(corr, 6).alias("corr")
    )
    best = scored.groupBy(key).agg(
        F.max(
            F.struct(
                F.col("corr"), (-F.col("angle")).alias("na"), F.col("cnt")
            )
        ).alias("b")
    )
    return best.select(
        key,
        (-F.col("b.na")).alias("best_angle"),
        F.col("b.corr").alias("best_corr"),
        F.col("b.cnt").alias("n_samples"),
    )
