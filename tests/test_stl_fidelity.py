"""Fidelity pin for the vendored LOESS STL.

The reference decomposes with R's ``stl(s.window="periodic",
robust=TRUE)`` then flags IQR outliers of the remainder
(``func.R:96``, ``model.R:13-17``).  Without R to diff against,
fidelity is pinned against an ANALYTICALLY KNOWN
generating process instead: season + trend + noise are constructed, and
any correct STL must recover each component within tight tolerances —
including the IQR band VALUES, not just "a spike is flagged".
"""

from __future__ import annotations

import numpy as np
import pytest

from anomaly_detection_spark.detect.loess_stl import stl_periodic
from anomaly_detection_spark.detect.stl import decompose, iqr_anomalize

PERIOD = 7
N = 203  # 29 full weeks
SEASON_PATTERN = np.array([2.0, 1.0, -0.5, -2.0, -1.5, 0.3, 0.7])
SEASON_PATTERN = SEASON_PATTERN - SEASON_PATTERN.mean()
SLOPE, INTERCEPT = 0.05, 10.0
NOISE_SIGMA = 0.3
SPIKES = {40: 8.0, 117: -7.0}  # planted anomalies, interior points


def _series(seed: int = 11) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    t = np.arange(N)
    season = SEASON_PATTERN[t % PERIOD]
    trend = INTERCEPT + SLOPE * t
    rng = np.random.default_rng(seed)
    noise = rng.normal(0.0, NOISE_SIGMA, N)
    y = season + trend + noise
    for pos, mag in SPIKES.items():
        y[pos] += mag
    return y, season, trend


def test_stl_recovers_known_components():
    y, true_season, true_trend = _series()
    season, trend, resid = stl_periodic(y, period=PERIOD, robust=True)
    # seasonal: per-phase values within noise-of-the-mean tolerance
    assert np.max(np.abs(season - true_season)) < 0.15
    # trend: robust loess must not be dragged by the ±8 spikes;
    # compare away from the edges where loess is one-sided
    interior = slice(PERIOD, N - PERIOD)
    assert np.max(np.abs(trend[interior] - true_trend[interior])) < 0.35
    # remainder carries the planted spikes at full magnitude
    for pos, mag in SPIKES.items():
        assert resid[pos] == pytest.approx(mag, abs=1.0)


def test_iqr_bands_match_analytic_values():
    """Band VALUES, not just flags: for N(0, σ=0.3) noise the raw-noise
    band is ±(q75 + 3·IQR) = ±1.416.  An STL remainder is the noise
    minus its own smooth, so its spread is attenuated by the smoothers'
    equivalent kernel — for tricube loess at t.window=11 plus periodic
    phase-means the attenuation is ≈ 0.67 (any faithful STL, R's
    included, shows the same shrinkage).  The fitted bands must land in
    the [0.55, 1.05]·analytic window, symmetric, and robust to spikes."""
    y, _, _ = _series()
    _season, _trend, resid = stl_periodic(y, period=PERIOD, robust=True)
    flagged, l1, l2 = iqr_anomalize(resid, alpha=0.05, max_anoms=0.2)
    q = 0.6744897501960817 * NOISE_SIGMA          # true |q25| = q75
    raw_l2 = q + 3 * 2 * q                        # k = 0.15/alpha = 3
    assert 0.55 * raw_l2 <= l2 <= 1.05 * raw_l2
    assert 0.55 * raw_l2 <= -l1 <= 1.05 * raw_l2
    assert abs(l1 + l2) < 0.15 * raw_l2           # symmetric bands
    # exactly the planted anomalies — no false positives
    assert set(np.flatnonzero(flagged)) == set(SPIKES)


def test_decompose_dispatches_to_loess_stl():
    """decompose() must route long-enough series through the vendored
    STL and reproduce it exactly."""
    y, _, _ = _series()
    s1, t1, r1 = decompose(y, period=PERIOD, robust=True)
    s2, t2, r2 = stl_periodic(y, period=PERIOD, robust=True)
    assert np.array_equal(s1, s2) and np.array_equal(t1, t2)
    assert np.array_equal(r1, r2)


def test_stl_robust_vs_nonrobust_spike_leverage():
    """Robust fit: spikes must not leak into trend/season more than a
    small fraction of their magnitude (bisquare downweights them)."""
    y, _, true_trend = _series()
    _s, trend_r, _r = stl_periodic(y, period=PERIOD, robust=True)
    for pos in SPIKES:
        assert abs(trend_r[pos] - true_trend[pos]) < 0.5
