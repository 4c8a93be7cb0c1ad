"""Pure-numpy LOESS STL (periodic seasonal) — Cleveland et al. 1990.

The reference engine decomposes with R's ``stl(s.window="periodic",
robust=TRUE)`` (``func.R:96``); this module vendors the algorithm
itself (no third-party STL dependency) rather than approximating it
with classical moving-average decomposition:

- ``s.window="periodic"`` collapses the seasonal loess to robust
  cycle-subseries means: the low-pass stage (two MA(period) passes) of
  a constant-per-phase series is exactly its global mean, so seasonal
  smoothing + low-pass reduces to *centered weighted phase means*.
- Trend smoothing is a genuine loess (degree 1, tricube weights) with
  the STL default span ``nextodd(1.5·period)`` — vectorized over
  sliding windows for the interior, per-point at the edges.
- Robustness: bisquare weights from the remainder (outer loop), the
  same rho-weighting R applies to both seasonal and trend smoothers.

Iteration counts default to inner=2/outer=5 — R uses inner=1/outer=15
for robust fits; the fit converges far earlier on series of the length
this engine sees (≤ a few hundred points), and the differential test
(`tests/test_stl_fidelity.py`) pins season/trend/remainder AND the
anomaly-band values against an analytically-known generating process.
"""

from __future__ import annotations

import numpy as np


def _nextodd(x: float) -> int:
    n = int(round(x))
    return n + 1 if n % 2 == 0 else n


def _tricube(d: np.ndarray) -> np.ndarray:
    w = np.clip(1.0 - d ** 3, 0.0, None)
    return w ** 3


def _loess_degree1(
    y: np.ndarray, window: int, rho: np.ndarray | None = None
) -> np.ndarray:
    """Loess smooth of ``y`` at every point (degree 1, tricube), with
    optional robustness weights ``rho``.  Interior points share a fixed
    window size and are solved vectorized; edge points use truncated
    windows individually."""
    n = len(y)
    if window >= n:
        # one global weighted linear fit
        return _fit_all(y, rho)
    half = window // 2
    x = np.arange(n, dtype=np.float64)
    out = np.empty(n)

    rho_arr = np.ones(n) if rho is None else rho

    # interior: windows [i-half, i+half], fully in range
    interior = np.arange(half, n - half)
    if len(interior):
        from numpy.lib.stride_tricks import sliding_window_view

        yw = sliding_window_view(y, window)          # (n-window+1, window)
        rw = sliding_window_view(rho_arr, window)
        xi = np.arange(window, dtype=np.float64) - half   # local coords
        d = np.abs(xi) / half
        w0 = _tricube(d)                              # fixed tricube pattern
        w = w0[None, :] * rw
        sw = w.sum(1)
        swx = (w * xi).sum(1)
        swx2 = (w * xi * xi).sum(1)
        swy = (w * yw).sum(1)
        swxy = (w * xi * yw).sum(1)
        denom = sw * swx2 - swx ** 2
        safe = np.abs(denom) > 1e-12
        a = np.where(
            safe,
            (swx2 * swy - swx * swxy) / np.where(safe, denom, 1.0),
            swy / np.where(sw > 0, sw, 1.0),
        )
        out[half:n - half] = a
    # edges: truncated windows, per point
    for i in list(range(half)) + list(range(n - half, n)):
        lo, hi = max(0, i - half), min(n, i + half + 1)
        xi = x[lo:hi] - i
        dmax = max(np.abs(xi).max(), 1.0)
        w = _tricube(np.abs(xi) / dmax) * rho_arr[lo:hi]
        sw = w.sum()
        if sw <= 0:
            out[i] = y[lo:hi].mean()
            continue
        swx = (w * xi).sum()
        swx2 = (w * xi * xi).sum()
        swy = (w * y[lo:hi]).sum()
        swxy = (w * xi * y[lo:hi]).sum()
        denom = sw * swx2 - swx ** 2
        out[i] = (
            (swx2 * swy - swx * swxy) / denom
            if abs(denom) > 1e-12 else swy / sw
        )
    return out


def _fit_all(y: np.ndarray, rho: np.ndarray | None) -> np.ndarray:
    n = len(y)
    x = np.arange(n, dtype=np.float64)
    w = np.ones(n) if rho is None else rho
    sw = w.sum()
    if sw <= 0:
        return np.full(n, y.mean())
    xm = (w * x).sum() / sw
    ym = (w * y).sum() / sw
    denom = (w * (x - xm) ** 2).sum()
    b = 0.0 if denom <= 1e-12 else (w * (x - xm) * (y - ym)).sum() / denom
    return ym + b * (x - xm)


def _bisquare(resid: np.ndarray) -> np.ndarray:
    s = np.median(np.abs(resid))
    if s <= 0:
        return np.ones_like(resid)
    u = np.clip(np.abs(resid) / (6.0 * s), 0.0, 1.0)
    return (1.0 - u ** 2) ** 2


def stl_periodic(
    values: np.ndarray,
    period: int = 7,
    robust: bool = True,
    n_inner: int = 2,
    n_outer: int = 5,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """STL with periodic seasonal → (season, trend, remainder)."""
    y = np.asarray(values, dtype=np.float64)
    n = len(y)
    phases = np.arange(n) % period
    t_window = _nextodd(1.5 * period)
    trend = np.zeros(n)
    rho = np.ones(n)
    outer_iters = n_outer if robust else 1
    season = np.zeros(n)
    scale = max(float(np.max(np.abs(y))), 1.0)
    prev_fit = None
    for _outer in range(outer_iters):
        for _inner in range(n_inner):
            detr = y - trend
            # robust cycle-subseries means (periodic seasonal)
            num = np.bincount(phases, weights=rho * detr, minlength=period)
            den = np.bincount(phases, weights=rho, minlength=period)
            phase_means = num / np.where(den > 0, den, 1.0)
            # low-pass of a constant-per-phase series == its mean
            phase_means = phase_means - phase_means.mean()
            season = phase_means[phases]
            trend = _loess_degree1(y - season, t_window, rho if robust else None)
        fit = season + trend
        if prev_fit is not None and np.max(np.abs(fit - prev_fit)) < 1e-7 * scale:
            break  # robustness weights converged — further outers are no-ops
        prev_fit = fit
        if robust:
            rho = _bisquare(y - fit)
    return season, trend, y - season - trend
