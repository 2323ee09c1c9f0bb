"""Per-series numpy kernels — the engine's scalar function library.

These are written from scratch as vectorized numpy, with semantics
matching the reference (citations give file:line into /root/reference
for the behavior contract, not the code). They serve double duty:

1. executed inside Arrow-batched pandas UDFs on executors (the engine's
   "slow path" for sequential kernels — SURVEY.md §2.6);
2. the single-node oracle the Spark results are tested against
   bit-for-bit (SURVEY.md §5.2).

No scipy dependency: the bounded 1-D smoothing-constant search uses
golden-section (import-gated to scipy's L-BFGS-B when available, which
is what the reference uses — fforma/base/_models.py:569-584).
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np


def _is_const(x: np.ndarray) -> bool:
    """Cheap constant-series guard, equivalent to ``np.var(x) == 0``
    for every non-pathological input (the two differ only when all
    deviations from the mean are nonzero yet below ~1e-162, where the
    squared terms underflow to exactly 0 — no real token series gets
    there). One comparison pass instead of numpy's two-pass variance;
    the guards it replaces are on the per-series hot path (~20 calls
    per feature_vector)."""
    return len(x) == 0 or bool((x == x[0]).all())

try:  # pragma: no cover
    from scipy.optimize import minimize as _scipy_minimize
except Exception:  # noqa: BLE001
    _scipy_minimize = None


# ---------------------------------------------------------------------------
# Naive2 utils (semantics: fforma/base/_models.py:22-152)
# ---------------------------------------------------------------------------


def detrend_coeffs(x: np.ndarray) -> tuple[float, float]:
    """Least-squares line fit (slope, intercept) against 0..n-1.

    Same contract as np.polyfit(x, y, 1) used by the reference
    (fforma/base/_models.py:22-30); closed form so the Spark SQL
    covar_pop/var_pop expression matches it exactly.
    """
    n = len(x)
    tm, tc, denom = _time_basis(n)
    xm = x.mean()
    slope = float((tc * (x - xm)).sum() / denom) if denom else 0.0
    return slope, float(xm - slope * tm)


@lru_cache(maxsize=4096)
def _time_basis(n: int) -> tuple[float, np.ndarray, float]:
    """(mean, centered 0..n-1, Σcentered²) — data-independent detrend
    ingredients, memoized per length (read-only array)."""
    t = np.arange(n, dtype=np.float64)
    tm = t.mean()
    tc = t - tm
    denom = (tc**2).sum()
    tc.setflags(write=False)
    return float(tm), tc, float(denom)


def acf(x: np.ndarray, k: int) -> float:
    """Autocorrelation at lag k: mean-centered, biased (full-sum)
    denominator — fforma/base/_models.py:136-152.

    Summation is LEFT-TO-RIGHT (cumsum), matching the reference's
    scalar accumulation loop bit-for-bit; numpy's pairwise .sum()
    differs in the last ulp."""
    x = np.asarray(x, dtype=np.float64)
    m = x.mean()
    d = x - m
    sq = d * d
    s2 = float(np.cumsum(sq)[-1]) if len(sq) else 0.0
    if s2 == 0.0:
        return float("nan")
    if k >= len(x):
        return 0.0
    s1 = float(np.cumsum(d[k:] * d[:-k])[-1])
    return s1 / s2


def _acf_cumsum_lags(x: np.ndarray, kmax: int) -> list[float]:
    """:func:`acf` at lags 1..kmax with the mean/centering/denominator
    computed ONCE — each lag's numerator runs the same cumsum in the
    same order as the scalar function, so every element is bit-for-bit
    identical to ``acf(x, k)``; this exists purely to drop the
    per-lag recomputation of mean, deviations, and s2."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    m = x.mean()
    d = x - m
    sq = d * d
    s2 = float(np.cumsum(sq)[-1]) if n else 0.0
    out: list[float] = []
    for k in range(1, kmax + 1):
        if s2 == 0.0:
            out.append(float("nan"))
        elif k >= n:
            out.append(0.0)
        else:
            out.append(float(np.cumsum(d[k:] * d[:-k])[-1]) / s2)
    return out


def seasonality_test(x: np.ndarray, ppy: int) -> bool:
    """90% significance test of the lag-ppy autocorrelation
    (fforma/base/_models.py:118-134)."""
    r = _acf_cumsum_lags(x, ppy)
    s = r[0]
    for i in range(2, ppy):
        s += r[i - 1] ** 2
    if (1 + 2 * s) > 0:
        limit = 1.645 * math.sqrt((1 + 2 * s) / len(x))
    else:
        limit = 0.0
    return abs(r[ppy - 1]) > limit


def centered_ma(x: np.ndarray, window: int) -> np.ndarray:
    """Centered moving average with the reference's documented quirk:
    the double-MA branch triggers on even SERIES length, not even
    window (fforma/base/_models.py:91-116 — kept verbatim "in order
    for the results to be fully replicable")."""
    import pandas as pd

    s = pd.Series(np.asarray(x, dtype=np.float64))
    if len(s) % 2 == 0:
        ma = s.rolling(window, center=True).mean()
        ma = ma.rolling(2, center=True).mean()
        return np.roll(ma.to_numpy(), -1)
    return s.rolling(window, center=True).mean().to_numpy()


def seasonal_indices(x: np.ndarray, ppy: int) -> np.ndarray:
    """Ratio-to-moving-average seasonal indices, normalized to mean 100
    (fforma/base/_models.py:32-57). Returns ones when the seasonality
    test fails or ppy == 1."""
    x = np.asarray(x, dtype=np.float64)
    if ppy <= 1 or len(x) < 2 * ppy or not seasonality_test(x, ppy):
        return np.ones(ppy)
    ma = centered_ma(x, ppy)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = x * 100.0 / ma
    pad = ppy - (len(ratio) % ppy)
    ratio = np.concatenate([ratio, np.full(pad, np.nan)])
    si = np.nanmean(ratio.reshape(-1, ppy), axis=0)
    si = si / (si.sum() / (ppy * 100.0))
    return si


def ses_run(alpha: float, x: np.ndarray) -> tuple[np.ndarray, float]:
    """Simple exponential smoothing: (fitted, next-step forecast)
    (fforma/base/_models.py:59-72). O(n) scan via the linear
    recurrence; done with a float loop — cheap per series."""
    x = np.asarray(x, dtype=np.float64)
    level = x[0]
    fitted = np.empty(len(x))
    for i, v in enumerate(x):
        fitted[i] = level
        level = alpha * v + (1 - alpha) * level
    return fitted, float(level)


def ses_mse(alpha: float, x: np.ndarray) -> float:
    """In-sample one-step MSE of SES (fforma/base/_models.py:568-575)."""
    fitted, _ = ses_run(alpha, x)
    return float(np.mean((fitted - x) ** 2))


def optimize_alpha(x: np.ndarray, lo: float = 0.1, hi: float = 0.3) -> float:
    """Bounded 1-D minimization of ses_mse on [lo, hi].

    Reference uses L-BFGS-B (fforma/base/_models.py:578-580,648-651);
    used when scipy is present, else golden-section (same optimum for
    this smooth 1-D objective to ~1e-8).
    """
    if _scipy_minimize is not None:  # pragma: no cover
        res = _scipy_minimize(
            fun=lambda a: ses_mse(float(np.atleast_1d(a)[0]), x),
            x0=0,
            bounds=[(lo, hi)],
            method="L-BFGS-B",
        )
        return float(np.atleast_1d(res.x)[0])
    invphi = (math.sqrt(5) - 1) / 2
    a, b = lo, hi
    c, d = b - invphi * (b - a), a + invphi * (b - a)
    fc, fd = ses_mse(c, x), ses_mse(d, x)
    for _ in range(60):
        if fc < fd:
            b, d, fd = d, c, fc
            c = b - invphi * (b - a)
            fc = ses_mse(c, x)
        else:
            a, c, fc = c, d, fd
            d = a + invphi * (b - a)
            fd = ses_mse(d, x)
        if b - a < 1e-9:
            break
    return (a + b) / 2


def sexps_forecast(x: np.ndarray) -> float:
    """Optimal-alpha SES one-step forecast (fforma/base/_models.py:578-584)."""
    alpha = optimize_alpha(x)
    _, fc = ses_run(alpha, x)
    return fc


# Sparse-series helpers (fforma/base/_models.py:601-620)


def demand(x: np.ndarray) -> np.ndarray:
    return x[x > 0]


def probability(x: np.ndarray) -> np.ndarray:
    return (x != 0).astype(np.int64).ravel()


def intervals(x: np.ndarray) -> np.ndarray:
    """Gaps (in steps) between successive nonzero values, where the
    count resets to 1 after each nonzero (fforma/base/_models.py:606-618)."""
    x = np.asarray(x).ravel()
    nz = np.flatnonzero(x != 0)
    if nz.size == 0:
        return np.array([], dtype=np.int64)
    out = np.empty(nz.size, dtype=np.int64)
    out[0] = nz[0] + 1
    out[1:] = np.diff(nz)
    return out


# ---------------------------------------------------------------------------
# Forecast models (fforma/base/_models.py:224-473,622-820). Each takes the
# train series + horizon (+ seasonality) and returns an h-vector.
# ---------------------------------------------------------------------------


def naive(y: np.ndarray, h: int) -> np.ndarray:
    """Repeat last value (fforma/base/_models.py:224-258)."""
    return np.full(h, float(y[-1]))


def seasonal_naive(y: np.ndarray, h: int, seasonality: int) -> np.ndarray:
    """Tile the last season (fforma/base/_models.py:261-306). When the
    series is shorter than one season the whole series is the tile
    (reps sized by the actual tail so the output is always length h)."""
    tail = np.asarray(y, dtype=np.float64)[-seasonality:]
    reps = int(np.ceil(h / len(tail)))
    return np.tile(tail, reps)[:h]


def naive2(y: np.ndarray, h: int, seasonality: int) -> np.ndarray:
    """Deseasonalize → Naive → reseasonalize — the OWA benchmark
    (fforma/base/_models.py:309-358)."""
    y = np.asarray(y, dtype=np.float64)
    si = seasonal_indices(y, seasonality)
    windows = int(np.ceil(len(y) / seasonality))
    s_hat = np.tile(si, windows)[: len(y)]
    ts_des = y / s_hat
    s_fc = seasonal_naive(s_hat, h, seasonality)
    r_fc = naive(ts_des, h)
    return s_fc * r_fc


def rw_drift(y: np.ndarray, h: int) -> np.ndarray:
    """Last value drifted by global trend (fforma/base/_models.py:361-398)."""
    y = np.asarray(y, dtype=np.float64)
    drift = (float(y[-1]) - float(y[0])) / (len(y) - 1) if len(y) > 1 else 0.0
    return float(y[-1]) + drift * np.arange(1, h + 1, dtype=np.float64)


def average(y: np.ndarray, h: int) -> np.ndarray:
    """Global mean (fforma/base/_models.py:400-419)."""
    return np.full(h, float(np.mean(y)))


def moving_average(y: np.ndarray, h: int, n_obs: int = 2) -> np.ndarray:
    """Mean of last n_obs (fforma/base/_models.py:421-440)."""
    return np.full(h, float(np.mean(y[-n_obs:])))


def seasonal_moving_average(
    y: np.ndarray, h: int, seasonality: int, n_seasons: int = 2
) -> np.ndarray:
    """Per-season mean of the last n_seasons seasons
    (fforma/base/_models.py:443-473)."""
    y = np.asarray(y, dtype=np.float64)
    tail = y[-(seasonality * n_seasons):]
    season_vals = np.array(
        [tail[i::seasonality].mean() for i in range(seasonality)]
    )
    return season_vals[np.arange(h) % seasonality]


def croston(y: np.ndarray, h: int, kind: str = "classic") -> np.ndarray:
    """Croston's intermittent-demand method
    (fforma/base/_models.py:622-684)."""
    y = np.asarray(y, dtype=np.float64).ravel()
    yd = demand(y)
    if yd.size == 0:
        return np.zeros(h)
    yi = intervals(y).astype(np.float64)
    mult = 0.95 if kind == "sba" else 1.0
    if kind == "optimized":
        a1, a2 = optimize_alpha(yd), optimize_alpha(yi)
    else:
        a1 = a2 = 0.1
    _, ydp = ses_run(a1, yd)
    _, yip = ses_run(a2, yi)
    return np.full(h, ydp / yip * mult)


def tsb(y: np.ndarray, h: int) -> np.ndarray:
    """Teunter–Syntetos–Babai grid-search double smoothing
    (fforma/base/_models.py:687-752). Vectorized over the 9×7 grid."""
    y = np.asarray(y, dtype=np.float64).ravel()
    p = probability(y).astype(np.float64)
    if demand(y).size == 0:
        return np.zeros(h)
    n = len(y)
    a_grid = np.array([0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.5, 0.8])
    b_grid = np.array([0.01, 0.02, 0.03, 0.05, 0.1, 0.2, 0.3])
    aa, bb = np.meshgrid(a_grid, b_grid, indexing="ij")
    aa, bb = aa.ravel(), bb.ravel()
    g = aa.size
    pfit = np.empty((g, n))
    zfit = np.empty((g, n))
    pfit[:, 0] = p[0]
    zfit[:, 0] = demand(y)[0]
    for i in range(1, n):
        pfit[:, i] = pfit[:, i - 1] + aa * (p[i] - pfit[:, i - 1])
        if p[i] == 0:
            zfit[:, i] = zfit[:, i - 1]
        else:
            zfit[:, i] = zfit[:, i - 1] + bb * (y[i] - zfit[:, i - 1])
    yfit = pfit * zfit
    fc = yfit[:, -1]
    if n == 1:
        # no one-step-ahead fit to score: keep the first grid point, the
        # one argmin picks when every MSE is NaN
        return np.full(h, fc[0])
    shifted = np.concatenate([np.full((g, 1), np.nan), yfit[:, :-1]], axis=1)
    mse_g = np.nanmean((shifted - y) ** 2, axis=1)
    return np.full(h, fc[int(np.argmin(mse_g))])


def _bucket_sums(y: np.ndarray, al: int) -> np.ndarray:
    """Complete leading-aligned buckets of width al, skipping the
    remainder at the FRONT (fforma/base/_models.py:766-769: the lost
    remainder is the first len(y) % al values)."""
    y = np.asarray(y, dtype=np.float64).ravel()
    rem = len(y) % al
    body = y[rem:]
    return body.reshape(-1, al).sum(axis=1)


def adida(y: np.ndarray, h: int) -> np.ndarray:
    """Aggregate-disaggregate intermittent demand
    (fforma/base/_models.py:755-786)."""
    y = np.asarray(y, dtype=np.float64).ravel()
    inters = intervals(y)
    if inters.size == 0:
        return np.zeros(h)
    al = int(round(inters.mean()))
    if al < 1:
        al = 1
    agg = _bucket_sums(y, al)
    return np.full(h, sexps_forecast(agg) / al)


def imapa(y: np.ndarray, h: int) -> np.ndarray:
    """ADIDA averaged over aggregation levels 1..mal
    (fforma/base/_models.py:789-820)."""
    y = np.asarray(y, dtype=np.float64).ravel()
    inters = intervals(y)
    if inters.size == 0:
        return np.zeros(h)
    mal = max(int(round(inters.mean())), 1)
    fcs = [
        sexps_forecast(_bucket_sums(y, al)) / al for al in range(1, mal + 1)
    ]
    return np.full(h, float(np.mean(fcs)))


# ---------------------------------------------------------------------------
# tsfeatures-style per-series features (reference vocabulary:
# fforma/experiments/experiment.py:414, business/base_forecasts.py:126-127;
# called via the external tsfeatures dep, requirements.txt:30). Definitions
# follow the published tsfeatures/Hyndman formulations; exact constructions
# documented inline since they double as this engine's oracle.
# ---------------------------------------------------------------------------


def spectral_entropy(x: np.ndarray) -> float:
    """Shannon entropy of the normalized periodogram, scaled to [0,1].

    tsfeatures' `entropy` (ForeCA-style spectral entropy of the series;
    vocabulary attested at fforma/experiments/business/base_forecasts.py:127).
    """
    x = np.asarray(x, dtype=np.float64)
    x = x - x.mean()
    if len(x) < 2 or not x.any():
        return 0.0
    fft = np.fft.rfft(x)
    psd = (fft.real**2 + fft.imag**2)[1:]  # drop DC
    total = psd.sum()
    if total <= 0 or len(psd) < 2:  # single bin → log(1) denominator
        return 0.0
    p = psd / total
    p = p[p > 0]
    return float(-(p * np.log(p)).sum() / math.log(len(psd)))


def _fast_centered_ma_quirk(x: np.ndarray, w: int) -> np.ndarray:
    """Cumsum twin of :func:`centered_ma` INCLUDING the even-series
    double-MA quirk — used by the feature path only (ulp-level
    differences from the pandas implementation are fine there; Naive2
    keeps the pandas original for reference bit-parity)."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    ma = _fast_centered_ma(x, w)
    if n % 2 == 0:
        # pandas rolling(2, center=True) windows are [i-1, i]; after the
        # reference's np.roll(-1) the net result is pair means of
        # consecutive MA values with a trailing NaN.
        ma2 = np.full(n, np.nan)
        ma2[: n - 1] = (ma[: n - 1] + ma[1:]) / 2.0
        return ma2
    return ma


def _fast_seasonal_indices(x: np.ndarray, ppy: int) -> np.ndarray:
    """Fast twin of :func:`seasonal_indices` (same semantics: 90%
    ACF significance gate, ratio-to-MA indices normalized to mean 100)
    built on :func:`acf_vector` + the cumsum MA. Feeds the strength
    features; Naive2 keeps the scalar-accumulation original."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if ppy <= 1 or n < 2 * ppy:
        return np.ones(ppy)
    rho = acf_vector(x, ppy)
    s = rho[0] + float((rho[1 : ppy - 1] ** 2).sum())
    limit = 1.645 * math.sqrt((1 + 2 * s) / n) if (1 + 2 * s) > 0 else 0.0
    if abs(rho[ppy - 1]) <= limit:
        return np.ones(ppy)
    ma = _fast_centered_ma_quirk(x, ppy)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = x * 100.0 / ma
    pad = ppy - (len(ratio) % ppy)
    ratio = np.concatenate([ratio, np.full(pad, np.nan)])
    si = np.nanmean(ratio.reshape(-1, ppy), axis=0)
    si = si / (si.sum() / (ppy * 100.0))
    return si


def decompose_strengths(x: np.ndarray, ppy: int) -> tuple[float, float]:
    """(trend_strength, seasonal_strength) via a classical
    ratio-to-moving-average decomposition: trend = centered MA,
    seasonal = normalized seasonal indices (the Naive2 machinery,
    fforma/base/_models.py:32-57), remainder = y / (trend*seasonal).

    Strengths are Hyndman variance ratios in the multiplicative form
    (components normalized to be dimensionless around 1):
      trend    = max(0, 1 - var(remainder) / var(deseasoned/mean))
      seasonal = max(0, 1 - var(remainder) / var(detrended))
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if ppy > 1 and n >= 2 * ppy:
        si = _fast_seasonal_indices(x, ppy)
        s_hat = np.tile(si, int(np.ceil(n / ppy)))[:n] / 100.0
    else:
        s_hat = np.ones(n)
    window = ppy if ppy > 1 else min(max((n // 8) * 2 + 1, 3), n)
    t_hat = _fast_centered_ma_quirk(x, window)
    ok = ~np.isnan(t_hat) & (np.abs(s_hat) > 1e-12) & (np.abs(t_hat) > 1e-12)
    if ok.sum() < 3:
        return 0.0, 0.0
    remainder = x[ok] / (t_hat[ok] * s_hat[ok])      # ≈ 1
    detrended = x[ok] / t_hat[ok]                    # ≈ seasonal·remainder
    deseasoned = x[ok] / s_hat[ok]                   # ≈ trend·remainder
    dmean = deseasoned.mean()
    if dmean == 0:
        return 0.0, 0.0
    vr = float(np.var(remainder))
    vt = float(np.var(deseasoned / dmean))
    vs = float(np.var(detrended))
    trend_strength = max(0.0, 1.0 - vr / vt) if vt > 0 else 0.0
    seasonal_strength = (
        max(0.0, 1.0 - vr / vs) if (ppy > 1 and vs > 0) else 0.0
    )
    return float(trend_strength), float(seasonal_strength)


def lumpiness(x: np.ndarray, width: int) -> float:
    """Variance of block variances (tsfeatures `lumpiness`); blocks of
    ``width``, remainder dropped at the end."""
    x = np.asarray(x, dtype=np.float64)
    nb = len(x) // width
    if nb < 2:
        return 0.0
    blocks = x[: nb * width].reshape(nb, width)
    return float(np.var(blocks.var(axis=1, ddof=1), ddof=1))


def stability(x: np.ndarray, width: int) -> float:
    """Variance of block means (tsfeatures `stability`)."""
    x = np.asarray(x, dtype=np.float64)
    nb = len(x) // width
    if nb < 2:
        return 0.0
    blocks = x[: nb * width].reshape(nb, width)
    return float(np.var(blocks.mean(axis=1), ddof=1))


def crossing_points(x: np.ndarray) -> int:
    """Number of crossings of the series median (tsfeatures
    `crossing_points`; vocabulary at fforma/experiments/experiment.py:414)."""
    x = np.asarray(x, dtype=np.float64)
    above = x > np.median(x)
    return int((above[1:] != above[:-1]).sum())


def flat_spots(x: np.ndarray, nbins: int = 10) -> int:
    """Longest run within one of 10 equal-width value bins
    (tsfeatures `flat_spots`)."""
    x = np.asarray(x, dtype=np.float64)
    lo, hi = x.min(), x.max()
    if hi == lo:
        return len(x)
    # right-closed equal-width bins like pandas.cut(x, nbins)
    width = (hi - lo) / nbins
    b = np.ceil((x - lo) / width).astype(np.int64)
    b[b < 1] = 1
    runs = np.flatnonzero(np.concatenate([[True], b[1:] != b[:-1], [True]]))
    return int(np.diff(runs).max())


def hurst_exponent(x: np.ndarray) -> float:
    """Rescaled-range Hurst estimate over power-of-two block sizes."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n < 20 or _is_const(x):
        return 0.5
    sizes = []
    size = 10
    while size <= n // 2:
        sizes.append(size)
        size *= 2
    if len(sizes) < 2:
        return 0.5
    rs = []
    for s in sizes:
        nb = n // s
        blocks = x[: nb * s].reshape(nb, s)
        dev = blocks - blocks.mean(axis=1, keepdims=True)
        z = dev.cumsum(axis=1)
        r = z.max(axis=1) - z.min(axis=1)
        sd = blocks.std(axis=1, ddof=1)
        ok = sd > 0
        if not ok.any():
            continue
        rs.append((r[ok] / sd[ok]).mean())
    if len(rs) < 2:
        return 0.5
    logn = np.log(np.asarray(sizes[: len(rs)], dtype=np.float64))
    slope, _ = np.polyfit(logn, np.log(np.asarray(rs)), 1)
    return float(slope)


def _fast_centered_ma(x: np.ndarray, w: int) -> np.ndarray:
    """Cumsum-based centered moving average, NaN where the window is
    not full; window at i covers [i−⌊w/2⌋, i+w−1−⌊w/2⌋] (pandas
    rolling(center=True) alignment). ~30× cheaper than the
    pandas-backed :func:`centered_ma` (which stays pandas for
    bit-parity with the reference's Naive2 path)."""
    n = len(x)
    out = np.full(n, np.nan)
    if w > n or w < 1:
        return out
    c = np.concatenate(([0.0], np.cumsum(x)))
    lo = w // 2
    out[lo : lo + n - w + 1] = (c[w:] - c[:-w]) / w
    return out


def _classical_additive(
    x: np.ndarray, ppy: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Additive classical decomposition (trend, seasonal, remainder).

    Stand-in for the STL the published tsfeatures uses for
    spike/linearity/curvature: trend = centered MA, seasonal =
    mean-adjusted per-phase means of the detrended series, remainder
    = x − trend − seasonal. Edges where the MA is undefined are NaN.
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    window = ppy if ppy > 1 else min(max((n // 8) * 2 + 1, 3), n)
    t_hat = _fast_centered_ma(x, window)
    detr = x - t_hat
    if ppy > 1 and n >= 2 * ppy:
        phases = np.arange(n) % ppy
        ok = ~np.isnan(detr)
        cnt = np.bincount(phases[ok], minlength=ppy).astype(np.float64)
        tot = np.bincount(phases[ok], weights=detr[ok], minlength=ppy)
        with np.errstate(invalid="ignore", divide="ignore"):
            si = tot / cnt
        si = si - si.mean()
        s_hat = si[phases]
    else:
        s_hat = np.zeros(n)
    rem = x - t_hat - s_hat
    return t_hat, s_hat, rem


def spike(x: np.ndarray, ppy: int, rem: np.ndarray | None = None) -> float:
    """tsfeatures `spike`: variance of the leave-one-out variances of
    the decomposition remainder (Hyndman stl_features; vocabulary
    attested at fforma/experiments/experiment.py:414).

    varloo_i = (var(r)·(n−1) − (r_i − mean r)²) / (n−2);
    spike = var(varloo). ``rem`` lets callers share one decomposition.
    """
    if rem is None:
        _, _, rem = _classical_additive(x, ppy)
    r = rem[~np.isnan(rem)]
    n = len(r)
    if n < 3:
        return 0.0
    v = float(np.var(r, ddof=1))
    d = (r - r.mean()) ** 2
    varloo = (v * (n - 1) - d) / (n - 2)
    return float(np.var(varloo, ddof=1))


@lru_cache(maxsize=4096)
def _ortho_poly2(n: int) -> np.ndarray:
    """R poly(1:n, 2)-style orthonormal basis (n, 2): QR of the
    centered Vandermonde, signs fixed deterministically (linear column
    increasing, quadratic column convex). Depends only on n, so the
    result is memoized (and marked read-only) — series lengths cluster
    tightly, making the QR a once-per-length cost per worker."""
    t = np.arange(n, dtype=np.float64)
    V = np.stack([np.ones(n), t, t * t], axis=1)
    Q, _ = np.linalg.qr(V)
    P = Q[:, 1:3]
    if P[-1, 0] < P[0, 0]:  # linear column must increase
        P[:, 0] = -P[:, 0]
    if P[0, 1] + P[-1, 1] < 2 * P[n // 2, 1]:  # quadratic must be convex
        P[:, 1] = -P[:, 1]
    P.setflags(write=False)
    return P


def linearity_curvature(
    x: np.ndarray, ppy: int, t_hat: np.ndarray | None = None
) -> tuple[float, float]:
    """tsfeatures `linearity`/`curvature`: the two coefficients of the
    decomposition TREND component regressed on an orthonormal
    quadratic basis (Hyndman stl_features: coef(lm(trend ~ poly(tt,
    2)))[2:3]). ``t_hat`` lets callers share one decomposition."""
    if t_hat is None:
        t_hat, _, _ = _classical_additive(x, ppy)
    ok = ~np.isnan(t_hat)
    tr = t_hat[ok]
    n = len(tr)
    if n < 3:
        return 0.0, 0.0
    P = _ortho_poly2(n)
    # P's columns are orthonormal → OLS is a projection. Elementwise
    # multiply + pairwise sum, NOT a BLAS matvec: threaded dgemv splits
    # the reduction differently on driver vs pinned executor workers,
    # breaking exact driver/executor agreement.
    return float((P[:, 0] * tr).sum()), float((P[:, 1] * tr).sum())


@lru_cache(maxsize=2)
def _hw_grid(seasonal: bool) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The flattened (α, β, γ) Holt-Winters search grid — constant per
    ``seasonal`` flag, memoized so the meshgrid isn't rebuilt per
    series. Arrays are read-only; the fit only broadcasts from them."""
    alphas = np.array([0.05, 0.15, 0.3, 0.5, 0.7, 0.9])
    betas = np.array([0.0, 0.05, 0.15, 0.3, 0.6])
    gammas = np.array([0.0, 0.05, 0.15, 0.3, 0.6]) if seasonal else np.array([0.0])
    A, B, G = np.meshgrid(alphas, betas, gammas, indexing="ij")
    a, b, g = A.ravel(), B.ravel(), G.ravel()
    for arr in (a, b, g):
        arr.setflags(write=False)
    return a, b, g


def holt_winters_params(
    x: np.ndarray, ppy: int, max_points: int = 64
) -> tuple[float, float, float]:
    """(hw_alpha, hw_beta, hw_gamma): additive Holt-Winters smoothing
    constants fitted by one-step-ahead SSE over a deterministic coarse
    grid (tsfeatures `hw_parameters` semantics; the exact optimizer is
    this engine's own — features feed a GBT, so grid resolution is
    enough). ppy == 1 → Holt's linear (gamma = 0). The fit window is
    capped at the last ``max_points`` points so the kernel stays O(1)
    per series on whale documents.

    Vectorized across the whole (α, β, γ) grid: the time loop is
    Python but every step updates (n_grid,) state arrays.
    """
    x = np.asarray(x, dtype=np.float64)
    if len(x) > max_points:
        x = x[-max_points:]
    n = len(x)
    seasonal = ppy > 1 and n >= 2 * ppy + 2
    m = ppy if seasonal else 1
    if n < max(2 * m + 2, 6) or _is_const(x):
        return 0.0, 0.0, 0.0
    a, b, g = _hw_grid(seasonal)
    k = len(a)
    # standard HW initialization from the first two seasons
    if seasonal:
        l0 = x[:m].mean()
        b0 = (x[m : 2 * m].mean() - x[:m].mean()) / m
        s0 = x[:m] - l0
    else:
        l0, b0, s0 = x[0], x[1] - x[0], np.zeros(1)
    level = np.full(k, l0)
    trend = np.full(k, b0)
    seas = np.tile(s0, (k, 1))
    sse = np.zeros(k)
    ab = a * b  # loop-invariant; (a*b)*e == a*b*e left-to-right
    start = m if seasonal else 1
    for i in range(start, n):
        si = seas[:, i % m]
        f = level + trend + si
        e = x[i] - f
        sse += e * e
        new_level = level + trend + a * e
        trend = trend + ab * e
        seas[:, i % m] = si + g * e
        level = new_level
    j = int(np.argmin(sse))
    # error-correction form: hw_beta is the trend smoothing RATIO β*
    # (trend step = α·β*·e), hw_gamma the seasonal constant
    return float(a[j]), float(b[j]), float(g[j]) if seasonal else 0.0


# ---------------------------------------------------------------------------
# tsfeatures vocabulary completion (Montero-Manso et al. 2020 FFORMA
# feature set; the reference computes these via the R tsfeatures package
# — fforma/experiments/base/common.py:10,138 tsfeatures_r. Everything
# below is an independent numpy formulation of the published statistic.)
# ---------------------------------------------------------------------------


def _ols_solve(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """OLS coefficients via the normal equations (X'X β = X'y) — an
    order of magnitude cheaper than lstsq's SVD for the skinny design
    matrices these test statistics use; falls back to lstsq when X'X
    is singular. Gram products go through einsum (default non-BLAS
    path) so driver and pinned executor workers reduce in the same
    order — threaded GEMM would break exact agreement."""
    G = np.einsum("ti,tj->ij", X, X)
    c = np.einsum("ti,t->i", X, y)
    try:
        return np.linalg.solve(G, c)
    except np.linalg.LinAlgError:
        b, *_ = np.linalg.lstsq(X, y, rcond=None)
        return b


def acf_vector(x: np.ndarray, kmax: int) -> np.ndarray:
    """ACF at lags 1..kmax (mean-centered, biased full-sum denominator
    — the same estimator as :func:`acf`) in one pass; zeros where the
    lag is out of range or the series is constant."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.zeros(kmax)
    if n < 2:
        return out
    d = x - x.mean()
    s2 = float((d * d).sum())
    if s2 == 0.0:
        return out
    for k in range(1, min(kmax, n - 1) + 1):
        out[k - 1] = float((d[k:] * d[:-k]).sum()) / s2
    return out


def pacf_vector(x: np.ndarray, kmax: int) -> np.ndarray:
    """Partial autocorrelations at lags 1..kmax via the
    Durbin–Levinson recursion on the biased ACF."""
    rho = acf_vector(x, kmax)
    pacf = np.zeros(kmax)
    if kmax < 1 or not np.any(rho):
        return pacf
    pacf[0] = rho[0]
    phi = np.array([rho[0]])
    for k in range(2, kmax + 1):
        den = 1.0 - float((phi * rho[: k - 1]).sum())
        if abs(den) < 1e-12:
            break
        a = (rho[k - 1] - float((phi * rho[k - 2 :: -1]).sum())) / den
        pacf[k - 1] = a
        phi = np.concatenate([phi - a * phi[::-1], [a]])
    return pacf


def unitroot_kpss(x: np.ndarray) -> float:
    """KPSS level-stationarity statistic (Kwiatkowski et al. 1992):
    partial sums of the demeaned series over a Bartlett-kernel long-run
    variance with l = trunc(4·(n/100)^¼) — the tsfeatures
    `unitroot_kpss` formulation (urca ur.kpss, type 'mu', lags
    'short')."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n < 4 or _is_const(x):
        return 0.0
    e = x - x.mean()
    s = np.cumsum(e)
    lag = int(4.0 * (n / 100.0) ** 0.25)
    lrv = float((e * e).sum()) / n
    for j in range(1, min(lag, n - 1) + 1):
        w = 1.0 - j / (lag + 1.0)
        lrv += 2.0 / n * w * float((e[j:] * e[:-j]).sum())
    if lrv <= 0:
        return 0.0
    return float((s * s).sum() / (n * n * lrv))


def unitroot_pp(x: np.ndarray) -> float:
    """Phillips–Perron Z-alpha statistic, constant model, Bartlett
    short lags (tsfeatures `unitroot_pp` / urca ur.pp 'Z-alpha'):
    n(ρ̂−1) − n²(λ²−σ²ᵤ) / (2·Σ(y₋₁−ȳ₋₁)²)."""
    x = np.asarray(x, dtype=np.float64)
    if len(x) < 5 or _is_const(x):
        return 0.0
    y, y1 = x[1:], x[:-1]
    n = len(y)
    y1c = y1 - y1.mean()
    den = float((y1c * y1c).sum())
    if den == 0:
        return 0.0
    rho = float((y1c * (y - y.mean())).sum()) / den
    u = y - (y.mean() - rho * y1.mean()) - rho * y1
    s2 = float((u * u).sum()) / n
    lag = int(4.0 * (n / 100.0) ** 0.25)
    lam2 = s2
    for j in range(1, min(lag, n - 1) + 1):
        w = 1.0 - j / (lag + 1.0)
        lam2 += 2.0 / n * w * float((u[j:] * u[:-j]).sum())
    return float(n * (rho - 1.0) - (n * n * (lam2 - s2)) / (2.0 * den))


def nonlinearity_stat(x: np.ndarray) -> float:
    """Teräsvirta neural-network linearity LM test on the standardized
    series at lag 1, scaled 10·χ²/n as in tsfeatures `nonlinearity`:
    regress y on (1, y₋₁), then the residual on (1, y₋₁, y₋₁², y₋₁³);
    χ² = n·log(SSR₀/SSR₁)."""
    x = np.asarray(x, dtype=np.float64)
    n0 = len(x)
    if n0 < 8 or _is_const(x):
        return 0.0
    xs = (x - x.mean()) / x.std(ddof=1)
    y, y1 = xs[1:], xs[:-1]
    n = len(y)
    X0 = np.column_stack([np.ones(n), y1])
    u = y - np.einsum("ti,i->t", X0, _ols_solve(X0, y))
    ssr0 = float((u * u).sum())
    if ssr0 <= 0:
        return 0.0
    X1 = np.column_stack([np.ones(n), y1, y1**2, y1**3])
    e = u - np.einsum("ti,i->t", X1, _ols_solve(X1, u))
    ssr1 = float((e * e).sum())
    if ssr1 <= 0:
        return 0.0
    return float(10.0 * (n * math.log(ssr0 / ssr1)) / n0)


def arch_stat(x: np.ndarray, lags: int = 12) -> float:
    """ARCH LM statistic (tsfeatures `arch_stat`, demeaned): R² of the
    OLS of (x−x̄)² on its ``lags`` lagged values.

    For short series the lag order shrinks to (n−2)//2 so the
    regression keeps at least one residual degree of freedom — at the
    full 12 lags any series with 14-25 points fits perfectly and the
    statistic saturates at exactly 1.0 regardless of data (round-2
    ADVICE finding; verified on iid noise)."""
    x = np.asarray(x, dtype=np.float64)
    lags = min(lags, (len(x) - 2) // 2)
    if lags < 1 or len(x) <= lags + 1 or _is_const(x):
        return 0.0
    y = (x - x.mean()) ** 2
    T = len(y) - lags
    X = np.column_stack(
        [np.ones(T)] + [y[lags - j : lags - j + T] for j in range(1, lags + 1)]
    )
    yy = y[lags:]
    b = _ols_solve(X, yy)
    resid = yy - np.einsum("ti,i->t", X, b)
    tss = float(((yy - yy.mean()) ** 2).sum())
    if tss <= 0:
        return 0.0
    r2 = 1.0 - float((resid * resid).sum()) / tss
    return float(min(max(r2, 0.0), 1.0))


def _ar_prewhiten(x: np.ndarray, max_points: int = 2048) -> np.ndarray:
    """Residuals of an AR(p) Yule-Walker fit, p chosen by AIC via the
    Durbin–Levinson recursion (stats::ar defaults: order.max =
    10·log10(n), AIC = n·log(v̂ₚ) + 2p) — the pre-whitening step of
    tsfeatures `heterogeneity`. Tail-capped for whale series."""
    x = np.asarray(x, dtype=np.float64)
    if len(x) > max_points:
        x = x[-max_points:]
    n = len(x)
    d = x - x.mean()
    if n < 10 or _is_const(x):
        return d
    pmax = min(int(10.0 * math.log10(n)), n - 1)
    rho = acf_vector(x, pmax)
    v = float(np.var(x))
    best_p, best_aic, best_phi = 0, n * math.log(v), np.zeros(0)
    phi = np.zeros(0)
    vk = v
    for k in range(1, pmax + 1):
        den = 1.0 - float((phi * rho[: k - 1]).sum()) if k > 1 else 1.0
        if abs(den) < 1e-12:
            break
        a = (
            (rho[k - 1] - float((phi * rho[k - 2 :: -1]).sum())) / den
            if k > 1
            else rho[0]
        )
        phi = np.concatenate([phi - a * phi[::-1], [a]]) if k > 1 else np.array([a])
        vk = vk * (1.0 - a * a)
        if vk <= 0:
            break
        aic = n * math.log(vk) + 2.0 * k
        if aic < best_aic:
            best_p, best_aic, best_phi = k, aic, phi.copy()
    if best_p == 0:
        return d
    u = d[best_p:].copy()
    for j in range(1, best_p + 1):
        u -= best_phi[j - 1] * d[best_p - j : n - j]
    return u


def _garch11_moments(u: np.ndarray, max_points: int = 1024) -> np.ndarray:
    """Standardized residuals of a GARCH(1,1) fitted by the
    closed-form moment estimator (Kristensen & Linton 2006): u²
    follows an ARMA(1,1) with AR coefficient φ = α+β and MA
    coefficient β, so φ = ρ₂/ρ₁ of acf(u²) and β solves the ARMA(1,1)
    autocorrelation quadratic; ω comes from variance targeting.
    Deterministic stand-in for tsfeatures heterogeneity's garch fit
    (the features feed a GBT; estimator choice is not load-bearing).
    One O(n) residual recursion, no optimizer."""
    u = np.asarray(u, dtype=np.float64)
    if len(u) > max_points:
        u = u[-max_points:]
    n = len(u)
    v = float(np.var(u))
    if n < 20 or v <= 0:
        return u
    u2 = u * u
    rho = acf_vector(u2, 2)
    rho1, rho2 = float(rho[0]), float(rho[1])
    if rho1 <= 0.01:
        return u / math.sqrt(v)  # no ARCH structure detectable
    phi = min(max(rho2 / rho1, 0.02), 0.98)
    # ARMA(1,1) lag-1 autocorrelation with AR φ, MA −β:
    # ρ₁(1 − 2φβ + β²) = (1 − φβ)(φ − β)  →  quadratic in β
    qa = rho1 - phi
    qb = 1.0 + phi * phi - 2.0 * rho1 * phi
    beta = 0.0
    if abs(qa) > 1e-12:
        disc = qb * qb - 4.0 * qa * qa
        if disc >= 0:
            r = math.sqrt(disc)
            for cand in ((-qb + r) / (2 * qa), (-qb - r) / (2 * qa)):
                if 0.0 <= cand < min(phi, 1.0):
                    beta = cand
                    break
    alpha = min(max(phi - beta, 0.001), 0.999 - beta)
    omega = float(u2.mean()) * (1.0 - alpha - beta)
    s = np.empty(n)
    st = v
    for t in range(n):
        s[t] = st
        st = omega + alpha * u2[t] + beta * st
    return u / np.sqrt(np.maximum(s, 1e-300))


def heterogeneity(x: np.ndarray) -> tuple[float, float, float, float]:
    """(arch_acf, garch_acf, arch_r2, garch_r2) — tsfeatures
    `heterogeneity` semantics: pre-whiten x with AR(AIC);
    arch_acf = Σ of squared ACF(1..12) of u²; arch_r2 = ARCH LM R² of
    u; garch_* repeat both on the GARCH(1,1)-standardized residuals."""
    u = _ar_prewhiten(x)
    if len(u) < 14 or _is_const(u):
        return 0.0, 0.0, 0.0, 0.0
    arch_acf = float((acf_vector(u * u, 12) ** 2).sum())
    arch_r2 = arch_stat(u)
    z = _garch11_moments(u)
    if len(z) < 14 or _is_const(z):
        return arch_acf, 0.0, arch_r2, 0.0
    garch_acf = float((acf_vector(z * z, 12) ** 2).sum())
    garch_r2 = arch_stat(z)
    return arch_acf, garch_acf, arch_r2, garch_r2


def peak_trough(
    x: np.ndarray, ppy: int, s_hat: np.ndarray | None = None
) -> tuple[float, float]:
    """(peak, trough): 1-based phase of the seasonal component's max /
    min (tsfeatures stl_features peak/trough); (0, 0) when
    non-seasonal. ``s_hat`` lets callers share one decomposition."""
    x = np.asarray(x, dtype=np.float64)
    if ppy <= 1 or len(x) < 2 * ppy:
        return 0.0, 0.0
    if s_hat is None:
        _, s_hat, _ = _classical_additive(x, ppy)
    si = s_hat[:ppy]
    return float(np.argmax(si) + 1), float(np.argmin(si) + 1)


FEATURE_NAMES = [
    "series_length",
    "mean",
    "variance",
    "trend_slope",
    "trend_intercept",
    "x_acf1",
    "x_acf10",
    "entropy",
    "trend",
    "seasonal_strength",
    "lumpiness",
    "stability",
    "crossing_points",
    "flat_spots",
    "hurst",
    "nonzero_ratio",
    "spike",
    "linearity",
    "curvature",
    "hw_alpha",
    "hw_beta",
    "hw_gamma",
    "nperiods",
    "seasonal_period",
    # tsfeatures vocabulary completion (round 2)
    "e_acf1",
    "e_acf10",
    "diff1_acf1",
    "diff1_acf10",
    "diff2_acf1",
    "diff2_acf10",
    "seas_acf1",
    "x_pacf5",
    "diff1x_pacf5",
    "diff2x_pacf5",
    "seas_pacf",
    "peak",
    "trough",
    "unitroot_kpss",
    "unitroot_pp",
    "nonlinearity",
    "arch_lm",
    "arch_acf",
    "garch_acf",
    "arch_r2",
    "garch_r2",
]


def feature_vector(x: np.ndarray, seasonality: int) -> dict[str, float]:
    """All T0 features for one series; NaN→0 per the Hyndman fillna(0)
    convention (fforma/experiments/base/common.py:139)."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    slope, intercept = detrend_coeffs(x)
    # lags 1..10 share one centering/denominator pass; each element is
    # bit-identical to the scalar acf(x, k) it replaces
    x_lags = _acf_cumsum_lags(x, min(10, n - 1)) if n > 1 else []
    acf1 = x_lags[0] if n > 1 else 0.0
    # squares via IEEE multiply + sequential accumulation (cumsum), the
    # same ops the batched twin runs — Python's r**2 (libm pow) can
    # differ from r*r in the last ulp, so pow is avoided on both sides
    acf10 = (
        float(np.cumsum(np.asarray(x_lags, dtype=np.float64) ** 2)[-1])
        if x_lags
        else 0.0
    )
    trend_s, seas_s = decompose_strengths(x, seasonality)
    width = seasonality if seasonality > 1 else 10
    if n >= 3:
        t_hat, s_hat, rem = _classical_additive(x, seasonality)
        lin, curv = linearity_curvature(x, seasonality, t_hat=t_hat)
        spike_v = spike(x, seasonality, rem=rem)
        e = rem[~np.isnan(rem)]
        e_acfs = acf_vector(e, 10)
        e_acf1 = float(e_acfs[0])
        e_acf10 = float((e_acfs**2).sum())
    else:
        lin, curv, spike_v = 0.0, 0.0, 0.0
        e_acf1, e_acf10 = 0.0, 0.0
        s_hat = None
    hw_a, hw_b, hw_g = holt_winters_params(x, seasonality)
    d1 = np.diff(x) if n >= 2 else np.zeros(0)
    d2 = np.diff(x, 2) if n >= 3 else np.zeros(0)
    d1_acfs = acf_vector(d1, 10)
    d2_acfs = acf_vector(d2, 10)
    seas_acf1 = (
        float(acf_vector(x, seasonality)[-1]) if seasonality > 1 else 0.0
    )
    x_pacf5 = float((pacf_vector(x, 5) ** 2).sum())
    d1_pacf5 = float((pacf_vector(d1, 5) ** 2).sum())
    d2_pacf5 = float((pacf_vector(d2, 5) ** 2).sum())
    seas_pacf = (
        float(pacf_vector(x, seasonality)[-1]) if seasonality > 1 else 0.0
    )
    peak_v, trough_v = peak_trough(x, seasonality, s_hat=s_hat)
    arch_acf, garch_acf, arch_r2, garch_r2 = heterogeneity(x)
    out = {
        "series_length": float(n),
        "mean": float(x.mean()),
        "variance": float(x.var(ddof=1)) if n > 1 else 0.0,
        "trend_slope": slope,
        "trend_intercept": intercept,
        "x_acf1": acf1,
        "x_acf10": acf10,
        "entropy": spectral_entropy(x),
        "trend": trend_s,
        "seasonal_strength": seas_s,
        "lumpiness": lumpiness(x, width),
        "stability": stability(x, width),
        "crossing_points": float(crossing_points(x)),
        "flat_spots": float(flat_spots(x)),
        "hurst": hurst_exponent(x),
        "nonzero_ratio": float((x != 0).mean()),
        "spike": spike_v,
        "linearity": lin,
        "curvature": curv,
        "hw_alpha": hw_a,
        "hw_beta": hw_b,
        "hw_gamma": hw_g,
        "nperiods": 1.0 if seasonality > 1 else 0.0,
        "seasonal_period": float(seasonality),
        "e_acf1": e_acf1,
        "e_acf10": e_acf10,
        "diff1_acf1": float(d1_acfs[0]),
        "diff1_acf10": float((d1_acfs**2).sum()),
        "diff2_acf1": float(d2_acfs[0]),
        "diff2_acf10": float((d2_acfs**2).sum()),
        "seas_acf1": seas_acf1,
        "x_pacf5": x_pacf5,
        "diff1x_pacf5": d1_pacf5,
        "diff2x_pacf5": d2_pacf5,
        "seas_pacf": seas_pacf,
        "peak": peak_v,
        "trough": trough_v,
        "unitroot_kpss": unitroot_kpss(x),
        "unitroot_pp": unitroot_pp(x),
        "nonlinearity": nonlinearity_stat(x),
        "arch_lm": arch_stat(x),
        "arch_acf": arch_acf,
        "garch_acf": garch_acf,
        "arch_r2": arch_r2,
        "garch_r2": garch_r2,
    }
    return {k: (0.0 if (v is None or not np.isfinite(v)) else float(v)) for k, v in out.items()}
