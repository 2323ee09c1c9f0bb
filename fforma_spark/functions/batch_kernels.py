"""Length-batched twins of the per-series feature kernels.

The per-series ``feature_vector`` (kernels.py) costs ~3 ms/series at
p50 length ~93, and profiling shows the cost is DISPATCH-spread: a few
hundred numpy calls on tiny arrays, each dominated by call overhead,
not arithmetic. This module computes the same 45 features for a whole
``(B, n)`` matrix of same-length series at once, so the dispatch count
is amortized over B rows.

Exactness contract — the load-bearing design rule:

  ``feature_matrix(X, s)`` is BIT-FOR-BIT equal to stacking
  ``feature_vector(X[i], s)`` row by row (test_batch_kernels.py
  asserts exact float equality, not allclose).

That holds because every batched reduction replicates the scalar op
order exactly (all verified empirically on this numpy build, and
re-verified by the parity test on every run):

* ``M.sum(axis=1)`` / ``mean`` / ``var`` / ``std`` / ``median`` on a
  row-contiguous matrix use the same pairwise-summation blocking as
  the 1-D call per row;
* ``np.cumsum(M, axis=1)`` is sequential per row — matches the
  scalar kernels' left-to-right cumsum accumulations (acf);
* elementwise broadcasting performs the identical scalar IEEE op;
* time-loop recursions (Holt-Winters, GARCH) vectorize across rows
  with the loop kept over time, preserving per-step op order;
* ``np.einsum`` Gram/matvec products and stacked
  ``np.linalg.solve`` reduce per batch row exactly as the single-row
  call (the scalar kernels already use einsum, not BLAS, for exact
  driver/executor agreement — kernels.py:_ols_solve);
* ``np.fft.rfft(M, axis=1)`` applies the same pocketfft 1-D
  transform per row;
* ``np.polyfit`` with a stacked RHS applies one factorization
  column-by-column, matching the single-RHS call.

Where the scalar code uses ``math.log`` (AIC, nonlinearity), the
batched code calls ``math.log`` per row too — numpy's vectorized log
can differ in the last ulp from libm, and exactness beats the few
hundred ns a vector log would save.

Rows that take data-dependent branches the batch can't follow in
lockstep are PATCHED: constant rows are recomputed whole via
``feature_vector``; rows that trip a feature-local branch (a zero
periodogram bin, a zero-variance hurst block, a value-masked
decomposition point) get just that feature recomputed by the scalar
kernel. Patches are rare by construction on real token series, so the
hot path stays batched.

Reference semantics are unchanged — every statistic is documented at
its scalar twin in kernels.py (citations into /root/reference live
there); this module is purely a physical-execution variant.
"""

from __future__ import annotations

import math

import numpy as np

from fforma_spark.functions import kernels as K


def _mathlog(v: np.ndarray) -> np.ndarray:
    """Elementwise libm log — bit-identical to the scalar kernels'
    ``math.log`` calls (numpy's SIMD log may differ in the last ulp)."""
    return np.array([math.log(x) for x in v], dtype=np.float64)


# ---------------------------------------------------------------------------
# batched statistical primitives (twins of kernels.py single-series ones)
# ---------------------------------------------------------------------------


def acf_lags_cumsum(X: np.ndarray, kmax: int) -> np.ndarray:
    """Batched :func:`kernels._acf_cumsum_lags` — (B, kmax), NaN where
    the variance is zero, 0.0 where the lag is out of range."""
    B, n = X.shape
    m = X.mean(axis=1)
    d = X - m[:, None]
    sq = d * d
    s2 = np.cumsum(sq, axis=1)[:, -1] if n else np.zeros(B)
    out = np.zeros((B, kmax))
    zero = s2 == 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        for k in range(1, kmax + 1):
            if k >= n:
                out[:, k - 1] = 0.0
            else:
                num = np.cumsum(d[:, k:] * d[:, :-k], axis=1)[:, -1]
                out[:, k - 1] = num / s2
            out[zero, k - 1] = np.nan
    return out


def acf_matrix(X: np.ndarray, kmax: int) -> np.ndarray:
    """Batched :func:`kernels.acf_vector` — (B, kmax), zeros where the
    lag is out of range or the row is constant (pairwise-sum estimator,
    matching the scalar twin's ``.sum()``)."""
    B, n = X.shape
    out = np.zeros((B, kmax))
    if n < 2:
        return out
    d = X - X.mean(axis=1)[:, None]
    s2 = (d * d).sum(axis=1)
    nz = s2 != 0.0
    if not nz.any():
        return out
    with np.errstate(divide="ignore", invalid="ignore"):
        for k in range(1, min(kmax, n - 1) + 1):
            num = (d[:, k:] * d[:, :-k]).sum(axis=1)
            out[nz, k - 1] = num[nz] / s2[nz]
    return out


def pacf_matrix(X: np.ndarray, kmax: int) -> np.ndarray:
    """Batched :func:`kernels.pacf_vector` — Durbin–Levinson with the
    time recursion kept over lags and rows vectorized. A row whose
    denominator collapses (|den| < 1e-12) freezes, replicating the
    scalar ``break``."""
    rho = acf_matrix(X, kmax)
    return pacf_from_acf(rho)


def pacf_from_acf(rho: np.ndarray) -> np.ndarray:
    B, kmax = rho.shape
    pacf = np.zeros((B, kmax))
    if kmax < 1:
        return pacf
    # rows with an all-zero acf produce all-zero pacf through the same
    # arithmetic (0/1 divisions), identical to the scalar early return
    pacf[:, 0] = rho[:, 0]
    phi = rho[:, :1].copy()  # (B, k-1) at step k
    active = np.ones(B, dtype=bool)
    for k in range(2, kmax + 1):
        den = 1.0 - (phi * rho[:, : k - 1]).sum(axis=1)
        active = active & (np.abs(den) >= 1e-12)
        if not active.any():
            break
        a = np.zeros(B)
        a[active] = (
            rho[active, k - 1]
            - (phi[active] * rho[active, k - 2 :: -1]).sum(axis=1)
        ) / den[active]
        pacf[active, k - 1] = a[active]
        nphi = np.empty((B, k))
        nphi[:, : k - 1] = phi - a[:, None] * phi[:, ::-1]
        nphi[:, k - 1] = a
        # frozen rows keep their old phi so later (unreachable) steps
        # can't perturb them; pacf rows already written stay
        nphi[~active, : k - 1] = phi[~active]
        phi = nphi
    return pacf


def centered_ma_matrix(X: np.ndarray, w: int) -> np.ndarray:
    """Batched :func:`kernels._fast_centered_ma` (cumsum MA, NaN where
    the window is not full)."""
    B, n = X.shape
    out = np.full((B, n), np.nan)
    if w > n or w < 1:
        return out
    c = np.concatenate([np.zeros((B, 1)), np.cumsum(X, axis=1)], axis=1)
    lo = w // 2
    out[:, lo : lo + n - w + 1] = (c[:, w:] - c[:, :-w]) / w
    return out


def centered_ma_quirk_matrix(X: np.ndarray, w: int) -> np.ndarray:
    """Batched :func:`kernels._fast_centered_ma_quirk` (even-series
    double-MA quirk)."""
    B, n = X.shape
    ma = centered_ma_matrix(X, w)
    if n % 2 == 0:
        ma2 = np.full((B, n), np.nan)
        ma2[:, : n - 1] = (ma[:, : n - 1] + ma[:, 1:]) / 2.0
        return ma2
    return ma


def _ma_valid_span(n: int, w: int) -> tuple[int, int]:
    """[a, b) column span where the (quirked) centered MA is defined —
    the NaN edges are position-only, so the valid region is one
    contiguous slice shared by every row of a length group."""
    lo = w // 2
    a, b = lo, lo + n - w + 1
    if n % 2 == 0:
        # quirk pair-means consecutive MA values, so the last defined
        # point needs ma[i+1] too — the span loses one trailing point
        # (and the final position is always NaN)
        b = min(b - 1, n - 1)
    return a, b


def seasonal_indices_matrix(X: np.ndarray, ppy: int) -> np.ndarray:
    """Batched :func:`kernels._fast_seasonal_indices`: the 90% ACF
    significance gate splits rows; gated rows get ones, the rest the
    ratio-to-MA indices — both legs stay batched."""
    B, n = X.shape
    si_out = np.ones((B, ppy))
    if ppy <= 1 or n < 2 * ppy:
        return si_out
    rho = acf_matrix(X, ppy)
    s = rho[:, 0] + (rho[:, 1 : ppy - 1] ** 2).sum(axis=1)
    limit = np.zeros(B)
    pos = (1 + 2 * s) > 0
    limit[pos] = 1.645 * np.sqrt((1 + 2 * s[pos]) / n)
    sig = np.abs(rho[:, ppy - 1]) > limit
    if not sig.any():
        return si_out
    Xs = X[sig]
    ma = centered_ma_quirk_matrix(Xs, ppy)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = Xs * 100.0 / ma
    pad = ppy - (n % ppy)
    ratio = np.concatenate(
        [ratio, np.full((len(Xs), pad), np.nan)], axis=1
    )
    with np.errstate(invalid="ignore"):
        si = np.nanmean(ratio.reshape(len(Xs), -1, ppy), axis=1)
    si = si / (si.sum(axis=1) / (ppy * 100.0))[:, None]
    si_out[sig] = si
    return si_out


def classical_additive_matrix(
    X: np.ndarray, ppy: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, tuple[int, int]]:
    """Batched :func:`kernels._classical_additive` plus the shared
    valid-column span of the trend MA. The per-phase seasonal means
    accumulate via per-phase cumsum, matching ``np.bincount``'s
    sequential left-to-right scatter-add on the scalar path."""
    B, n = X.shape
    window = ppy if ppy > 1 else min(max((n // 8) * 2 + 1, 3), n)
    t_hat = centered_ma_matrix(X, window)
    lo = window // 2
    a, b = lo, lo + n - window + 1  # un-quirked valid span
    detr = X - t_hat
    if ppy > 1 and n >= 2 * ppy:
        phases = np.arange(n) % ppy
        valid = np.zeros(n, dtype=bool)
        valid[a:b] = True
        si = np.empty((B, ppy))
        for p in range(ppy):
            idx = np.flatnonzero(valid & (phases == p))
            cnt = float(len(idx))
            if cnt == 0:
                si[:, p] = np.nan
            else:
                si[:, p] = np.cumsum(detr[:, idx], axis=1)[:, -1] / cnt
        si = si - si.mean(axis=1)[:, None]
        s_hat = si[:, phases]
    else:
        s_hat = np.zeros((B, n))
    rem = X - t_hat - s_hat
    return t_hat, s_hat, rem, (a, b)


def hw_params_matrix(
    X: np.ndarray, ppy: int, max_points: int = 64
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched :func:`kernels.holt_winters_params`: state arrays grow a
    row axis — (B, n_grid) — and the time loop stays a Python loop, so
    each step performs the identical op sequence per (row, grid
    point)."""
    B = len(X)
    if X.shape[1] > max_points:
        X = X[:, -max_points:]
    n = X.shape[1]
    zeros = np.zeros(B)
    seasonal = ppy > 1 and n >= 2 * ppy + 2
    m = ppy if seasonal else 1
    if n < max(2 * m + 2, 6):
        return zeros, zeros.copy(), zeros.copy()
    # constant rows are handled by the caller's fallback; running them
    # through the grid is harmless (sse ties → argmin picks index 0)
    a, b, g = K._hw_grid(seasonal)
    k = len(a)
    if seasonal:
        l0 = X[:, :m].mean(axis=1)
        b0 = (X[:, m : 2 * m].mean(axis=1) - X[:, :m].mean(axis=1)) / m
        s0 = X[:, :m] - l0[:, None]
    else:
        l0 = X[:, 0]
        b0 = X[:, 1] - X[:, 0]
        s0 = np.zeros((B, 1))
    level = np.repeat(l0[:, None], k, axis=1)
    trend = np.repeat(b0[:, None], k, axis=1)
    seas = np.repeat(s0[:, None, :], k, axis=1)  # (B, k, m)
    sse = np.zeros((B, k))
    ab = a * b
    start = m if seasonal else 1
    for i in range(start, n):
        si = seas[:, :, i % m]
        f = level + trend + si
        e = X[:, i][:, None] - f
        sse += e * e
        new_level = level + trend + a * e
        trend = trend + ab * e
        seas[:, :, i % m] = si + g * e
        level = new_level
    j = np.argmin(sse, axis=1)
    return (
        a[j].astype(np.float64),
        b[j].astype(np.float64),
        g[j].astype(np.float64) if seasonal else zeros.copy(),
    )


def arch_stat_matrix(X: np.ndarray, lags: int = 12) -> np.ndarray:
    """Batched :func:`kernels.arch_stat` (ARCH LM R²): shared lag
    structure per length group, stacked einsum Gram + ``solve``. Rows
    whose Gram is singular fall back to the scalar kernel (which takes
    the lstsq branch)."""
    B, n = X.shape
    lags = min(lags, (n - 2) // 2)
    out = np.zeros(B)
    if lags < 1 or n <= lags + 1:
        return out
    const = (X == X[:, :1]).all(axis=1)
    y = (X - X.mean(axis=1)[:, None]) ** 2
    T = n - lags
    D = np.empty((B, T, lags + 1))
    D[:, :, 0] = 1.0
    for j in range(1, lags + 1):
        D[:, :, j] = y[:, lags - j : lags - j + T]
    yy = y[:, lags:]
    G = np.einsum("bti,btj->bij", D, D)
    c = np.einsum("bti,bt->bi", D, yy)
    try:
        beta = np.linalg.solve(G, c)
    except np.linalg.LinAlgError:
        # stacked solve rejects the whole batch if ANY Gram is
        # singular — recompute each row the scalar way (which falls
        # back to lstsq only where singular)
        return np.array([K.arch_stat(x, 12) for x in X])
    resid = yy - np.einsum("bti,bi->bt", D, beta)
    tss = ((yy - yy.mean(axis=1)[:, None]) ** 2).sum(axis=1)
    okt = tss > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        r2 = 1.0 - (resid * resid).sum(axis=1) / tss
    out[okt] = np.minimum(np.maximum(r2[okt], 0.0), 1.0)
    out[const] = 0.0
    return out


def _flat_spots_matrix(X: np.ndarray, nbins: int = 10) -> np.ndarray:
    """Batched :func:`kernels.flat_spots` — longest same-bin run per
    row via running run-starts (integer-exact, so any correct
    formulation matches the scalar one)."""
    B, n = X.shape
    lo = X.min(axis=1)
    hi = X.max(axis=1)
    out = np.full(B, float(n))
    var_rows = hi != lo
    if not var_rows.any():
        return out
    Xv = X[var_rows]
    lov, hiv = lo[var_rows], hi[var_rows]
    width = (hiv - lov) / nbins
    b = np.ceil((Xv - lov[:, None]) / width[:, None]).astype(np.int64)
    b[b < 1] = 1
    idx = np.arange(n)
    starts = np.zeros((len(Xv), n), dtype=np.int64)
    chg = b[:, 1:] != b[:, :-1]
    starts[:, 1:] = np.where(chg, idx[1:], 0)
    starts = np.maximum.accumulate(starts, axis=1)
    runlen = idx[None, :] - starts + 1
    out[var_rows] = runlen.max(axis=1).astype(np.float64)
    return out


def _hurst_matrix(X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Batched :func:`kernels.hurst_exponent`. Returns (hurst, patch):
    rows with a zero-variance block (the scalar path's masked mean)
    are flagged for a scalar patch instead of approximated."""
    B, n = X.shape
    out = np.full(B, 0.5)
    patch = np.zeros(B, dtype=bool)
    if n < 20:
        return out, patch
    sizes = []
    size = 10
    while size <= n // 2:
        sizes.append(size)
        size *= 2
    if len(sizes) < 2:
        return out, patch
    rs = np.empty((len(sizes), B))
    for i, s in enumerate(sizes):
        nb = n // s
        blocks = X[:, : nb * s].reshape(B, nb, s)
        dev = blocks - blocks.mean(axis=2, keepdims=True)
        z = dev.cumsum(axis=2)
        r = z.max(axis=2) - z.min(axis=2)
        sd = blocks.std(axis=2, ddof=1)
        bad = (sd <= 0).any(axis=1)
        patch |= bad
        with np.errstate(divide="ignore", invalid="ignore"):
            rs[i] = (r / sd).mean(axis=1)
    good = ~patch
    if good.any():
        logn = np.log(np.asarray(sizes, dtype=np.float64))
        coeffs = np.polyfit(logn, np.log(rs[:, good]), 1)
        out[good] = coeffs[0]
    return out, patch


def _entropy_matrix(X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Batched :func:`kernels.spectral_entropy`. Rows with an exactly
    zero periodogram bin take the scalar path's compacting branch —
    flagged for patch."""
    B, n = X.shape
    out = np.zeros(B)
    patch = np.zeros(B, dtype=bool)
    if n < 2:
        return out, patch
    Xc = X - X.mean(axis=1)[:, None]
    fft = np.fft.rfft(Xc, axis=1)
    psd = (fft.real**2 + fft.imag**2)[:, 1:]
    npsd = psd.shape[1]
    if npsd < 2:
        return out, patch
    total = psd.sum(axis=1)
    pos = total > 0
    patch |= pos & (psd == 0).any(axis=1)
    calc = pos & ~patch
    if calc.any():
        p = psd[calc] / total[calc][:, None]
        out[calc] = -(p * np.log(p)).sum(axis=1) / math.log(npsd)
    return out, patch


def _decompose_strengths_matrix(
    X: np.ndarray, ppy: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched :func:`kernels.decompose_strengths`. Returns
    (trend_strength, seasonal_strength, patch): rows where the scalar
    path's value-dependent mask (|t̂| or |ŝ| ≤ 1e-12 inside the valid
    span) would drop extra points are flagged for a scalar patch, so
    the batch only handles the position-only (NaN-edge) mask every row
    shares."""
    B, n = X.shape
    trend_out = np.zeros(B)
    seas_out = np.zeros(B)
    if ppy > 1 and n >= 2 * ppy:
        si = seasonal_indices_matrix(X, ppy)
        reps = int(np.ceil(n / ppy))
        s_hat = si[:, (np.arange(ppy * reps) % ppy)[:n]] / 100.0
    else:
        s_hat = np.ones((B, n))
    window = ppy if ppy > 1 else min(max((n // 8) * 2 + 1, 3), n)
    t_hat = centered_ma_quirk_matrix(X, window)
    a, b = _ma_valid_span(n, window)
    span = b - a
    if span < 3:
        # every row's shared mask has < 3 points → scalar (0,0) branch
        return trend_out, seas_out, np.zeros(B, dtype=bool)
    T = t_hat[:, a:b]
    S = s_hat[:, a:b]
    patch = (
        (np.abs(T) <= 1e-12) | (np.abs(S) <= 1e-12)
    ).any(axis=1)
    calc = ~patch
    if calc.any():
        Xv = X[calc][:, a:b]
        Tv, Sv = T[calc], S[calc]
        remainder = Xv / (Tv * Sv)
        detrended = Xv / Tv
        deseasoned = Xv / Sv
        dmean = deseasoned.mean(axis=1)
        nzm = dmean != 0
        vr = np.var(remainder, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            vt = np.var(deseasoned / dmean[:, None], axis=1)
        vs = np.var(detrended, axis=1)
        tr = np.zeros(len(Xv))
        se = np.zeros(len(Xv))
        okt = nzm & (vt > 0)
        tr[okt] = np.maximum(0.0, 1.0 - vr[okt] / vt[okt])
        oks = nzm & (vs > 0) if ppy > 1 else np.zeros(len(Xv), bool)
        se[oks] = np.maximum(0.0, 1.0 - vr[oks] / vs[oks])
        trend_out[calc] = tr
        seas_out[calc] = se
    return trend_out, seas_out, patch


def _kpss_matrix(X: np.ndarray) -> np.ndarray:
    """Batched :func:`kernels.unitroot_kpss`."""
    B, n = X.shape
    out = np.zeros(B)
    if n < 4:
        return out
    e = X - X.mean(axis=1)[:, None]
    s = np.cumsum(e, axis=1)
    lag = int(4.0 * (n / 100.0) ** 0.25)
    lrv = (e * e).sum(axis=1) / n
    for j in range(1, min(lag, n - 1) + 1):
        w = 1.0 - j / (lag + 1.0)
        lrv = lrv + 2.0 / n * w * (e[:, j:] * e[:, :-j]).sum(axis=1)
    ok = lrv > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        stat = (s * s).sum(axis=1) / (n * n * lrv)
    out[ok] = stat[ok]
    return out


def _pp_matrix(X: np.ndarray) -> np.ndarray:
    """Batched :func:`kernels.unitroot_pp`."""
    B, n0 = X.shape
    out = np.zeros(B)
    if n0 < 5:
        return out
    y, y1 = X[:, 1:], X[:, :-1]
    n = n0 - 1
    y1c = y1 - y1.mean(axis=1)[:, None]
    den = (y1c * y1c).sum(axis=1)
    ok = den != 0
    with np.errstate(divide="ignore", invalid="ignore"):
        rho = (y1c * (y - y.mean(axis=1)[:, None])).sum(axis=1) / den
        u = (
            y
            - (y.mean(axis=1) - rho * y1.mean(axis=1))[:, None]
            - rho[:, None] * y1
        )
        s2 = (u * u).sum(axis=1) / n
        lag = int(4.0 * (n / 100.0) ** 0.25)
        lam2 = s2.copy()
        for j in range(1, min(lag, n - 1) + 1):
            w = 1.0 - j / (lag + 1.0)
            lam2 = lam2 + 2.0 / n * w * (u[:, j:] * u[:, :-j]).sum(axis=1)
        stat = n * (rho - 1.0) - (n * n * (lam2 - s2)) / (2.0 * den)
    out[ok] = stat[ok]
    return out


def _nonlinearity_matrix(X: np.ndarray) -> np.ndarray:
    """Batched :func:`kernels.nonlinearity_stat` (Teräsvirta LM)."""
    B, n0 = X.shape
    out = np.zeros(B)
    if n0 < 8:
        return out
    sd = X.std(axis=1, ddof=1)
    ok = sd > 0
    if not ok.any():
        return out
    Xs = (X[ok] - X[ok].mean(axis=1)[:, None]) / sd[ok][:, None]
    y, y1 = Xs[:, 1:], Xs[:, :-1]
    Bv, n = y.shape
    D0 = np.empty((Bv, n, 2))
    D0[:, :, 0] = 1.0
    D0[:, :, 1] = y1
    try:
        b0 = np.linalg.solve(
            np.einsum("bti,btj->bij", D0, D0), np.einsum("bti,bt->bi", D0, y)
        )
        u = y - np.einsum("bti,bi->bt", D0, b0)
        ssr0 = (u * u).sum(axis=1)
        D1 = np.empty((Bv, n, 4))
        D1[:, :, 0] = 1.0
        D1[:, :, 1] = y1
        D1[:, :, 2] = y1**2
        D1[:, :, 3] = y1**3
        b1 = np.linalg.solve(
            np.einsum("bti,btj->bij", D1, D1), np.einsum("bti,bt->bi", D1, u)
        )
        e = u - np.einsum("bti,bi->bt", D1, b1)
        ssr1 = (e * e).sum(axis=1)
    except np.linalg.LinAlgError:
        out[ok] = [K.nonlinearity_stat(x) for x in X[ok]]
        return out
    good = (ssr0 > 0) & (ssr1 > 0)
    vals = np.zeros(Bv)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = ssr0 / ssr1
    vals[good] = [
        10.0 * (n * math.log(r)) / n0 for r in ratio[good]
    ]
    out[ok] = vals
    return out


# ---------------------------------------------------------------------------
# heterogeneity (AR-prewhiten → ARCH/GARCH block) — batched with
# per-AR-order regrouping
# ---------------------------------------------------------------------------


def _ar_prewhiten_matrix(
    X: np.ndarray, max_points: int = 2048
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Batched :func:`kernels._ar_prewhiten`. The AIC-selected order
    differs per row, so the output is RAGGED: returns a list of
    (row_indices, residual_matrix) groups, one per selected order.
    The Durbin–Levinson/AIC search itself is fully vectorized across
    rows, with per-row freezing replicating the scalar ``break``s."""
    if X.shape[1] > max_points:
        X = X[:, -max_points:]
    B, n = X.shape
    d = X - X.mean(axis=1)[:, None]
    if n < 10:
        return [(np.arange(B), d)]
    pmax = min(int(10.0 * math.log10(n)), n - 1)
    rho = acf_matrix(X, pmax)
    v = np.var(X, axis=1)
    # constant rows never reach here (caller falls back), but guard the
    # log anyway by freezing zero-variance rows at order 0
    zv = v <= 0
    best_aic = np.where(zv, np.inf, 0.0)
    best_aic[~zv] = n * _mathlog(v[~zv])
    best_p = np.zeros(B, dtype=np.int64)
    best_phi = np.zeros((B, pmax))
    phi = np.zeros((B, 0))
    vk = v.copy()
    active = ~zv
    for k in range(1, pmax + 1):
        if not active.any():
            break
        if k > 1:
            den = 1.0 - (phi * rho[:, : k - 1]).sum(axis=1)
            active = active & (np.abs(den) >= 1e-12)
            a = np.zeros(B)
            a[active] = (
                rho[active, k - 1]
                - (phi[active] * rho[active, k - 2 :: -1]).sum(axis=1)
            ) / den[active]
        else:
            a = rho[:, 0].copy()
        nphi = np.empty((B, k))
        if k > 1:
            nphi[:, : k - 1] = phi - a[:, None] * phi[:, ::-1]
            nphi[~active, : k - 1] = phi[~active]
        nphi[:, k - 1] = a
        nphi[~active, k - 1] = 0.0
        phi = nphi
        vk_new = vk * (1.0 - a * a)
        vk = np.where(active, vk_new, vk)
        active = active & (vk > 0)
        if active.any():
            aic = np.full(B, np.inf)
            aic[active] = n * _mathlog(vk[active]) + 2.0 * k
            better = active & (aic < best_aic)
            best_aic = np.where(better, aic, best_aic)
            best_p[better] = k
            best_phi[better, :k] = phi[better]
            best_phi[better, k:] = 0.0
    groups: list[tuple[np.ndarray, np.ndarray]] = []
    for p in np.unique(best_p):
        idx = np.flatnonzero(best_p == p)
        if p == 0:
            groups.append((idx, d[idx]))
            continue
        dp = d[idx]
        u = dp[:, p:].copy()
        for j in range(1, p + 1):
            u -= best_phi[idx, j - 1][:, None] * dp[:, p - j : n - j]
        groups.append((idx, u))
    return groups


def _garch11_matrix(U: np.ndarray, max_points: int = 1024) -> np.ndarray:
    """Batched :func:`kernels._garch11_moments` over a same-length
    residual group: the moment-estimator branch logic becomes
    elementwise selects, and the O(n) variance recursion vectorizes
    across rows with the loop kept over time."""
    if U.shape[1] > max_points:
        U = U[:, -max_points:]
    B, n = U.shape
    v = np.var(U, axis=1)
    if n < 20:
        return U
    run = v > 0  # rows with v<=0 return u unchanged (scalar guard)
    u2 = U * U
    rho = acf_matrix(u2, 2)
    rho1, rho2 = rho[:, 0], rho[:, 1]
    no_arch = run & (rho1 <= 0.01)
    fit = run & ~no_arch
    out = U.copy()
    if no_arch.any():
        out[no_arch] = U[no_arch] / np.sqrt(v[no_arch])[:, None]
    if not fit.any():
        return out
    with np.errstate(divide="ignore", invalid="ignore"):
        phi = np.minimum(np.maximum(rho2[fit] / rho1[fit], 0.02), 0.98)
    qa = rho1[fit] - phi
    qb = 1.0 + phi * phi - 2.0 * rho1[fit] * phi
    beta = np.zeros(len(phi))
    solvable = np.abs(qa) > 1e-12
    disc = qb * qb - 4.0 * qa * qa
    has_root = solvable & (disc >= 0)
    if has_root.any():
        r = np.sqrt(disc[has_root])
        qa_h, qb_h = qa[has_root], qb[has_root]
        c1 = (-qb_h + r) / (2 * qa_h)
        c2 = (-qb_h - r) / (2 * qa_h)
        hi = np.minimum(phi[has_root], 1.0)
        ok1 = (0.0 <= c1) & (c1 < hi)
        ok2 = (0.0 <= c2) & (c2 < hi)
        beta[has_root] = np.where(ok1, c1, np.where(ok2, c2, 0.0))
    alpha = np.minimum(np.maximum(phi - beta, 0.001), 0.999 - beta)
    omega = u2[fit].mean(axis=1) * (1.0 - alpha - beta)
    u2f = u2[fit]
    s = np.empty((len(phi), n))
    st = v[fit].copy()
    for t in range(n):
        s[:, t] = st
        st = omega + alpha * u2f[:, t] + beta * st
    out[fit] = U[fit] / np.sqrt(np.maximum(s, 1e-300))
    return out


def heterogeneity_matrix(
    X: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batched :func:`kernels.heterogeneity`: prewhiten (vectorized
    AIC search), then regroup rows by selected AR order so every
    downstream kernel (acf-of-squares, ARCH LM, GARCH standardize)
    sees one rectangular matrix per group."""
    B = len(X)
    arch_acf = np.zeros(B)
    garch_acf = np.zeros(B)
    arch_r2 = np.zeros(B)
    garch_r2 = np.zeros(B)
    for idx, U in _ar_prewhiten_matrix(X):
        if U.shape[1] < 14:
            continue
        uconst = (U == U[:, :1]).all(axis=1)
        calc = ~uconst
        if not calc.any():
            continue
        Uc, ic = U[calc], idx[calc]
        arch_acf[ic] = (acf_matrix(Uc * Uc, 12) ** 2).sum(axis=1)
        arch_r2[ic] = arch_stat_matrix(Uc)
        Z = _garch11_matrix(Uc)
        zconst = (Z == Z[:, :1]).all(axis=1)
        zc = ~zconst  # len(z) == len(u) ≥ 14 always holds here
        if zc.any():
            Zc = Z[zc]
            garch_acf[ic[zc]] = (acf_matrix(Zc * Zc, 12) ** 2).sum(axis=1)
            garch_r2[ic[zc]] = arch_stat_matrix(Zc)
    return arch_acf, garch_acf, arch_r2, garch_r2


# ---------------------------------------------------------------------------
# the batched feature vector
# ---------------------------------------------------------------------------

#: Dispatch thresholds, DATA-DERIVED in round 5 (VERDICT r4 #3) by
#: scripts/min_batch_crossover.py (best-of-5, probe-bracketed window,
#: full table in BASELINE.md). Measured speedup batched/scalar:
#:   rows=1–2             → 0.4–1.0× at every length: scalar.
#:   rows=3–8, n ≤ ~300   → 1.05–2.5×: batched.
#:   rows=3–8, n ≥ ~700   → 0.7–1.1× (a wash trending loss — the
#:                          batched temporaries outgrow cache while
#:                          scalar amortizes its dispatch over n):
#:                          scalar above MAX_SMALL_BATCH_LEN.
#:   rows ≥ 16            → 1.1–6.6× at EVERY length: batched.
#: MIN_BATCH_LEN was a CORRECTNESS floor of 20 through round 5 (the
#: twins' short-n guard coverage was unproven). Round 6 audited the
#: full short-length surface (s in {1..8,12,24,52} x n in 2..30 x
#: adversarial shapes, tests/test_features_short.py): the one real
#: divergence was the e_acf span-2 zero-gate (fixed above — it also
#: silently mis-batched n == ppy+1 at n >= 20, e.g. (24,25)), after
#: which the twins are bit-exact from n == 2. The floor is now the
#: algebraic minimum; short groups were already measured
#: batched-favorable (1.4-6.6x at n=8) in the r5 crossover grid.
MIN_BATCH_ROWS = 3
MIN_BATCH_LEN = 2
#: rows=3–15 groups longer than this take the scalar path (measured
#: 0.76–0.9× batched at n=2000 for small groups)
MAX_SMALL_BATCH_LEN = 512
#: groups at least this tall batch at ANY length (measured ≥1.1× even
#: at n=2000)
BIG_BATCH_ROWS = 16

#: rows-per-kernel-call element budget (~384 KB of float64): big
#: enough to amortize numpy dispatch, small enough that the block and
#: its temporaries stay cache-resident. Measured on this box with
#: 8/32 concurrent workers over n=93 series: 50k-row blocks collapse
#: 32-way aggregate throughput to 0.76x of 8-way (DRAM-bandwidth
#: saturation — every executor thread streams multi-MB matrices),
#: while ~512-row blocks give the best absolute 32-way throughput
#: (~7x the unchunked rate) AND restore near-linear 8->32 scaling.
CHUNK_ELEMS = 48_000


def feature_matrix(X: np.ndarray, seasonality: int) -> dict[str, np.ndarray]:
    """All 45 T0 features for a (B, n) matrix of same-length series —
    bit-for-bit equal to per-row :func:`kernels.feature_vector`.

    Large batches are processed in cache-resident row chunks
    (``CHUNK_ELEMS`` elements per block); rows are independent, so
    chunking is exact by construction.
    """
    X = np.ascontiguousarray(X, dtype=np.float64)
    B, n = X.shape
    rows = max(MIN_BATCH_ROWS, CHUNK_ELEMS // max(n, 1))
    if B <= rows:
        return _feature_matrix_block(X, seasonality)
    parts = [
        _feature_matrix_block(X[lo : lo + rows], seasonality)
        for lo in range(0, B, rows)
    ]
    return {
        name: np.concatenate([p[name] for p in parts]) for name in parts[0]
    }


def _feature_matrix_block(
    X: np.ndarray, seasonality: int
) -> dict[str, np.ndarray]:
    """One cache-sized block of :func:`feature_matrix`.

    Constant rows are recomputed whole via the scalar path; rows
    flagged by a sub-kernel's data-dependent branch get just that
    feature patched scalar-side.
    """
    X = np.ascontiguousarray(X, dtype=np.float64)
    B, n = X.shape
    s = seasonality
    out: dict[str, np.ndarray] = {}

    const = (X == X[:, :1]).all(axis=1)

    out["series_length"] = np.full(B, float(n))
    m = X.mean(axis=1)
    out["mean"] = m
    out["variance"] = X.var(axis=1, ddof=1)

    tm, tc, denom = K._time_basis(n)
    if denom:
        slope = (tc * (X - m[:, None])).sum(axis=1) / denom
    else:
        slope = np.zeros(B)
    out["trend_slope"] = slope
    out["trend_intercept"] = m - slope * tm

    x_lags = acf_lags_cumsum(X, min(10, n - 1))
    out["x_acf1"] = x_lags[:, 0].copy()
    # scalar path: Python sum(r**2 for r in lags) — left-to-right
    acc = np.zeros(B)
    for k in range(x_lags.shape[1]):
        acc = acc + x_lags[:, k] ** 2
    out["x_acf10"] = acc

    ent, ent_patch = _entropy_matrix(X)
    out["entropy"] = ent

    tr_s, se_s, dec_patch = _decompose_strengths_matrix(X, s)
    out["trend"] = tr_s
    out["seasonal_strength"] = se_s

    width = s if s > 1 else 10
    nb = n // width
    if nb < 2:
        out["lumpiness"] = np.zeros(B)
        out["stability"] = np.zeros(B)
    else:
        blocks = X[:, : nb * width].reshape(B, nb, width)
        out["lumpiness"] = np.var(
            blocks.var(axis=2, ddof=1), axis=1, ddof=1
        )
        out["stability"] = np.var(blocks.mean(axis=2), axis=1, ddof=1)

    med = np.median(X, axis=1)
    above = X > med[:, None]
    out["crossing_points"] = (
        (above[:, 1:] != above[:, :-1]).sum(axis=1).astype(np.float64)
    )
    out["flat_spots"] = _flat_spots_matrix(X)
    hurst, hurst_patch = _hurst_matrix(X)
    out["hurst"] = hurst
    out["nonzero_ratio"] = (X != 0).mean(axis=1)

    # classical additive decomposition (MIN_BATCH_LEN only guarantees
    # n >= 2; the span gates below cover the short cases): spike /
    # linearity / curvature / e_acf / peak
    t_hat, s_hat, rem, (a, b) = classical_additive_matrix(X, s)
    span = b - a
    if span >= 3:
        P = K._ortho_poly2(span)
        TR = t_hat[:, a:b]
        out["linearity"] = (P[None, :, 0] * TR).sum(axis=1)
        out["curvature"] = (P[None, :, 1] * TR).sum(axis=1)
    else:
        out["linearity"] = np.zeros(B)
        out["curvature"] = np.zeros(B)
    R = rem[:, a:b]
    nL = span
    if nL >= 3:
        v = np.var(R, axis=1, ddof=1)
        d2r = (R - R.mean(axis=1)[:, None]) ** 2
        varloo = (v[:, None] * (nL - 1) - d2r) / (nL - 2)
        out["spike"] = np.var(varloo, axis=1, ddof=1)
    else:
        out["spike"] = np.zeros(B)
    # e_acf gates on the REMAINDER length, not 3: the scalar path runs
    # acf_vector over however many non-NaN remainder points exist
    # whenever n >= 3, and a 2-point mean-centered remainder has
    # acf1 = -0.5 exactly (span == 2 happens at n == window+1, e.g.
    # n == ppy+1) — the old span>=3 zero-gate silently diverged there.
    if nL >= 2:
        e_acfs = acf_matrix(R, 10)
        out["e_acf1"] = e_acfs[:, 0].copy()
        out["e_acf10"] = (e_acfs**2).sum(axis=1)
    else:
        out["e_acf1"] = np.zeros(B)
        out["e_acf10"] = np.zeros(B)

    hw_a, hw_b, hw_g = hw_params_matrix(X, s)
    out["hw_alpha"], out["hw_beta"], out["hw_gamma"] = hw_a, hw_b, hw_g

    out["nperiods"] = np.full(B, 1.0 if s > 1 else 0.0)
    out["seasonal_period"] = np.full(B, float(s))

    d1 = np.diff(X, axis=1)
    d2 = np.diff(X, n=2, axis=1)
    d1_acfs = acf_matrix(d1, 10)
    d2_acfs = acf_matrix(d2, 10)
    out["diff1_acf1"] = d1_acfs[:, 0].copy()
    out["diff1_acf10"] = (d1_acfs**2).sum(axis=1)
    out["diff2_acf1"] = d2_acfs[:, 0].copy()
    out["diff2_acf10"] = (d2_acfs**2).sum(axis=1)

    if s > 1:
        out["seas_acf1"] = acf_matrix(X, s)[:, -1].copy()
        out["seas_pacf"] = pacf_matrix(X, s)[:, -1].copy()
    else:
        out["seas_acf1"] = np.zeros(B)
        out["seas_pacf"] = np.zeros(B)

    out["x_pacf5"] = (pacf_matrix(X, 5) ** 2).sum(axis=1)
    out["diff1x_pacf5"] = (pacf_matrix(d1, 5) ** 2).sum(axis=1)
    out["diff2x_pacf5"] = (pacf_matrix(d2, 5) ** 2).sum(axis=1)

    if s > 1 and n >= 2 * s:
        si = s_hat[:, :s]
        out["peak"] = (np.argmax(si, axis=1) + 1).astype(np.float64)
        out["trough"] = (np.argmin(si, axis=1) + 1).astype(np.float64)
    else:
        out["peak"] = np.zeros(B)
        out["trough"] = np.zeros(B)

    out["unitroot_kpss"] = _kpss_matrix(X)
    out["unitroot_pp"] = _pp_matrix(X)
    out["nonlinearity"] = _nonlinearity_matrix(X)
    out["arch_lm"] = arch_stat_matrix(X)

    h_acf, g_acf, h_r2, g_r2 = heterogeneity_matrix(X)
    out["arch_acf"] = h_acf
    out["garch_acf"] = g_acf
    out["arch_r2"] = h_r2
    out["garch_r2"] = g_r2

    # feature-local scalar patches for rows that tripped a
    # data-dependent branch the batch can't follow in lockstep
    for i in np.flatnonzero(ent_patch & ~const):
        out["entropy"][i] = K.spectral_entropy(X[i])
    for i in np.flatnonzero(dec_patch & ~const):
        t, ss = K.decompose_strengths(X[i], s)
        out["trend"][i] = t
        out["seasonal_strength"][i] = ss
    for i in np.flatnonzero(hurst_patch & ~const):
        out["hurst"][i] = K.hurst_exponent(X[i])

    # whole-row fallback: constant rows (every scalar kernel takes its
    # own _is_const branch there; batching them is not worth the masks)
    for i in np.flatnonzero(const):
        fv = K.feature_vector(X[i], s)
        for name in K.FEATURE_NAMES:
            out[name][i] = fv[name]
        # already sanitized by feature_vector

    # the scalar path's final NaN/inf → 0 sanitize
    for name in K.FEATURE_NAMES:
        col = out[name]
        bad = ~np.isfinite(col)
        if bad.any():
            col[bad] = 0.0
    return out
