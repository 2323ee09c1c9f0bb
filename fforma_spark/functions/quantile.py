"""Quantile-regression kernels — from-scratch numpy (no statsmodels /
cvxpy in this container).

Reference semantics (fforma/base/_quantile_models.py): lag-embedding
design matrix (``embed``, :18-47 — R stats::embed contract), quantile
regression on AR lags with optional constant (:49-225, via statsmodels
QuantReg there), recursive multi-step forecast, constant-series →
Naive fallback. The solver here is IRLS (iteratively-reweighted least
squares) on the pinball loss — the classical Schlossmacher/MM scheme:
w_i = τ/max(|r_i|,ε) for positive residuals, (1−τ)/max(|r_i|,ε) for
negative; converges to the LP optimum for non-degenerate designs.

The IRLS, QAR and ADF fits are per-series numpy; the LQRA proximal
subgradient (:func:`qral1_fit_stack`) runs one loop over a (B, h, K)
stack of series, each row's iterations independent of the others. All
run inside the same Arrow-batched mapInPandas fabric as the other
kernels.
"""

from __future__ import annotations

import numpy as np


def embed(x: np.ndarray, p: int) -> np.ndarray:
    """Lag-embedding matrix, R ``stats::embed`` semantics: row t is
    [x_t, x_{t-1}, ..., x_{t-p+1}] (fforma/base/_quantile_models.py:18-47)."""
    if p == 0:
        raise ValueError("embedding dimension should not be 0")
    x = np.asarray(x, dtype=np.float64)
    cols = [np.roll(x, k) for k in range(p)]
    out = np.vstack(cols).T
    return out[p - 1:]


def pinball_loss(y: np.ndarray, y_hat: np.ndarray, tau: float) -> float:
    e = np.asarray(y, dtype=np.float64) - np.asarray(y_hat, dtype=np.float64)
    return float(np.mean(np.where(e >= 0, tau * e, (tau - 1) * e)))


def quantile_regression(
    X: np.ndarray,
    y: np.ndarray,
    tau: float,
    max_iter: int = 200,
    tol: float = 1e-10,
    eps: float = 1e-8,
) -> np.ndarray:
    """IRLS pinball-loss regression; returns beta (X already includes
    the constant column if wanted)."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    prev = np.inf
    for _ in range(max_iter):
        r = y - X @ beta
        w = np.where(r >= 0, tau, 1.0 - tau) / np.maximum(np.abs(r), eps)
        sw = np.sqrt(w)
        beta_new, *_ = np.linalg.lstsq(X * sw[:, None], y * sw, rcond=None)
        loss = pinball_loss(y, X @ beta_new, tau)
        beta = beta_new
        if abs(prev - loss) < tol * max(prev, 1.0):
            break
        prev = loss
    return beta


def quantile_ar_forecast(
    y: np.ndarray,
    h: int,
    tau: float,
    ar_terms: list[int] | None = None,
    add_constant: bool = True,
    max_diffs: int = 0,
    n_diffs: int | None = None,
) -> np.ndarray:
    """Quantile AR forecast: fit y_t ~ c + Σ a_j y_{t-n_j} at quantile
    τ, then forecast recursively (fforma/base/_quantile_models.py:49-225).
    Constant series → Naive (reference note [4]).

    ``max_diffs > 0`` enables the reference's ADF branch (:145-151):
    difference until the from-scratch ADF test says stationary, fit on
    the differenced series, undifference the recursive forecast via
    repeated cumsum + last train value (:210-214). ``n_diffs`` lets a
    caller that already ran the ADF search (to report d) pass the
    result in, skipping a duplicate AIC-lag search per series."""
    y = np.asarray(y, dtype=np.float64)
    if ar_terms is None:
        ar_terms = [1, 2]
    max_ar = max(ar_terms)
    if np.all(y == y[0]) or len(y) <= max_ar + 2:
        return np.full(h, float(y[-1]))
    last_y_train = float(y[-1])
    d = 0
    if n_diffs is not None:
        applied = 0
        for _ in range(max(int(n_diffs), 0)):
            if len(y) <= 1:  # cannot difference further
                break
            y = np.diff(y)
            applied += 1
        d = applied
    elif max_diffs > 0:
        y, d = difference_until_stationary(y, max_diffs)

    def undiff(out: np.ndarray) -> np.ndarray:
        # d cumsums, then re-anchor on the last ORIGINAL train value —
        # verbatim reference semantics (:210-214)
        for _ in range(d):
            out = np.cumsum(out)
        return out + last_y_train if d else out

    if len(y) <= max_ar + 2:
        return undiff(np.full(h, float(y[-1])))
    emb = embed(y, max_ar + 1)
    target = emb[:, 0]
    lags = emb[:, ar_terms]  # column j of embed is lag j
    # drop constant lag columns (adjust_ar_terms=True behavior)
    keep = [j for j in range(lags.shape[1]) if np.ptp(lags[:, j]) > 0]
    if not keep:
        if add_constant:
            # intercept-only QR = τ-quantile of the (differenced)
            # target — what QuantReg does when every lag is constant
            beta0 = quantile_regression(
                np.ones((len(target), 1)), target, tau
            )
            return undiff(np.full(h, float(beta0[0])))
        return undiff(np.full(h, float(y[-1])))
    lags = lags[:, keep]
    kept_terms = [ar_terms[j] for j in keep]
    X = np.column_stack([np.ones(len(target)), lags]) if add_constant else lags
    beta = quantile_regression(X, target, tau)
    hist = list(y)
    out = np.empty(h)
    for step in range(h):
        row = [1.0] if add_constant else []
        row += [hist[-t] for t in kept_terms]
        val = float(np.dot(row, beta))
        out[step] = val
        hist.append(val)
    return undiff(out)


# ---------------------------------------------------------------------------
# ADF stationarity test (from scratch) + differencing branch
# (fforma/base/_quantile_models.py:140-151, 210-214)
# ---------------------------------------------------------------------------

# MacKinnon (2010, "Critical Values for Cointegration Tests") response
# surface for the 5% ADF critical value, constant / no-trend case:
# crit(T) = τ∞ + b1/T + b2/T² + b3/T³.
_MACKINNON_5PCT_C = (-2.86154, -2.8903, -4.234, -40.04)


def adf_tstat(y: np.ndarray, maxlag: int | None = None) -> tuple[float, int]:
    """Augmented Dickey-Fuller t-statistic (constant, no trend), lag
    chosen by AIC over 0..maxlag on the common sample — the same shape
    as statsmodels' adfuller defaults, written from scratch:
    Δy_t = c + ρ·y_{t-1} + Σ_j φ_j Δy_{t-j} + ε, t-stat of ρ̂.

    Returns (t_stat, regression_nobs).
    """
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    dy = np.diff(y)
    if maxlag is None:
        # Schwert rule, bounded so the regression stays overdetermined
        maxlag = min(int(np.ceil(12.0 * (n / 100.0) ** 0.25)),
                     (n - 1) // 2 - 2)
        maxlag = max(maxlag, 0)
    nobs = len(dy) - maxlag
    if nobs < 4:
        return 0.0, max(nobs, 1)
    target = dy[maxlag:]
    ylag = y[maxlag : n - 1]
    best_aic, best_t = np.inf, 0.0
    for k in range(maxlag + 1):
        cols = [ylag]
        for j in range(1, k + 1):
            cols.append(dy[maxlag - j : len(dy) - j])
        cols.append(np.ones(nobs))
        X = np.column_stack(cols)
        if X.shape[1] >= nobs:
            break
        beta, *_ = np.linalg.lstsq(X, target, rcond=None)
        resid = target - X @ beta
        ssr = float(resid @ resid)
        sigma2 = max(ssr / nobs, 1e-300)
        llf = -nobs / 2.0 * (np.log(2 * np.pi * sigma2) + 1.0)
        aic = -2 * llf + 2 * X.shape[1]
        if aic < best_aic:
            dof = nobs - X.shape[1]
            s2 = ssr / dof if dof > 0 else np.inf
            xtx_inv = np.linalg.pinv(X.T @ X)
            se = np.sqrt(max(s2 * xtx_inv[0, 0], 1e-300))
            best_aic, best_t = aic, float(beta[0] / se)
    return best_t, nobs


def adf_is_stationary(y: np.ndarray, alpha_unused: float = 0.05) -> bool:
    """True when the ADF t-stat rejects a unit root at 5% (MacKinnon
    response-surface critical value) — the reference's
    ``adfuller(y)[1] < 0.05`` branch decision. Series too short to
    regress are treated as stationary (no differencing)."""
    y = np.asarray(y, dtype=np.float64)
    if len(y) < 10 or np.var(y) == 0:
        return True
    t, nobs = adf_tstat(y)
    c0, c1, c2, c3 = _MACKINNON_5PCT_C
    crit = c0 + c1 / nobs + c2 / nobs**2 + c3 / nobs**3
    return t < crit


def difference_until_stationary(
    y: np.ndarray, max_diffs: int
) -> tuple[np.ndarray, int]:
    """Apply np.diff until ADF says stationary, at most max_diffs
    times (fforma/base/_quantile_models.py:145-151)."""
    z = np.asarray(y, dtype=np.float64)
    d = 0
    for _ in range(max_diffs):
        if adf_is_stationary(z):
            break
        z = np.diff(z)
        d += 1
    return z, d


# ---------------------------------------------------------------------------
# FQRA / QRAL1 (fforma/base/_models.py:475-554) and the
# regression-averaging meta-learners built on them
# (fforma/meta_learner/_regression_averaging.py:9-105)
# ---------------------------------------------------------------------------


def pca_fit(X: np.ndarray, n_components: int) -> tuple[np.ndarray, np.ndarray]:
    """PCA via SVD of the mean-centered matrix (sklearn semantics used
    by the reference's FQRA: components = right singular vectors).
    Deterministic sign: each component's largest-|.| entry is positive.

    Returns (mean, components[k, d]).
    """
    X = np.asarray(X, dtype=np.float64)
    mu = X.mean(axis=0)
    _, _, Vt = np.linalg.svd(X - mu, full_matrices=False)
    comps = Vt[:n_components].copy()
    idx = np.argmax(np.abs(comps), axis=1)
    signs = np.sign(comps[np.arange(len(comps)), idx])
    signs[signs == 0] = 1.0
    return mu, comps * signs[:, None]


def fqra_fit_predict(
    X_train: np.ndarray,
    y_train: np.ndarray,
    X_test: np.ndarray,
    tau: float,
    n_components: int,
) -> np.ndarray:
    """Factor Quantile Regression Averaging for ONE series
    (fforma/base/_models.py:475-498): PCA-project the base-model
    prediction matrix, quantile-regress y on the factors + constant,
    predict on the projected test matrix."""
    X_train = np.asarray(X_train, dtype=np.float64)
    X_test = np.asarray(X_test, dtype=np.float64)
    k = int(min(n_components, X_train.shape[1], max(len(X_train) - 1, 1)))
    mu, comps = pca_fit(X_train, k)
    Ztr = np.hstack([(X_train - mu) @ comps.T, np.ones((len(X_train), 1))])
    Zte = np.hstack([(X_test - mu) @ comps.T, np.ones((len(X_test), 1))])
    beta = quantile_regression(Ztr, np.asarray(y_train, dtype=np.float64), tau)
    return Zte @ beta


# proximal subgradient iterations per LQRA fit
QRAL1_ITERS = 4000


def qral1_fit_stack(
    X: np.ndarray, Y: np.ndarray, tau: float, lambd: float
) -> np.ndarray:
    """Lasso Quantile Regression Averaging weights
    (fforma/base/_models.py:500-554) for a stack of B series of one
    horizon h: ``X`` is (B, h, K) base forecasts, ``Y`` (B, h) actuals.
    Per series, minimize Σ pinball_τ(y − Xβ) + λ·mean(y)·‖β − w̄‖₁ with
    w̄ the equal-weight vector — proximal subgradient descent (the
    reference solves the same objective with cvxpy; problems are h×K,
    tiny). Returns beta, (B, K).

    Every row keeps its own penalty, step size, objective and best β,
    so a row's result does not depend on the rest of the stack, and it
    is bit-identical to the one-series loop (tests/lqra_oracle.py):
    ``X @ β`` is a stacked ``np.matmul`` (matches the 2-D product),
    ``Xᵀψ`` goes through the strided transpose (a contiguous copy
    rounds differently), and √lip is a Python float power (an array
    ``** 0.5`` takes numpy's sqrt path)."""
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    if X.ndim != 3 or Y.shape != X.shape[:2]:
        raise ValueError(f"need X (B, h, K), Y (B, h): {X.shape}, {Y.shape}")
    k = X.shape[2]
    Xt = X.transpose(0, 2, 1)
    w_avg = np.ones(k) / k
    pen = float(lambd) * Y.mean(axis=1)

    def residual(b):
        return Y - np.matmul(X, b[:, :, None])[:, :, 0]

    def psi_of(r):
        # pinball subgradient weight: τ above, τ−1 below, 0 on the fit
        return (r > 0) * tau + (r < 0) * (tau - 1.0)

    def objective(r, psi, b):
        # ψ equals the pinball weight wherever r ≠ 0, so r·ψ is the loss
        return (r * psi).sum(axis=1) + pen * np.abs(b - w_avg).sum(axis=1)

    # warm start from each row's unpenalized IRLS optimum (exact answer
    # when λ=0, good neighborhood otherwise); w̄ stays a candidate via
    # best-objective tracking below
    beta = np.stack([quantile_regression(x, y, tau) for x, y in zip(X, Y)])
    best_beta, best_obj = beta.copy(), np.full(len(X), np.inf)

    def keep_better(obj, b):
        better = obj < best_obj
        np.copyto(best_obj, obj, where=better)
        np.copyto(best_beta, b, where=better[:, None])

    r = residual(beta)
    psi = psi_of(r)
    keep_better(objective(r, psi, beta), beta)
    w_rows = np.broadcast_to(w_avg, beta.shape)
    r_w = residual(w_rows)
    keep_better(objective(r_w, psi_of(r_w), w_rows), w_rows)
    # √(‖X‖₂² + 1e-12) per row, the step size's Lipschitz factor
    root_lip = np.array(
        [(float(s) ** 2 + 1e-12) ** 0.5
         for s in np.linalg.svd(X, compute_uv=False).max(axis=1)]
    )
    for t in range(1, QRAL1_ITERS + 1):
        eta = 1.0 / (root_lip * t ** 0.5 + 1e-12)
        # z = β − η·(−Xᵀψ)
        z = beta + eta[:, None] * np.matmul(Xt, psi[:, :, None])[:, :, 0]
        # prox of η·pen·‖·−w̄‖₁  (soft threshold around w̄)
        d = z - w_avg
        beta = w_avg + np.sign(d) * np.maximum(
            np.abs(d) - (eta * pen)[:, None], 0.0
        )
        r = residual(beta)
        psi = psi_of(r)
        keep_better(objective(r, psi, beta), beta)
    return best_beta


QF_SCHEMA = (
    "doc_id string, pos long, q10 double, q50 double, q90 double, "
    "q50_adf double, n_diffs long"
)


def quantile_forecasts(seq_df, h: int = 8, max_series_len: int | None = None):
    """Quantile AR forecasts per doc (q10/q50/q90 + the ADF-differenced
    q50 and its chosen depth) in one mapInPandas pass over the wide
    sequence table — the Spark fabric around quantile_ar_forecast /
    difference_until_stationary (fforma/base/_quantile_models.py:49-225
    and :140-151,210-214 semantics).

    ``max_series_len`` arms whale protection exactly like
    models.base_forecasts: whales enter the IRLS/ADF kernels as their
    trailing window (plans/skew.cap_whales) so per-task cost stays
    bounded; docs ≤ cap are bit-identical."""
    import pandas as pd

    from fforma_spark.plans.skew import map_sequences

    cols = ["doc_id", "pos", "q10", "q50", "q90", "q50_adf", "n_diffs"]

    def gen(it):
        for pdf in it:
            frames = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                y = np.asarray(tokens, dtype=np.float64)
                if len(y) <= h + 3:
                    continue
                train = y[:-h]
                # ONE ADF search per doc: its result feeds both the
                # reported n_diffs and the forecast
                _, d = difference_until_stationary(train, 10)
                frames.append(
                    pd.DataFrame(
                        {
                            "doc_id": doc_id,
                            "pos": np.arange(h, dtype=np.int64),
                            "q10": quantile_ar_forecast(train, h, 0.1),
                            "q50": quantile_ar_forecast(train, h, 0.5),
                            "q90": quantile_ar_forecast(train, h, 0.9),
                            "q50_adf": quantile_ar_forecast(
                                train, h, 0.5, n_diffs=d
                            ),
                            "n_diffs": np.int64(d),
                        }
                    )
                )
            yield (
                pd.concat(frames, ignore_index=True)[cols]
                if frames
                else pd.DataFrame(columns=cols)
            )

    return map_sequences(seq_df, gen, QF_SCHEMA, max_series_len)
