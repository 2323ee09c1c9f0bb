"""Test oracle for LQRA: the per-series proximal subgradient loop that
`quantile.qral1_fit` replaced with one loop over a (B, h, K) stack of
series. Kept verbatim in behaviour so the batched kernel can be pinned
bit-for-bit against it."""

from __future__ import annotations

import numpy as np

from fforma_spark.functions.quantile import quantile_regression


def qral1_fit(
    X: np.ndarray,
    y: np.ndarray,
    tau: float,
    lambd: float,
    n_iter: int = 4000,
) -> np.ndarray:
    """Lasso Quantile Regression Averaging weights of ONE series
    (fforma/base/_models.py:500-554): minimize
    Σ pinball_τ(y − Xβ) + λ·mean(y)·‖β − w̄‖₁ with w̄ the equal-weight
    vector — proximal subgradient descent. Returns beta."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, k = X.shape
    w_avg = np.ones(k) / k
    pen = float(lambd) * float(y.mean())
    beta = quantile_regression(X, y, tau)
    best_beta, best_obj = beta.copy(), np.inf

    def objective(b):
        r = y - X @ b
        pin = np.where(r >= 0, tau * r, (tau - 1) * r).sum()
        return pin + pen * np.abs(b - w_avg).sum()

    for cand in (beta, w_avg):
        o = objective(cand)
        if o < best_obj:
            best_obj, best_beta = o, cand.copy()
    lip = np.linalg.norm(X, 2) ** 2 + 1e-12
    for t in range(1, n_iter + 1):
        r = y - X @ beta
        psi = np.where(r > 0, tau, np.where(r < 0, tau - 1.0, 0.0))
        grad = -X.T @ psi  # subgradient of the pinball sum
        eta = 1.0 / (lip ** 0.5 * t ** 0.5 + 1e-12)
        z = beta - eta * grad
        # prox of η·pen·‖·−w̄‖₁  (soft threshold around w̄)
        d = z - w_avg
        beta = w_avg + np.sign(d) * np.maximum(np.abs(d) - eta * pen, 0.0)
        obj = objective(beta)
        if obj < best_obj:
            best_obj, best_beta = obj, beta.copy()
    return best_beta
