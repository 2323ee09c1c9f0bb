"""Cross-validated hyper-parameter search for the FFORMA meta-learner.

Reference flow (fforma/experiments/cross_validation/common.py:59-117):
StratifiedKFold over series — stratified by the id's first character,
shuffled with a fixed seed — scoring each Optuna trial by the mean
held-out weighted loss; plus the deterministic grid harness
(fforma/experiments/experiment.py:356-393: itertools.product over the
spec dict, seed-1 shuffled). This module carries the exhaustive grid
search; the reference's adaptive flow — TPESampler + MedianPruner —
is implemented from scratch in fforma_spark/functions/hpo.py (no
optuna dependency; the SEARCH SPACE + CV scoring semantics here are
the ported contract, shared by both searchers).

Spark shape: model selection operates on the 1-row-per-series matrix,
collected ONCE through the same budget-capped path as training
(meta_learner.collect_training_matrix) — the heavy lifting (features,
base forecasts, error panels) stays distributed; only the tiny
per-series matrix is CV-looped on the driver, exactly like the
reference.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator

import numpy as np

from fforma_spark.functions.meta_learner import (
    NumpyFFORMA,
    collect_training_matrix,
)


def stratified_kfold(
    classes: np.ndarray, n_splits: int, seed: int = 1
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Seeded stratified K-fold: per class, shuffle then deal indices
    round-robin into folds (StratifiedKFold(shuffle=True) semantics,
    written from scratch). Yields (train_idx, test_idx)."""
    classes = np.asarray(classes)
    rng = np.random.RandomState(seed)
    fold_of = np.empty(len(classes), dtype=np.int64)
    for c in np.unique(classes):
        idx = np.flatnonzero(classes == c)
        rng.shuffle(idx)
        fold_of[idx] = np.arange(len(idx)) % n_splits
    for k in range(n_splits):
        yield np.flatnonzero(fold_of != k), np.flatnonzero(fold_of == k)


def param_grid(spec: dict[str, list]) -> list[dict]:
    """Deterministic grid: itertools.product over the spec values,
    then a seed-1 shuffle — the reference's generate_grid
    (fforma/experiments/experiment.py:383-391)."""
    keys = list(spec.keys())
    combos = [dict(zip(keys, vals)) for vals in itertools.product(*spec.values())]
    rng = np.random.RandomState(1)
    order = np.arange(len(combos))
    rng.shuffle(order)
    return [combos[i] for i in order]


def _cv_loss(
    X: np.ndarray,
    err: np.ndarray,
    classes: np.ndarray,
    params: dict,
    n_splits: int,
    seed: int,
) -> float:
    """Mean held-out FFORMA weighted loss over the folds — the
    reference's _objective (common.py:59-97) with evaluate_panel
    replaced by the weighted-loss it ultimately reduces to on the
    per-series error matrix."""
    losses = []
    for train_idx, test_idx in stratified_kfold(classes, n_splits, seed):
        # a class with fewer members than n_splits leaves some folds
        # with an empty test set — mean([]) would be NaN and poison
        # the whole trial, so skip those folds
        if len(test_idx) == 0 or len(train_idx) == 0:
            continue
        model = NumpyFFORMA(**params).fit(X[train_idx], err[train_idx])
        w = model.predict_weights(X[test_idx])
        losses.append(float((w * err[test_idx]).sum(axis=1).mean()))
    if not losses:
        raise ValueError(
            f"no usable CV folds: {len(X)} rows cannot fill "
            f"{n_splits} stratified splits"
        )
    return float(np.mean(losses))


def cross_validate_fforma(
    features_df,
    errors_df,
    loss_cols: list[str],
    benchmark: str,
    spec: dict[str, list] | None = None,
    n_splits: int = 3,
    seed: int = 1,
    max_trials: int | None = None,
    train_row_budget: int | None = 2_000_000,
):
    """Grid-search CV for NumpyFFORMA over Spark-resident inputs.

    Returns (best_params, best_loss, trials, model, kept, feature_cols)
    where ``model`` is refit on ALL rows with the winning params
    (reference: study.best_trial → final _fit_meta_learner,
    common.py:99-117) and ``trials`` is [(params, cv_loss), ...].
    """
    if spec is None:
        # the reference's XGBoost search dimensions (eta / depth /
        # rounds), translated to the from-scratch GBT's knobs
        spec = {
            "learning_rate": [0.05, 0.1, 0.3],
            "max_depth": [3, 4],
            "n_rounds": [20, 50],
        }
    X, err, kept, feature_cols, doc_ids = collect_training_matrix(
        features_df,
        errors_df,
        loss_cols,
        benchmark,
        None,
        train_row_budget,
        seed,
    )
    classes = np.array([str(d)[:1] for d in doc_ids])
    trials = []
    grid = param_grid(spec)
    if max_trials is not None:
        grid = grid[:max_trials]
    best_params, best_loss = None, np.inf
    for params in grid:
        loss = _cv_loss(X, err, classes, params, n_splits, seed)
        trials.append((params, loss))
        if np.isfinite(loss) and loss < best_loss:
            best_params, best_loss = params, loss
    if best_params is None:
        raise ValueError(
            f"no trial produced a finite CV loss over {len(grid)} "
            "grid points (empty grid or degenerate losses)"
        )
    model = NumpyFFORMA(**best_params).fit(X, err)
    return best_params, best_loss, trials, model, kept, feature_cols
