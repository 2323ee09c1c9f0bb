"""Bit-for-bit parity of NumpyFFORMA's presorted, array-wide tree fit
against the recursive per-node-argsort oracle it replaced
(tests/meta_learner_oracle.py): raw scores, weights and the loss curve
must be np.array_equal, not merely close."""

from __future__ import annotations

import numpy as np
import pytest

from fforma_spark.functions.meta_learner import NumpyFFORMA
from meta_learner_oracle import RecursiveFFORMA
from test_meta_learner import _synth_problem


def _bench_shape(seed, n=120, d=45, k=10):
    """The benchmark's training shape with the awkward cases a feature
    matrix carries: constant columns, heavy ties, all-zero rows and
    errors spanning orders of magnitude. Some errors are negative so
    that hessians go negative too (with errors >= 0 they cannot) and the
    min_child_weight gates get exercised."""
    rng = np.random.RandomState(seed)
    X = rng.randn(n, d)
    X[:, 0] = 0.0
    X[:, 1] = 3.5
    X[:, 2:12] = np.round(X[:, 2:12])  # a handful of distinct values
    X[:, 12:14] = rng.randint(0, 2, (n, 1))  # binary
    X[(rng.rand(n) < 0.05) | (np.arange(n) == 0)] = 0.0  # all-zero rows
    err = rng.rand(n, k) * rng.choice([0.01, 1.0, 50.0], size=(n, 1))
    err[rng.rand(n) < 0.1] = 1.0  # rows where every model ties
    err[rng.rand(n) < 0.3] -= 0.5
    return X, err


def _assert_same(X, err, X_new=None, **params):
    new = NumpyFFORMA(**params).fit(X, err)
    old = RecursiveFFORMA(**params).fit(X, err)
    assert new.loss_curve_ == old.loss_curve_
    for Xp in (X, X if X_new is None else X_new):
        assert np.array_equal(new.raw_scores(Xp), old.raw_scores(Xp))
        assert np.array_equal(new.predict_weights(Xp), old.predict_weights(Xp))
    return new, old


def test_benchmark_shape_bit_identical():
    X, err = _bench_shape(0)
    rng = np.random.RandomState(1)
    # unseen rows, plus rows sitting exactly on training values
    X_new = np.vstack([rng.randn(40, X.shape[1]), X[::7] + 0.0])
    model, oracle = _assert_same(X, err, X_new, n_rounds=30, max_depth=3)
    # the case is not degenerate: trees split, hessians went negative
    assert any(t.feature[0] >= 0 for r in model.trees_ for t in r)
    _, hess, _ = model._grad_hess(err, np.zeros(err.shape))
    assert (hess < 0).any()
    # rows sitting exactly on split thresholds take the same branch
    X_thr = X[:30].copy()
    for i, t in enumerate(t for r in model.trees_ for t in r):
        inner = np.flatnonzero(t.feature >= 0)
        if len(inner):
            node = inner[i % len(inner)]
            X_thr[i % 30, t.feature[node]] = t.threshold[node]
    assert np.array_equal(model.raw_scores(X_thr), oracle.raw_scores(X_thr))


@pytest.mark.parametrize("seed", [2, 3, 4])
def test_benchmark_shape_more_seeds(seed):
    X, err = _bench_shape(seed)
    _assert_same(X, err, n_rounds=8, max_depth=4, learning_rate=0.3)


@pytest.mark.parametrize("n", [1, 2, 3])
def test_tiny_inputs(n):
    X, err = _bench_shape(5, n=n, d=4, k=3)
    _assert_same(X, err, np.random.RandomState(6).randn(7, 4), n_rounds=6)


@pytest.mark.parametrize("max_depth", [1, 2, 3, 4, 5])
def test_every_depth(max_depth):
    X, err = _bench_shape(7, n=80, d=12, k=4)
    _assert_same(X, err, n_rounds=6, max_depth=max_depth)


@pytest.mark.parametrize(
    "n,seed,params",
    [
        (300, 0, dict(n_rounds=25, max_depth=3)),
        (300, 3, dict(n_rounds=30, max_depth=3)),
        (400, 7, dict(n_rounds=10, max_depth=3)),
    ],
)
def test_synth_problems(n, seed, params):
    X, err, _ = _synth_problem(n=n, seed=seed)
    _assert_same(X, err, _synth_problem(n=50, seed=seed + 100)[0], **params)


def test_non_finite_features():
    """NaN and ±inf feature values sort and split the same way."""
    X, err = _bench_shape(8, n=60, d=6, k=3)
    X[::5, 0] = np.nan
    X[1::6, 1] = np.inf
    X[2::7, 1] = -np.inf
    _assert_same(X, err, n_rounds=6, max_depth=3)


@pytest.mark.filterwarnings("ignore:invalid value:RuntimeWarning")  # oracle
def test_nan_gain_disqualifies_only_its_feature():
    """With reg_lambda = min_child_weight = 0, rows whose errors are all
    zero have g = h = 0, so a split right after them has a 0/0 = NaN
    gain. The per-feature loop skipped each feature holding a NaN and
    still split on the others; so must the array-wide search."""
    X, err = _bench_shape(9, n=60, d=6, k=3)
    err = np.abs(err)
    err[:8] = 0.0
    X[:8, 0] = -10.0  # feature 0 sorts the zero-error rows first
    _assert_same(X, err, n_rounds=4, max_depth=2, reg_lambda=0.0,
                 min_child_weight=0.0)


def test_collect_orders_rows_like_spark_orderby(spark):
    """collect_training_matrix sorts the collected rows on the driver;
    the order must be Spark's orderBy("doc_id") (UTF-8 byte order), or
    the fit would see its rows permuted."""
    import pandas as pd

    from fforma_spark.functions.meta_learner import collect_training_matrix

    ids = ["b10", "B2", "a", "é1", "Z", "10", "9", "a0", "ä", "zz", "Ω", "_"]
    rng = np.random.RandomState(10)
    feats = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "f0": rng.rand(len(ids)),
                      "f1": rng.rand(len(ids))})
    )
    loss_cols = ["m1_owa", "m2_owa", "naive2_owa"]
    errs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids[::-1],
                      **{c: rng.rand(len(ids)) for c in loss_cols}})
    )
    X, _, _, fcols, doc_ids = collect_training_matrix(
        feats, errs, loss_cols, "naive2_owa"
    )
    want = feats.join(errs, "doc_id").orderBy("doc_id").toPandas()
    assert list(doc_ids) == want["doc_id"].tolist()
    assert np.array_equal(X, want[fcols].to_numpy())
