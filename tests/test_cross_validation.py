"""CV/grid harness: stratified fold semantics + grid determinism +
end-to-end model selection on Spark inputs."""

from __future__ import annotations

import numpy as np

from fforma_spark.functions.cross_validation import (
    cross_validate_fforma,
    param_grid,
    stratified_kfold,
)


def test_stratified_kfold_properties():
    classes = np.array(list("MMMMMMQQQQQQYYYY"))
    folds = list(stratified_kfold(classes, 4, seed=3))
    assert len(folds) == 4
    seen_test = np.concatenate([t for _, t in folds])
    # partition: every index in exactly one test fold
    assert sorted(seen_test.tolist()) == list(range(len(classes)))
    for train, test in folds:
        assert set(train) | set(test) == set(range(len(classes)))
        assert not set(train) & set(test)
        # stratification: each fold's test set touches every class
        # that has >= n_splits members
        assert {"M", "Q", "Y"} == set(classes[test])
    # seeded determinism
    again = list(stratified_kfold(classes, 4, seed=3))
    for (a, b), (c, d) in zip(folds, again):
        assert np.array_equal(a, c) and np.array_equal(b, d)


def test_param_grid_full_product_and_deterministic():
    spec = {"a": [1, 2], "b": ["x", "y", "z"]}
    g1 = param_grid(spec)
    g2 = param_grid(spec)
    assert g1 == g2
    assert len(g1) == 6
    assert {frozenset(d.items()) for d in g1} == {
        frozenset({"a": a, "b": b}.items()) for a in (1, 2) for b in "xyz"
    }


def test_cv_selects_sane_params_and_beats_uniform(spark):
    from pyspark.sql import functions as F

    from fforma_spark.functions.features import features_wide
    from fforma_spark.functions.metrics import evaluate_with_owa, mase_scale
    from fforma_spark.functions.models import (
        FORECAST_COLS,
        base_forecasts,
        holdout_truth,
        train_split,
    )
    from fforma_spark.operators.reshape import explode_panel
    from fforma_spark.sources.tables import sequences_from_documents

    seq = sequences_from_documents(spark, "/root/testdata/sf0.001")
    fc = base_forecasts(seq, default_h=8)
    truth = holdout_truth(seq, default_h=8)
    train_panel = explode_panel(train_split(seq, default_h=8)).select(
        "doc_id", "pos", "val"
    )
    ev = evaluate_with_owa(
        truth, fc, FORECAST_COLS, mase_scale(train_panel, F.lit(1))
    )
    owa_cols = [c for c in ev.columns if c.endswith("_owa")]
    feats = features_wide(seq)
    best, best_loss, trials, model, kept, fcols = cross_validate_fforma(
        feats,
        ev.select("doc_id", *owa_cols).na.fill(0.0),
        owa_cols,
        benchmark="naive2_owa",
        spec={"learning_rate": [0.1, 0.3], "max_depth": [3], "n_rounds": [10]},
        n_splits=3,
        max_trials=2,
    )
    assert len(trials) == 2
    assert best in [t[0] for t in trials]
    assert best_loss == min(t[1] for t in trials)
    assert np.isfinite(best_loss)
    assert model.loss_curve_[-1] <= model.loss_curve_[0] + 1e-9


def test_cv_skips_empty_folds_and_raises_clearly():
    """Folds with empty test sets (classes smaller than n_splits) are
    skipped instead of poisoning the trial with NaN; an impossible
    split raises a clear error instead of TypeError(**None)."""
    import numpy as np
    import pytest

    from fforma_spark.functions.cross_validation import _cv_loss

    rng = np.random.default_rng(0)
    X = rng.normal(size=(3, 3))
    err = np.abs(rng.normal(size=(3, 2)))
    # class B has 1 member < n_splits=3 → fold 2's test set is empty
    classes = np.array(["A", "A", "B"])
    params = {"n_rounds": 2, "max_depth": 2, "learning_rate": 0.3}
    loss = _cv_loss(X, err, classes, params, n_splits=3, seed=1)
    assert np.isfinite(loss)
    with pytest.raises(ValueError, match="no usable CV folds"):
        _cv_loss(X[:0], err[:0], classes[:0], params, n_splits=3, seed=1)
