"""Regression averaging (FQRA / LQRA) in one pass over shared base
forecasts: the batched pass must reproduce the per-doc recipe exactly
(scalar forecast_series matrices at both cutoffs → fqra_fit_predict /
qral1_fit), and the declared query must plan a single Python stage."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fforma_spark.functions.features import SEASONALITY_BY_PREFIX
from fforma_spark.functions.models import (
    FORECAST_COLS,
    HORIZON_BY_PREFIX,
    forecast_series,
)
from fforma_spark.functions.quantile import fqra_fit_predict, qral1_fit
from fforma_spark.functions.regression_averaging import _ra_batches

from tests.conftest import SF_DIR

TAU, N_COMPONENTS, LAMBD, DEFAULT_H = 0.5, 2, 1.0, 8


def _recipe(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per doc: both cutoffs' (h, n_models) matrices from the scalar
    oracle, then the FQRA and LQRA fits — FQRA rows of every doc, then
    LQRA rows, docs in batch order."""

    def matrix(train, h, s):
        fc = forecast_series(train, h, s)
        return np.column_stack([fc[c] for c in FORECAST_COLS])

    rows = {"fqra": [], "lqra": []}
    for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
        s = SEASONALITY_BY_PREFIX.get(doc_id[:1], 1)
        h = HORIZON_BY_PREFIX.get(doc_id[:1], DEFAULT_H)
        y = np.asarray(tokens, dtype=np.float64)
        if len(y) <= 2 * h + 1:
            continue
        X_val, y_val = matrix(y[: -2 * h], h, s), y[-2 * h : -h]
        X_test = matrix(y[:-h], h, s)
        preds = {
            "fqra": fqra_fit_predict(X_val, y_val, X_test, TAU, N_COMPONENTS),
            "lqra": X_test @ qral1_fit(X_val, y_val, TAU, LAMBD),
        }
        for method, y_hat in preds.items():
            rows[method] += [
                (method, doc_id, p, float(v)) for p, v in enumerate(y_hat)
            ]
    return pd.DataFrame(
        rows["fqra"] + rows["lqra"], columns=["method", "doc_id", "pos", "y_hat"]
    )


def test_one_pass_matches_per_doc_recipe_bit_for_bit():
    rng = np.random.default_rng(21)
    docs = {
        # several lengths (and two of one length) at seasonality 1
        "10": rng.integers(1, 15, 18),  # shortest kept: 2h + 2
        "11": rng.integers(1, 15, 40),
        "12": rng.integers(1, 15, 40),
        "13": rng.integers(1, 15, 97),
        # seasonal prefix: s = 4, h = 8
        "Q1": np.rint(6 + 4 * np.sin(np.arange(60) * np.pi / 2)
                      + rng.integers(1, 5, 60)),
        "Q2": rng.integers(1, 9, 35),
        # zeros in both train splits: scalar fallback at both cutoffs
        "14": rng.integers(0, 4, 50),
        "Q4": rng.integers(0, 4, 44),
        # a zero only after the validation cutoff: batched at t−1,
        # scalar fallback at t
        "15": np.concatenate(
            [rng.integers(1, 9, 30), [0], rng.integers(1, 9, 15)]
        ),
        # too short to split into validation and test (len <= 2h + 1)
        "16": rng.integers(1, 9, 17),
        "Q3": rng.integers(1, 9, 5),
    }
    docs["14"][[3, 40]] = docs["Q4"][[3, 30]] = 0
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "tokens": [np.asarray(t, np.int32) for t in docs.values()],
        }
    )
    got, only_short = _ra_batches(
        iter([pdf, pdf[pdf["doc_id"].isin(["16", "Q3"])]]),
        TAU, N_COMPONENTS, LAMBD, DEFAULT_H,
    )
    want = _recipe(pdf)
    for frame in (got, only_short):
        assert list(frame.columns) == ["method", "doc_id", "pos", "y_hat"]
    assert only_short.shape[0] == 0
    assert {"16", "Q3"}.isdisjoint(got["doc_id"])
    assert got["method"].tolist() == want["method"].tolist()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert np.array_equal(got["pos"].to_numpy(), want["pos"].to_numpy())
    a, b = got["y_hat"].to_numpy(), want["y_hat"].to_numpy()
    assert np.array_equal(a.view(np.int64), b.view(np.int64))


def test_qra_query_plans_one_python_stage(spark):
    """FQRA and LQRA share one mapInPandas pass (no union of two)."""
    from fforma_spark.queries import QUERIES

    df = QUERIES["qra_ensembles_documents"](spark, SF_DIR)
    assert df.columns == ["method", "doc_id", "pos", "y_hat"]
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
