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
from fforma_spark.functions.quantile import fqra_fit_predict, qral1_fit_stack
from fforma_spark.functions.regression_averaging import _ra_batches

from tests.conftest import SF_DIR
from tests.lqra_oracle import qral1_fit

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


def _stack(rng, h: int, b: int) -> tuple[np.ndarray, np.ndarray]:
    """b series of horizon h: (b, h, K) forecasts on per-series scales,
    actuals near their mean; series 0 is constant."""
    X = rng.random((b, h, len(FORECAST_COLS))) * rng.integers(1, 60, (b, 1, 1))
    Y = X.mean(axis=2) + rng.normal(0.0, 1.0, (b, h))
    Y[0] = 7.0
    return X, Y


def _bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=np.float64).view(np.int64)


def test_lqra_stack_matches_per_series_oracle_bit_for_bit():
    """The batched LQRA kernel equals the one-series loop row for row,
    bit for bit, at every prefix horizon, with no penalty, the query's
    penalty and a penalty that pins β to equal weights."""
    rng = np.random.default_rng(5)
    stacks = [_stack(rng, h, 3) for h in sorted(set(HORIZON_BY_PREFIX.values()))]
    # a stack where numpy's array sqrt and pow(·, 0.5) round one row's
    # √(‖X‖₂² + 1e-12) differently, so the step size's power is pinned
    X, Y = _stack(np.random.default_rng(124), 8, 3)
    lips = [np.linalg.norm(x, 2) ** 2 + 1e-12 for x in X]
    assert any(float(v) ** 0.5 != np.sqrt(v) for v in lips)
    stacks.append((X, Y))
    for X, Y in stacks:
        h = X.shape[1]
        for lambd in (0.0, LAMBD, 1e9):
            got = qral1_fit_stack(X, Y, TAU, lambd)
            want = np.stack(
                [qral1_fit(x, y, TAU, lambd) for x, y in zip(X, Y)]
            )
            assert np.array_equal(_bits(got), _bits(want)), (h, lambd)


def test_lqra_stack_is_batch_invariant():
    """A row's weights do not depend on the rest of its stack: one row
    at a time, the whole stack and the stack in two halves agree bit
    for bit."""
    rng = np.random.default_rng(9)
    for h in (6, 8, 48):
        X, Y = _stack(rng, h, 5)
        full = qral1_fit_stack(X, Y, TAU, LAMBD)
        one = np.concatenate(
            [qral1_fit_stack(X[i : i + 1], Y[i : i + 1], TAU, LAMBD)
             for i in range(len(X))]
        )
        halves = np.concatenate(
            [qral1_fit_stack(X[:2], Y[:2], TAU, LAMBD),
             qral1_fit_stack(X[2:], Y[2:], TAU, LAMBD)]
        )
        assert np.array_equal(_bits(full), _bits(one)), h
        assert np.array_equal(_bits(full), _bits(halves)), h


def test_one_pass_matches_recipe_across_prefix_horizons():
    """One Arrow batch holding docs of every prefix (horizons 6, 8, 13,
    14, 18, 48 and the default) makes one LQRA stack per horizon; its
    rows still equal the per-doc recipe bit for bit."""
    rng = np.random.default_rng(13)
    docs = {}
    for prefix in "HDWMQYS1":
        h = HORIZON_BY_PREFIX.get(prefix, DEFAULT_H)
        s = SEASONALITY_BY_PREFIX.get(prefix, 1)
        for i, n in enumerate((2 * s + 2 * h + 5, 3 * s + 2 * h + 11)):
            docs[f"{prefix}{i}"] = rng.integers(1, 12, n)
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "tokens": [np.asarray(t, np.int32) for t in docs.values()],
        }
    )
    (got,) = _ra_batches(iter([pdf]), TAU, N_COMPONENTS, LAMBD, DEFAULT_H)
    want = _recipe(pdf)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert np.array_equal(_bits(got["y_hat"]), _bits(want["y_hat"]))
