"""Regression-averaging meta-learners (FQRA / LQRA) over Spark.

Reference semantics: fforma/meta_learner/_regression_averaging.py:9-105
fits one FQRA/QRAL1 model PER SERIES on (base-model predictions vs
actuals) at a validation cutoff, then ensembles the test-cutoff
predictions (BaseModelsTrainer fan-out, fforma/base/trainer.py:77-146).

Spark shape: the whole per-series flow — two train splits, 14 base
forecasts at each cutoff, the PCA/lasso quantile fits, both ensembled
predictions — runs in ONE Arrow-batched mapInPandas pass over the wide
sequences table. Both methods read the same base forecasts, so each
Arrow batch makes one :func:`models.forecast_columns` call (the one
forecast dispatch) over both cutoffs of every doc, and the pass emits
FQRA and LQRA rows tagged by ``method``. FQRA fits per doc; LQRA makes
one :func:`quantile.qral1_fit_stack` call per horizon in the batch,
over the stacked validation-cutoff matrices of that horizon's docs.
No shuffle; the dask process pool collapses into plain data
parallelism, the right 100 TB plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from fforma_spark.functions.models import (
    FORECAST_COLS,
    HORIZON_BY_PREFIX,
    forecast_columns,
)
from fforma_spark.functions.features import SEASONALITY_BY_PREFIX
from fforma_spark.functions.quantile import fqra_fit_predict, qral1_fit_stack

RA_SCHEMA = "method string, doc_id string, pos long, y_hat double"


def _ra_batches(
    it: Iterator[pd.DataFrame],
    tau: float,
    n_components: int,
    lambd: float,
    default_h: int,
) -> Iterator[pd.DataFrame]:
    cols = ["method", "doc_id", "pos", "y_hat"]
    for pdf in it:
        kept: list[tuple[object, np.ndarray, int]] = []
        for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
            h = HORIZON_BY_PREFIX.get(str(doc_id)[:1], default_h)
            y = np.asarray(tokens, dtype=np.float64)
            if len(y) > 2 * h + 1:  # need a validation AND a test split
                kept.append((doc_id, y, h))
        if not kept:
            yield pd.DataFrame(columns=cols)
            continue
        hs = [h for _, _, h in kept]
        ss = [SEASONALITY_BY_PREFIX.get(str(d)[:1], 1) for d, _, _ in kept]
        # rows 0..D-1 train up to the validation cutoff, D..2D-1 up to
        # the test cutoff
        fc = forecast_columns(
            [y[: -2 * h] for _, y, h in kept] + [y[:-h] for _, y, h in kept],
            hs + hs,
            ss + ss,
        )
        offsets = np.concatenate([[0], np.cumsum(hs + hs)])

        def matrix(row: int, h: int) -> np.ndarray:
            """(h, n_models) base-forecast matrix, FORECAST_COLS order."""
            lo = offsets[row]
            return np.column_stack([fc[c][lo : lo + h] for c in FORECAST_COLS])

        # fit the ensembling weights at the validation cutoff t−1 …
        X_val = [matrix(k, h) for k, h in enumerate(hs)]
        y_val = [y[-2 * h : -h] for _, y, h in kept]
        # … and apply them to the test-cutoff forecasts (cutoff t)
        X_test = [matrix(len(kept) + k, h) for k, h in enumerate(hs)]
        fqra = [
            fqra_fit_predict(Xv, yv, Xt, tau, n_components)
            for Xv, yv, Xt in zip(X_val, y_val, X_test)
        ]
        # one LQRA fit per horizon: docs of one h stack into (B, h, K)
        lqra = [None] * len(kept)
        for h in sorted(set(hs)):
            rows = [k for k, hk in enumerate(hs) if hk == h]
            betas = qral1_fit_stack(
                np.stack([X_val[k] for k in rows]),
                np.stack([y_val[k] for k in rows]),
                tau,
                lambd,
            )
            for k, beta in zip(rows, betas):
                lqra[k] = X_test[k] @ beta
        ids = np.repeat(np.asarray([d for d, _, _ in kept], dtype=object), hs)
        pos = np.concatenate([np.arange(h, dtype=np.int64) for h in hs])
        yield pd.DataFrame(
            {
                "method": np.repeat(["fqra", "lqra"], len(ids)),
                "doc_id": np.concatenate([ids, ids]),
                "pos": np.concatenate([pos, pos]),
                "y_hat": np.concatenate(fqra + lqra).astype(np.float64),
            }
        )[cols]


def regression_averaging_forecasts(
    seq_df: DataFrame,
    tau: float = 0.5,
    n_components: int = 2,
    lambd: float = 1.0,
    default_h: int = 8,
    max_series_len: int | None = None,
) -> DataFrame:
    """Per-series FQRA and LQRA ensemble forecasts as one long panel
    (method, doc_id, pos, y_hat), ``method`` in {'fqra', 'lqra'}.

    ``max_series_len`` arms whale protection exactly like
    models.base_forecasts: whale docs enter the PCA/IRLS kernels as
    their trailing window (plans/skew.cap_whales) so no Arrow
    batch/task is dominated by a 200k-token doc; docs ≤ cap are
    bit-identical."""
    from fforma_spark.plans.skew import map_sequences

    gen = lambda it: _ra_batches(  # noqa: E731
        it, tau, n_components, lambd, default_h
    )
    return map_sequences(seq_df, gen, RA_SCHEMA, max_series_len)
